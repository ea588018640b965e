package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.query.{InfluxQL, PromQL}
import graft.server.HttpGateway

/** The size gate itself: below [[ExecProfile.smallInputBytes]] a query
  * runs on the single-job small profile session; at/above it on the scale
  * profile session (AQE, planner broadcasts, 128 MB splits). The gate is
  * what keeps the bench honest AND the ×10/×100 dirs on the real
  * configuration — worth pinning directly, not only via plan shapes. The
  * profiles are sessions of their own, so nothing here may change the
  * root session's conf. */
class ExecProfileSpec extends SparkSpec {

  /** A >=1 GiB dir from one sparse file, without writing a gigabyte. */
  private lazy val bigDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("execprofile").toFile
    dir.deleteOnExit()
    val big = new java.io.RandomAccessFile(
      new java.io.File(dir, "big.parquet"), "rw")
    try big.setLength(ExecProfile.smallInputBytes)
    finally big.close()
    dir.getAbsolutePath
  }
  private def small = ExecProfile.session(spark, ExecProfile.dirBytes(sf))
  private def scale = ExecProfile.session(spark, ExecProfile.dirBytes(bigDir))
  private def rootConf = spark.conf.getAll

  test("small input -> single-job profile; >=1GiB -> scale profile") {
    val before = rootConf
    val s = small // sf0.001: a few hundred KB
    assert(s ne spark)
    assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(s.conf.get("spark.sql.shuffle.partitions") ==
      ExecProfile.smallShufflePartitions.toString)
    assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") == "4m")
    // maybeBroadcast follows the frame's profile: no hint on the small path
    val noHint = ExecProfile.maybeBroadcast(s.range(3).toDF())
    assert(!noHint.queryExecution.logical.toString.contains("broadcast"))

    val b = scale
    assert(b.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(b.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
    assert(b.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760")
    assert(b.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    assert(b.conf.get("spark.sql.files.maxPartitionBytes") == "128m")
    val hinted = ExecProfile.maybeBroadcast(b.range(3).toDF())
    assert(hinted.queryExecution.logical.toString.contains("broadcast"))

    // an ad-hoc statement over a small input runs without generated code;
    // one inside a prepared query keeps the query's profile
    val i = ExecProfile.statementSession(Seq(spark.range(3).toDF())).get
    assert(s.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(ExecProfile.statementSession(Seq(s.range(3).toDF())).get eq s)
    assert(ExecProfile.isSmall(i))
    // only the small profile is the prepared-query one
    assert(ExecProfile.isPrepared(s) && !ExecProfile.isPrepared(i) &&
      !ExecProfile.isPrepared(b) && !ExecProfile.isPrepared(spark))
    assert(i.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(ExecProfile.statementSession(Seq(spark.createDataFrame(
      spark.range(3).toDF().rdd, spark.range(3).toDF().schema))).get eq b)

    // long-lived: one set per root, reached from any profile session too
    assert(small eq s)
    assert(ExecProfile.session(s, ExecProfile.smallInputBytes) eq b)
    assert(ExecProfile.session(b, 0L) eq s)
    assert(rootConf == before)
  }

  test("boundedSort: identical rows and total order on both profiles; " +
      "single-task sort only under the small profile") {
    def run(s: SparkSession) = ExecProfile.boundedSort(
      s.range(0, 997).toDF("id")
        .withColumn("k", pmod(col("id") * 7919, lit(101)))
        .select(col("k"), col("id")), col("k"), col("id"))
    assert(ExecProfile.isSmall(small) && !ExecProfile.isSmall(scale))
    val smallDf = run(small)
    assert(smallDf.queryExecution.optimizedPlan.toString
      .contains("Repartition")) // single-task shape
    val scaleDf = run(scale)
    assert(!scaleDf.queryExecution.optimizedPlan.toString
      .contains("Repartition")) // plain global sort
    assert(scaleDf.collect().toSeq == smallDf.collect().toSeq)
  }

  test("a small-profile and a scale-profile query run concurrently on one " +
      "context, each with its own plan shape") {
    val before = rootConf
    def query(s: SparkSession): DataFrame =
      s.range(0, 20000).toDF("id")
        .groupBy(pmod(col("id"), lit(37)).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
        .orderBy(col("k"))
    val expected = query(spark).collect().toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(small -> false, scale -> true).flatMap { case (s, aqe) =>
        (1 to 4).map(_ => pool.submit(() => {
          val df = query(s)
          val rows = df.collect().toSeq
          (aqe, df.queryExecution.executedPlan
            .isInstanceOf[AdaptiveSparkPlanExec], rows)
        }))
      }
      runs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).foreach {
        case (aqe, adaptive, rows) =>
          assert(adaptive == aqe)
          assert(rows == expected)
      }
    } finally pool.shutdown()
    assert(rootConf == before)
  }

  test("takeAll collects a multi-partition frame in one job") {
    val before = rootConf
    val df = small.range(0, 1000, 1, 8).toDF("id")
    val jobs = jobsDuring(spark) {
      spark.sparkContext.setJobGroup("takeall-probe", "takeAll")
      try assert(ExecProfile.takeAll(df, 2000).length == 1000)
      finally spark.sparkContext.clearJobGroup()
    }
    assert(jobs.count(_._1 == "takeall-probe") == 1, jobs)
    // the first n of an ordered frame, as limit(n) keeps them
    assert(ExecProfile.takeAll(df.orderBy(col("id").desc), 3).toSeq
      .map(_.getLong(0)) == Seq(999L, 998L, 997L))
    assert(rootConf == before)
  }

  test("a root conf set after the first statement reaches the next one; " +
      "the profile's own keys still win") {
    val cat = Map("events" -> InfluxQL.Measurement(
      Tables.table(spark, sf, "events"), tags = Seq("event_type")))
    def session(): SparkSession = InfluxQL.execute(cat,
      "SELECT count(value) FROM events GROUP BY event_type").sparkSession
    val first = session()
    assert(session() eq first) // an unchanged root keeps its profiles
    val key = "spark.sql.caseSensitive"
    assert(!first.conf.get(key).toBoolean)
    spark.conf.set(key, "true")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val next = session()
      assert(next ne first)
      assert(next.conf.get(key) == "true")
      assert(next.conf.get("spark.sql.codegen.wholeStage") == "false")
      assert(next.conf.get("spark.sql.shuffle.partitions") == "1")
      assert(!first.conf.get(key).toBoolean) // built sessions never change
    } finally {
      spark.conf.unset(key)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(!session().conf.get(key).toBoolean)
  }

  test("the IncAgg state write changes no profile session's conf") {
    val state = java.nio.file.Files.createTempDirectory("graft_incprof")
      .toString + "/state"
    val ev = org.apache.spark.sql.SessionShim.rebind(
      Tables.table(spark, sf, "events"), small)
    val before = small.conf.getAll
    val out = operators.IncAgg.run(ev, "ts", "1 day", Seq("event_type"),
      "value", state)
    assert(out.count() > 0)
    assert(small.conf.getAll == before)
    // still written as TIMESTAMP_MICROS: INT96 has no footer extent
    assert(graft.sources.ParquetStats
      .timeExtentMsOf(spark.read.parquet(state), "wstart").isDefined)
  }

  test("profiles do not keep a dropped root alive") {
    var root = spark.newSession()
    ExecProfile.session(root, 0L).range(3).count()
    val ref = new java.lang.ref.WeakReference(root)
    root = null
    val deadline = System.nanoTime() + 20000000000L
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(50)
    }
    assert(ref.get == null)
  }

  /** Entries in the shared CacheManager. */
  private def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  test("fill statements leave no cache entry behind on either profile") {
    val ev = Tables.table(spark, sf, "events")
    val cat = Map("events" -> InfluxQL.Measurement(ev,
      tags = Seq("event_type")))
    // an RDD-backed frame has no size estimate, so it plans at scale
    val scaled = spark.createDataFrame(ev.rdd, ev.schema)
    assert(ExecProfile.planBytes(scaled) >= ExecProfile.smallInputBytes)
    val scaleCat = Map("events" -> InfluxQL.Measurement(scaled,
      tags = Seq("event_type")))
    val n0 = cacheEntries
    (1 to 20).foreach { i =>
      val q = s"SELECT mean(value) FROM events GROUP BY time(${i}h), " +
        "event_type fill(0)"
      InfluxQL.execute(cat, q).collect()
    }
    assert(cacheEntries == n0)
    def statement(q: String) = {
      val df = InfluxQL.execute(scaleCat, q)
      assert(!ExecProfile.isSmall(df.sparkSession))
      df
    }
    (1 to 3).foreach { i =>
      statement(
        s"SELECT count(value) FROM events GROUP BY time(${i}d) fill(null)")
        .collect()
      assert(cacheEntries == n0)
    }
    // two identical statements at once
    val q = "SELECT sum(value) FROM events GROUP BY time(2d), event_type " +
      "fill(0)"
    val a = statement(q)
    val b = statement(q)
    val rowsA = a.collect().toSeq
    assert(cacheEntries == n0)
    assert(b.collect().toSeq == rowsA)
    assert(cacheEntries == n0)
  }

  test("a root with AQE off is not taken for the small profile") {
    val root = spark.newSession()
    root.conf.set("spark.sql.adaptive.enabled", "false")
    root.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(!ExecProfile.isSmall(root))
    val df = root.range(0, 997).toDF("id")
    assert(!ExecProfile.boundedSort(df, col("id")).queryExecution
      .optimizedPlan.toString.contains("Repartition"))
    assert(ExecProfile.maybeBroadcast(df).queryExecution.logical.toString
      .contains("broadcast"))
    // its profile sessions are looked up, not guessed
    val s = ExecProfile.session(root, 0L)
    assert(ExecProfile.isSmall(s))
    assert(!ExecProfile.isSmall(ExecProfile.session(root,
      ExecProfile.smallInputBytes)))
    assert(ExecProfile.isSmall(
      ExecProfile.statementSession(Seq(root.range(3).toDF())).get))
  }

  /** (job group, job id) of the jobs `body` started on `s`'s context,
    * read after a marker job has passed through the listener bus behind
    * them. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Seq[(String, Int)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("") -> j.jobId)
    }
    val sc = s.sparkContext
    sc.addSparkListener(l)
    try {
      body
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobGroup(marker, marker)
      try s.range(1).count() finally sc.clearJobGroup()
      import scala.jdk.CollectionConverters._
      // the status store listens on its own queue: wait for both
      def arrived = seen.asScala.exists(_._1 == marker) &&
        sc.statusTracker.getJobIdsForGroup(marker).nonEmpty
      val deadline = System.nanoTime() + 30000000000L
      while (!arrived && System.nanoTime() < deadline) Thread.sleep(10)
      assert(arrived)
      seen.asScala.toSeq.filterNot(_._1 == marker)
    } finally sc.removeSparkListener(l)
  }

  test("gateway: a GROUP BY time, tag /query and a query_range each " +
      "schedule exactly one job under their job group") {
    val ev = Tables.table(spark, sf, "events")
    val gw = new HttpGateway(spark,
      Map("events" -> InfluxQL.Measurement(ev, tags = Seq("event_type"))),
      Map("events" -> PromQL.Metric(ev, labels = Seq("event_type"),
        time = "ts", value = "value", tie = Seq("event_id"))))
    gw.start()
    try {
      val http = HttpClient.newHttpClient()
      def get(path: String): String = {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${gw.boundPort}$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
        r.body()
      }
      def enc(s: String) = URLEncoder.encode(s, UTF_8)
      val b = ev.agg(min(unix_seconds(col("ts"))),
        max(unix_seconds(col("ts")))).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      def iso(sec: Long) = java.time.Instant.ofEpochSecond(sec).toString
      val influx = s"SELECT mean(value) FROM events WHERE time >= " +
        s"'${iso(lo)}' AND time <= '${iso(hi)}' GROUP BY time(1h), event_type"
      val prom = s"/api/v1/query_range?query=${enc("sum by (event_type) (events)")}" +
        s"&start=$lo&end=$hi&step=3600s"
      Seq(s"/query?q=${enc(influx)}&epoch=ms", prom).foreach { path =>
        var reply = ""
        val jobs = jobsDuring(spark) { reply = get(path) }
          .filter(_._1.startsWith("query-"))
        assert(reply.contains("\"values\""), reply.take(300))
        assert(jobs.size == 1, s"$path: $jobs")
        // earlier gateways on this context may have used the same group
        // name: count only the jobs from this request on
        val (group, id) = jobs.head
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group)
          .filter(_ >= id).toSeq == Seq(id))
      }
    } finally gw.stop()
  }
}
