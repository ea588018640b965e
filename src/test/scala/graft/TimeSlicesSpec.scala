package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit.MICROS

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.{DataFrame, SessionShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.TimeSlicesExec
import graft.query.{InfluxQL, PromQL}
import graft.server.HttpGateway

/** Time-sliced hot tier (`plans.TimeSlices`): a windowed read over the
  * resident, time-clustered `events` schedules only the cached partitions
  * its window overlaps, and returns what the tier-off parquet scan of the
  * same file returns. sf0.01's `events` fills 4 cached partitions. */
class TimeSlicesSpec extends SparkSpec {

  private lazy val src = s"$sf01/events.parquet"

  private def copied(): String = {
    val base = Files.createTempDirectory("graft_slices").toString
    Files.copy(Paths.get(src), Paths.get(s"$base/events.parquet"))
    base
  }

  private def hotSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    s
  }

  private lazy val base = copied()
  private lazy val hot = hotSession()
  private lazy val resident = Tables.table(hot, base, "events")
  // the suite session keeps the tier off: the same file as a parquet scan
  private lazy val oracle = Tables.table(spark, base, "events")

  /** `[min, max]` µs of each cached partition of a resident frame. */
  private def spansOf(df: DataFrame): Seq[(Long, Long)] =
    df.select(unix_micros(col("ts"))).rdd.mapPartitions { it =>
      val ts = it.map(_.getLong(0)).toSeq
      Iterator((ts.min, ts.max))
    }.collect().toSeq

  private lazy val spans = spansOf(resident)

  private def iso(us: Long): String = Instant.EPOCH.plus(us, MICROS).toString

  private def influx(ev: DataFrame, q: String): DataFrame =
    InfluxQL.execute(Map("events" -> InfluxQL.Measurement(ev,
      tags = Seq("event_type"))), q)

  private def metric(ev: DataFrame): Map[String, PromQL.Metric] =
    Map("events" -> PromQL.Metric(ev, labels = Seq("event_type"),
      time = "ts", value = "value", tie = Seq("event_id")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Fails with the first rows that differ, not the whole tables. */
  private def assertRows(got: Seq[String], want: Seq[String], what: String): Unit =
    if (got != want) fail(s"$what: ${got.size} rows vs ${want.size}; only here " +
      s"${got.diff(want).take(3)}, missing ${want.diff(got).take(3)}")

  private def slicesOf(df: DataFrame): Seq[TimeSlicesExec] =
    df.queryExecution.executedPlan.collect { case t: TimeSlicesExec => t }

  /** Indices of the cached partitions that hold a row in `[lo, hi]`. */
  private def overlapping(lo: Long, hi: Long): Seq[Int] =
    spans.indices.filter(i => spans(i)._2 >= lo && spans(i)._1 <= hi)

  /** The partitions a read bounded to `[lo, hi]` keeps: the overlapping
    * ones, or the first when none overlaps. */
  private def kept(lo: Long, hi: Long): Seq[Int] =
    Some(overlapping(lo, hi)).filter(_.nonEmpty).getOrElse(Seq(0))

  /** Runs `cond` as a raw InfluxQL select over the resident and the
    * parquet table; returns the resident read's kept partitions (all of
    * them when it planned no TimeSlices node). */
  private def sameRows(cond: String): Seq[Int] = {
    val q = s"SELECT value, user_id, event_type FROM events WHERE $cond"
    val got = influx(resident, q)
    val want = rows(influx(oracle, q))
    assertRows(rows(got), want, s"resident read for $cond")
    slicesOf(got).headOption.map(_.keep).getOrElse(spans.indices)
  }

  test("the resident events fill 4 time slices at table lookup") {
    assert(resident.storageLevel.useMemory)
    assert(spans.length == 4, spans)
    spans.sliding(2).foreach { case Seq((_, hi0), (lo1, _)) => assert(hi0 < lo1) }
  }

  test("pruned windowed reads equal the parquet scan: random windows") {
    val rnd = new scala.util.Random(17)
    val (first, last) = (spans.head._1, spans.last._2)
    val sizes = (1 to 20).map { _ =>
      val lo = first - 86400000000L + (rnd.nextDouble() * (last - first)).toLong
      val hi = lo + 3600000000L + (rnd.nextDouble() * 7 * 86400000000L).toLong
      val k = sameRows(s"time >= '${iso(lo)}' AND time < '${iso(hi)}'")
      assert(k == kept(lo, hi - 1), s"[$lo, $hi) kept $k")
      k.size
    }
    assert(sizes.exists(_ < spans.length), s"no read was pruned: $sizes")
  }

  test("pruned reads equal the parquet scan at every partition's first " +
      "and last ts ±1 µs: windows, time =, one-sided bounds") {
    val day = 86400000000L
    for ((a, b) <- spans; t <- Seq(a - 1, a, a + 1, b - 1, b, b + 1)) {
      val from = sameRows(s"time >= '${iso(t)}' AND time < '${iso(t + day)}'")
      assert(from == kept(t, t + day - 1), s"window from $t kept $from")
      val to = sameRows(s"time > '${iso(t - day)}' AND time <= '${iso(t)}'")
      assert(to == kept(t - day + 1, t), s"window to $t kept $to")
      assert(sameRows(s"time = '${iso(t)}'") == kept(t, t))
      assert(sameRows(s"time > '${iso(t)}'") == kept(t + 1, Long.MaxValue))
      assert(sameRows(s"time <= '${iso(t)}'") == kept(Long.MinValue, t))
    }
  }

  test("a window wholly before or after the data keeps one partition " +
      "and returns no rows") {
    val (first, last) = (spans.head._1, spans.last._2)
    for ((lo, hi) <- Seq((first - 7200000000L, first - 3600000000L),
        (last + 1, last + 3600000000L))) {
      val cond = s"time >= '${iso(lo)}' AND time < '${iso(hi)}'"
      assert(sameRows(cond).size == 1)
      assert(influx(resident, s"SELECT value FROM events WHERE $cond")
        .collect().isEmpty)
    }
  }

  test("bounded PromQL over resident events equals the parquet scan: " +
      "instant selector, rate, offset, @, subquery, absent") {
    val t0 = spans.head._1 / 1000L
    val queries = Seq("events", "rate(events[1h])", "events offset 1h",
      s"sum(events @ ${t0 / 1000 + 3 * 86400})",
      "max_over_time(sum(events)[2h:30m])",
      """absent(events{event_type="no_such_type"})""",
      """absent(events{event_type="click"})""")
    val windows = Seq((t0 + 2 * 86400000L, t0 + 3 * 86400000L),
      (t0 + 9 * 86400000L + 1234567L, t0 + 11 * 86400000L))
    var pruned = false
    for (q <- queries; (lo, hi) <- windows) {
      val got = PromQL.evaluate(metric(resident), q, "1800 seconds",
        boundsMs = Some((lo, hi)))
      val want = PromQL.evaluate(metric(oracle), q, "1800 seconds",
        boundsMs = Some((lo, hi)))
      assertRows(rows(got), rows(want), s"$q over [$lo, $hi]")
      pruned ||= slicesOf(got).exists(_.keep.size < spans.length)
    }
    assert(pruned, "no PromQL read was pruned")
  }

  /** (job group, stages it ran) of each job `body` starts on this
    * context; a stage whose output an earlier job left is not run. */
  private def jobsDuring(body: => Unit): Seq[(String, Seq[StageInfo])] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("") -> j.stageIds)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        ran.add(s.stageInfo)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      SessionShim.drainListeners(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.map { case (group, ids) =>
      group -> ran.asScala.toSeq.filter(s => ids.contains(s.stageId)).sortBy(_.stageId)
    }
  }

  /** Tasks of the job's scan stage, the first stage it ran. */
  private def scanTasks(stages: Seq[StageInfo]): Int = stages.head.numTasks

  test("a windowed read schedules only the overlapping partitions' scan " +
      "tasks; an unbounded read all of them") {
    val (lo, hi) = (spans(1)._1 + 3600000000L, spans(1)._1 + 7200000000L)
    val windowed = jobsDuring(influx(resident, "SELECT count(value) FROM " +
      s"events WHERE time >= '${iso(lo)}' AND time < '${iso(hi)}'").collect())
    assert(windowed.size == 1, windowed)
    assert(scanTasks(windowed.head._2) == overlapping(lo, hi).size)
    assert(overlapping(lo, hi).size < spans.length)
    val all = jobsDuring(influx(resident, "SELECT count(value) FROM events")
      .collect())
    assert(all.size == 1, all)
    assert(scanTasks(all.head._2) == spans.length)
  }

  test("gateway over resident events: a /query and a query_range each " +
      "schedule one job whose scan skips the partitions outside the window") {
    val gw = new HttpGateway(hot,
      Map("events" -> InfluxQL.Measurement(resident, tags = Seq("event_type"))),
      metric(resident))
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
      val lo = spans(2)._1 / 1000000L + 600
      val hi = lo + 6 * 3600
      val influxQ = s"SELECT mean(value) FROM events WHERE time >= " +
        s"'${iso(lo * 1000000L)}' AND time <= '${iso(hi * 1000000L)}' " +
        "GROUP BY time(1h), event_type"
      val prom = s"/api/v1/query_range?query=${enc("sum by (event_type) (events)")}" +
        s"&start=$lo&end=$hi&step=3600s"
      Seq(s"/query?q=${enc(influxQ)}&epoch=ms", prom).foreach { path =>
        var reply = ""
        val jobs = jobsDuring { reply = get(path) }.filter(_._1.startsWith("query-"))
        assert(reply.contains("\"values\""), reply.take(300))
        assert(jobs.size == 1, s"$path: $jobs")
        assert(scanTasks(jobs.head._2) < spans.length, s"$path: ${jobs.head._2}")
      }
    } finally gw.stop()
  }

  test("a regenerated file prunes by the new entry's ranges") {
    val dir = copied()
    val s = hotSession()
    val before = Tables.table(s, dir, "events")
    assert(spansOf(before).length == 4)
    // the same rows 40 days later, at the same path
    val shifted = spark.read.parquet(src)
      .withColumn("ts", col("ts") + expr("INTERVAL 40 DAYS"))
    Files.delete(Paths.get(s"$dir/events.parquet"))
    shifted.write.parquet(s"$dir/events.parquet")
    val after = Tables.table(s, dir, "events")
    assert(!(after eq before))
    val now = spansOf(after)
    val cold = Tables.table(spark, dir, "events")
    // a window inside the new data's second slice, and one over the old
    // data's range, which the new entry holds no rows of
    for ((lo, hi) <- Seq((now(1)._1, now(1)._1 + 3600000000L),
        (spans(1)._1, spans(1)._2))) {
      val q = "SELECT value, user_id, event_type FROM events WHERE " +
        s"time >= '${iso(lo)}' AND time <= '${iso(hi)}'"
      val got = influx(after, q)
      assertRows(rows(got), rows(influx(cold, q)), s"[$lo, $hi]")
      val keep = now.indices.filter(i => now(i)._2 >= lo && now(i)._1 <= hi)
      assert(slicesOf(got).map(_.keep) ==
        Seq(Some(keep).filter(_.nonEmpty).getOrElse(Seq(0))), s"[$lo, $hi]")
    }
    after.unpersist(blocking = true)
  }

  test("filling the tier schedules no more jobs than a first read's fill " +
      "of the same cache did; the first read then runs one job") {
    val (d1, d2) = (copied(), copied())
    val s = hotSession()
    val fill = jobsDuring(Tables.table(s, d1, "events"))
    // the table lookup and the first read as they were before: the same
    // cache, filled by the first read over it
    val q = "SELECT count(value) FROM events WHERE " +
      s"time >= '${iso(spans(1)._1)}' AND time < '${iso(spans(1)._2)}'"
    var spread: DataFrame = null
    val before = jobsDuring {
      spread = Tables.normalizeEventsTime(s.read.parquet(s"$d2/events.parquet"))
        .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      influx(spread, q).collect()
    }
    assert(fill.size <= before.size, s"fill $fill vs lookup and first read $before")
    val after = jobsDuring(influx(Tables.table(s, d1, "events"), q).collect())
    assert(after.size == 1, after)
    spread.unpersist(blocking = true)
    Tables.table(s, d1, "events").unpersist(blocking = true)
  }

  test("after clearCache reads plan without TimeSlices and return the " +
      "same rows, and a pruned plan made before fails instead of pruning " +
      "the rebuilt cache; with the tier off no TimeSlices appears") {
    val dir = copied()
    val s = hotSession()
    val ev = Tables.table(s, dir, "events")
    val cond = s"time >= '${iso(spans(0)._1)}' AND time < '${iso(spans(1)._1)}'"
    val q = s"SELECT value, user_id, event_type FROM events WHERE $cond"
    val pruned = influx(ev, q)
    assert(slicesOf(pruned).nonEmpty)
    val want = rows(pruned)
    val planned = influx(ev, q)
    assert(slicesOf(planned).nonEmpty)
    s.catalog.clearCache()
    val e = intercept[IllegalStateException](planned.collect())
    assert(e.getMessage.contains("rebuilt"), e)
    val again = influx(Tables.table(s, dir, "events"), q)
    assert(slicesOf(again).isEmpty, again.queryExecution.executedPlan)
    assertRows(rows(again), want, "after clearCache")
    val off = influx(Tables.table(spark, dir, "events"), q)
    assert(slicesOf(off).isEmpty)
    assertRows(rows(off), want, "tier off")
  }
}
