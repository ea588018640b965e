package graft

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SessionShim}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.query.InfluxQL
import graft.server.HttpGateway
import graft.sources.{AtomicFiles, LineProtocol}

/** The gateway's write path (`HttpGateway.append`): every batch and every
  * point merge is materialized once, when it is written. A seeded random
  * write sequence must read the same through the live gateway, a gateway
  * reopened on its persist dir, and the lazy composition of
  * `mergeBatch`/`mergePoints` over the same batches; and a read's Spark
  * work must stay bounded however many writes came before it. */
class WritePathSpec extends SparkSpec {
  import WritePathSpec.Batch

  private lazy val http = HttpClient.newHttpClient()
  private def call(g: HttpGateway, method: String, path: String,
                   body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${g.boundPort}$path"))
    http.send((if (method == "GET") b.GET()
      else b.POST(HttpRequest.BodyPublishers.ofString(body))).build(),
      HttpResponse.BodyHandlers.ofString())
  }
  private def write(g: HttpGateway, db: String, lines: Seq[String]): Unit = {
    val r = call(g, "POST", s"/write?db=$db", lines.mkString("\n"))
    assert(r.statusCode() == 204, r.body())
  }
  private def iql(g: HttpGateway, db: String, q: String): String = {
    val r = call(g, "GET",
      s"/query?db=$db&epoch=ns&q=${URLEncoder.encode(q, UTF_8)}")
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  /** The rows of `SELECT * FROM m` as a sorted multiset: each row its
    * non-null cells by column name, so column order and the order of
    * rows at one time do not matter. */
  private def rows(g: HttpGateway, db: String, m: String): Seq[String] = {
    val results = JsonMethods.parse(iql(g, db, s"SELECT * FROM $m")) \ "results"
    val series = results.children.flatMap(r => (r \ "series").children)
    series.flatMap { s =>
      val JArray(cols) = s \ "columns"
      val JArray(vals) = s \ "values"
      vals.map { case JArray(cells) =>
        cols.map { case JString(c) => c; case c => c.toString }.zip(cells)
          .filter(_._2 != JNull).sortBy(_._1)
          .map { case (c, v) => s"$c=${JsonMethods.compact(v)}" }
          .mkString(",")
        case x => fail(x.toString)
      }
    }.sorted
  }

  private val T0 = 1700000000000000000L
  private val Sec = 1000000000L

  /** A seeded sequence of batches over two point measurements of the
    * default database and a log store `ls` of database `lr`: appends
    * past the written time, batches back into written time (the point
    * merge), same-ns lines of one batch (field union, newest wins),
    * tag-array fan-out (never merged) and tag keys that appear later. */
  private def sequence(seed: Int, n: Int): Seq[Batch] = {
    val r = new scala.util.Random(seed)
    val written = scala.collection.mutable.Map(
      "wa" -> Vector.empty[Long], "wb" -> Vector.empty[Long],
      "ls" -> Vector.empty[Long])
    var next = T0
    var fanned = 0
    def fresh(): Long = { next += Sec; next }
    def tags(i: Int): String = {
      val host = s"h${r.nextInt(4)}"
      // a tag key first seen part-way through the sequence
      if (i > n / 3 && r.nextInt(3) == 0) s"host=$host,region=r${r.nextInt(2)}"
      else s"host=$host"
    }
    def fields(): String = {
      val all = Seq(s"a=${r.nextInt(100)}.5", s"b=${r.nextInt(100)}i",
        s"""s="v${r.nextInt(10)}"""", s"ok=${r.nextBoolean()}")
      val some = all.filter(_ => r.nextInt(3) > 0)
      (if (some.isEmpty) all.take(1) else some).mkString(",")
    }
    (0 until n).map { i =>
      val m = r.nextInt(10) match {
        case k if k < 6 => "wa"
        case k if k < 8 => "wb"
        case _ => "ls"
      }
      val old = written(m)
      def at(t: Long) = { written(m) = written(m) :+ t; t }
      val lines =
        if (m == "ls") {
          // log records: some share one ns and stay distinct rows
          val t = if (old.nonEmpty && r.nextBoolean()) old(r.nextInt(old.size))
                  else at(fresh())
          Seq.fill(1 + r.nextInt(3))(
            s"""ls,${tags(i)} msg="m${r.nextInt(5)}" $t""")
        } else r.nextInt(8) match {
          case 0 | 1 if old.nonEmpty =>
            // back into written time: the point merge
            Seq.fill(1 + r.nextInt(4))(
              s"$m,${tags(i)} ${fields()} ${old(r.nextInt(old.size))}")
          case 2 =>
            // one point written by several lines of one batch
            val (tg, t) = (tags(i), if (old.nonEmpty && r.nextBoolean())
              old(r.nextInt(old.size)) else at(fresh()))
            Seq.fill(2 + r.nextInt(2))(s"$m,$tg ${fields()} $t") :+
              s"$m,${tags(i)} ${fields()} ${at(fresh())}"
          case 3 =>
            // tag-array fan-out: one point per value, hosts no other
            // line writes, so the unmerged rows never meet another row
            fanned += 2
            Seq(s"$m,host=[f${fanned - 1},f$fanned] ${fields()} ${at(fresh())}")
          case _ =>
            Seq.fill(1 + r.nextInt(5))(
              s"$m,${tags(i)} ${fields()} ${at(fresh())}")
        }
      Batch(if (m == "ls") "lr" else HttpGateway.DefaultDb, m, lines)
    }
  }

  /** The frames the parent write path built, lazily: `mergeBatch` per
    * batch, then `mergePoints` into what came before when the batch
    * overlaps it, a union otherwise; log-store and fanned batches union
    * unmerged. Measurement → (frame, tag keys). */
  private def lazily(
      batches: Seq[Batch]): Map[String, (DataFrame, Seq[String])] =
    batches.foldLeft((Map.empty[String, (DataFrame, Seq[String])],
        Map.empty[String, (Long, Long)])) { case ((cat, extent), b) =>
      val parsed = b.lines.map(LineProtocol.parseLineFanned(_))
      val ps = parsed.flatten
      val tagKeys = ps.flatMap(_.tags.keys).distinct.sorted
      val tbl = HttpGateway.pointsTable(spark, b.m, ps)
      val (lo, hi) = (ps.map(_.time).min, ps.map(_.time).max)
      val merge = b.m != "ls" && parsed.forall(_.size == 1)
      val (df, tags) = cat.get(b.m) match {
        case None =>
          (if (merge) HttpGateway.mergeBatch(tbl, tagKeys) else tbl, tagKeys)
        case Some((prev, prevTags)) =>
          val tags = (prevTags ++ tagKeys).distinct
          val overlaps = extent.get(b.m).forall { case (a, z) =>
            lo <= z && hi >= a }
          (if (merge && overlaps) HttpGateway.mergePoints(prev,
             HttpGateway.mergeBatch(tbl, tagKeys), tags)
           else prev.unionByName(
             if (merge) HttpGateway.mergeBatch(tbl, tagKeys) else tbl,
             allowMissingColumns = true), tags)
      }
      val e = extent.get(b.m).fold((lo, hi)) { case (a, z) =>
        (math.min(a, lo), math.max(z, hi)) }
      (cat + (b.m -> (df, tags)), extent + (b.m -> e))
    }._1

  test("a seeded random write sequence reads the same live, after a " +
      "reopen, and as the lazy mergeBatch/mergePoints composition") {
    Seq(11, 29).foreach { seed =>
      val batches = sequence(seed, 40)
      val dir = Files.createTempDirectory("graft_writepath")
      val live = new HttpGateway(spark, Map.empty, Map.empty,
        persistDir = Some(dir.toString))
      live.start()
      try {
        Seq("/api/v1/repository/lr", "/api/v1/logstream/lr/ls").foreach(p =>
          assert(call(live, "POST", p).statusCode() == 200, p))
        batches.foreach(b => write(live, b.db, b.lines))
        val msts = batches.map(b => (b.db, b.m)).distinct
        val got = msts.map { case (db, m) => m -> rows(live, db, m) }.toMap
        live.stop()
        val reopened = new HttpGateway(spark, Map.empty, Map.empty,
          persistDir = Some(dir.toString))
        reopened.start()
        val expected = new HttpGateway(spark, lazily(batches).map {
          case (m, (df, tags)) => m -> InfluxQL.Measurement(df, tags, "ts") },
          Map.empty)
        expected.start()
        try msts.foreach { case (db, m) =>
          assert(got(m).nonEmpty, s"seed $seed: $m")
          assert(rows(reopened, db, m) == got(m), s"seed $seed: $m reopened")
          assert(rows(expected, HttpGateway.DefaultDb, m) == got(m),
            s"seed $seed: $m lazy")
        } finally { reopened.stop(); expected.stop() }
      } finally { live.stop(); AtomicFiles.deleteTree(dir) }
    }
  }

  /** `body`'s result, and the stages and tasks of the Spark work it runs
    * for `/query` requests. */
  private def readCost[T](body: => T): (T, Int, Int) = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("query-")))
          stages.add(s.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    SessionShim.drainListeners(sc)
    sc.addSparkListener(l)
    val out = try {
      val out = body
      SessionShim.drainListeners(sc)
      out
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (out, stages.size, stages.asScala.sum)
  }

  test("a read after 31 append-only writes runs at most 3 stages; after " +
      "100 writes at most CompactEvery + defaultParallelism tasks") {
    val g = new HttpGateway(spark, Map.empty, Map.empty)
    g.start()
    try {
      def writeAt(i: Int) =
        write(g, HttpGateway.DefaultDb,
          Seq(s"cnt,host=h${i % 3} v=$i ${T0 + i * Sec}"))
      def count(n: Int) = {
        val (body, stages, tasks) =
          readCost(iql(g, HttpGateway.DefaultDb, "SELECT count(v) FROM cnt"))
        assert(body.contains(s"[0,$n]"), body)
        (stages, tasks)
      }
      (0 until 31).foreach(writeAt)
      val (stages, _) = count(31)
      assert(stages <= 3, s"$stages stages")
      (31 until 100).foreach(writeAt)
      val (_, tasks) = count(100)
      val bound =
        HttpGateway.CompactEvery + spark.sparkContext.defaultParallelism
      assert(tasks <= bound, s"$tasks tasks > $bound")
    } finally g.stop()
  }
}

object WritePathSpec {
  /** One write: the database and measurement it goes to, and its lines. */
  final case class Batch(db: String, m: String, lines: Seq[String])
}
