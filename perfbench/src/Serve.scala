package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables
import graft.query.{InfluxQL, PromQL}
import graft.server.HttpGateway
import graft.sources.ResultShaper

/** One read request of the serve mix. `stmt` is the InfluxQL statement
  * or PromQL expression; `path` is what goes over the wire. */
final case class ReadReq(kind: String, path: String, stmt: String,
                         loMs: Long = 0L, hiMs: Long = 0L, stepS: Long = 0L)

/** Seeded request stream of one serve client. Events span the 30 days
  * from 2024-01-01; each request reads a window of 1 h - 7 d. Request
  * kinds come in a fixed block of ten: 6 InfluxQL aggregates, 1 raw
  * InfluxQL select and 3 PromQL ranges, every other one of which
  * re-requests the client's last dashboard shifted by one step. Window
  * lengths, aggregates and PromQL queries cycle through all their values
  * in a fixed order, rotated per client; the seed places each window and
  * picks the raw select's event type. Request cost depends mostly on the
  * window length and the query (a 1 h PromQL range at a 60 s step costs
  * several times a 6 h one), so fixing that schedule keeps short runs
  * with different seeds comparable. Each client places its windows in
  * its own quarter of the 30 days: windows of different clients that
  * overlapped by chance would share the PromQL results cache, as often
  * as the seed happened to make them overlap. */
final class ServeGen(seed: Long, client: Int) {
  private val rnd = new java.util.Random(seed * 7919L + client)
  private val t0S = 1704067200L
  private val spanS = 30L * 86400
  private val durs = Seq(1, 3, 6, 12, 24, 48, 72, 168).map(_ * 3600L)
  private val intervals = Seq(60L, 300L, 600L, 1800L, 3600L, 10800L, 21600L, 43200L)
  private val aggs = Seq("count(value)", "mean(value)", "max(value)", "percentile(value, 95)")
  private val promQs = Seq("sum by (event_type) (events)", "count by (event_type) (events)",
    "max(events)", "avg by (event_type) (events)")
  private val types = Seq("click", "view", "purchase", "signup", "error")
  private var dash: Option[ReadReq] = None
  /** `xs` in order, forever, starting at element `client * step`. */
  private def cycle[A](xs: Seq[A], step: Int = 1): Iterator[A] = {
    val k = client * step % xs.length
    Iterator.continually(xs.drop(k) ++ xs.take(k)).flatten
  }
  private val kinds = cycle(Seq(0, 2, 0, 0, 2, 1, 0, 2, 0, 0), 3)
  private val aggDurs = cycle(durs, 2)
  private val rawDurs = cycle(durs, 2)
  private val promDurs = cycle(durs, 2)
  private val aggFns = cycle(aggs)
  private val byType = cycle(Seq("", ", event_type"))
  private val promFns = cycle(promQs)
  private val shift = cycle(Seq(false, true))

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def window(d: Long): (Long, Long) = {
    val quarter = spanS / 4
    val lo = t0S + client % 4 * quarter + rnd.nextInt(((quarter - d) / 60).toInt) * 60L
    (lo, lo + d)
  }
  private def iso(s: Long) = Instant.ofEpochSecond(s).toString

  def next(): ReadReq = kinds.next() match {
    case 0 =>
      val (lo, hi) = window(aggDurs.next())
      val iv = intervals.find(i => (hi - lo) / i <= 96).get
      val q = s"SELECT ${aggFns.next()} FROM events WHERE time >= '${iso(lo)}'" +
        s" AND time < '${iso(hi)}' GROUP BY time(${iv}s)${byType.next()}"
      ReadReq("influxql", s"/query?q=${enc(q)}&epoch=ms", q)
    case 1 =>
      val (lo, hi) = window(rawDurs.next())
      val q = s"SELECT value, user_id FROM events WHERE time >= '${iso(lo)}' AND time < '${iso(hi)}'" +
        s" AND event_type = '${types(rnd.nextInt(types.length))}' LIMIT 100"
      ReadReq("influxql", s"/query?q=${enc(q)}&epoch=ms", q)
    case _ =>
      val req = dash match {
        case Some(d) if shift.next() =>
          prom(d.stmt, d.loMs / 1000 + d.stepS, d.hiMs / 1000 + d.stepS, d.stepS)
        case _ =>
          val (lo, hi) = window(promDurs.next())
          prom(promFns.next(), lo, hi, math.max(60L, (hi - lo) / 60 / 60 * 60))
      }
      dash = Some(req)
      req
  }

  private def prom(q: String, lo: Long, hi: Long, step: Long) =
    ReadReq("promql", s"/api/v1/query_range?query=${enc(q)}&start=$lo&end=$hi&step=${step}s",
      q, lo * 1000, hi * 1000, step)
}

/** The read workload: the gateway over the `events` catalog of a table
  * directory, with InfluxQL and PromQL views shaped like the gateway's
  * end-to-end spec. The directory is small enough for the hot tier, and
  * the run fails if `events` is not resident. */
final class Serve(base: SparkSession, opts: Opts, dir: String) extends Workload {
  private var spark: SparkSession = _
  private var gw: HttpGateway = _
  private var cat: Map[String, InfluxQL.Measurement] = _
  private var promCat: Map[String, PromQL.Metric] = _
  private var events: DataFrame = _
  // (request, reply body) of the replies sampled for the library check
  private val sampled = new java.util.concurrent.ConcurrentLinkedQueue[(ReadReq, String)]()
  private val sampleRnd = new java.util.Random(opts.seed ^ 0x5eed)

  def port: Int = gw.boundPort
  def session: SparkSession = spark

  def setup(): Unit = {
    if (gw != null) { gw.stop(); spark.catalog.clearCache() }
    spark = base.newSession()
    events = Tables.table(spark, dir, "events")
    cat = Map("events" -> InfluxQL.Measurement(events, tags = Seq("event_type")))
    promCat = Map("events" -> PromQL.Metric(
      events.withColumn("user", col("user_id").cast("string")),
      labels = Seq("event_type", "user"), time = "ts", value = "value",
      tie = Seq("event_id")))
    gw = new HttpGateway(spark, cat, promCat)
    gw.start()
    val http = new Client(gw.boundPort)
    // the same first requests whatever the seed, so set-up time does
    // not depend on which windows a seed draws
    val g = new ServeGen(0, 99)
    var kinds = Set.empty[String]
    while (kinds.size < 2) {
      val r = g.next()
      val rep = http.get(r.path)
      if (rep.status != 200) sys.error(s"setup request failed: ${rep.status} ${rep.body.take(200)}")
      kinds += r.kind
    }
  }

  def preflight(): Seq[String] = {
    val lvl = events.storageLevel
    if (!lvl.useMemory) Seq(s"events residency is $lvl, expected resident") else Nil
  }

  // one request stream per client, continued from the warm-up into the
  // measured load: a fresh stream would open with each client's first,
  // uncached dashboards, and a run holds only ~5 requests per client
  private lazy val gens = (0 until 4).map(c => new ServeGen(opts.seed, c))

  def clients(phase: Int): Seq[() => Seq[Op]] = (0 until 4).map { c =>
    val gen = gens(c)
    val http = new Client(port)
    single { () =>
      val r = gen.next()
      val t0 = System.nanoTime()
      try {
        val rep = http.get(r.path)
        val ok = rep.status == 200 && (r.kind match {
          case "promql" => rep.body.startsWith("{\"status\":\"success\"")
          case _ => !rep.body.contains("\"error\":")
        })
        traceOp("http", r.kind, r.stmt, t0, rep.latencyNs)
        // the first good reply is always sampled, so even a short run checks one
        if (ok && sampled.size < 3 && (sampled.isEmpty || sampleRnd.synchronized(sampleRnd.nextInt(8) == 0)))
          sampled.add((r, rep.body))
        if (!ok) System.err.println(s"[perfbench] ${r.kind} ${rep.status}: ${rep.body.take(300)}")
        Op(r.kind, t0, rep.latencyNs, ok)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] ${r.kind} failed: $e")
        Op(r.kind, t0, System.nanoTime() - t0, ok = false)
      }
    }
  }

  /** The reply the gateway must give for one InfluxQL statement, built
    * on the library path the gateway's end-to-end spec holds it to. */
  def libraryBody(stmt: String): String =
    s"""{"results":[${Serve.shape(cat, stmt, None)._1}]}"""

  def check(): Seq[String] = {
    val all = sampled.toArray(Array.empty[(ReadReq, String)]).toSeq
    val checked =
      if (opts.plantMismatch && all.nonEmpty) (all.head._1, all.head._2 + " ") +: all.tail
      else all
    val http = new Client(gw.boundPort)
    checked.flatMap { case (r, body) =>
      val expect = r.kind match {
        case "influxql" => libraryBody(r.stmt)
        // a PromQL reply may come from the results cache: it must equal
        // a fresh evaluation that bypasses the cache
        case _ => http.get(r.path, "Cache-Control" -> "no-store").body
      }
      if (expect != body) Some(s"${r.kind} reply differs from the library path: ${r.stmt}")
      else None
    }
  }

  def replay(spans: Spans, ledger: Ledger, rep: Report): Unit = {
    val gen = new ServeGen(opts.seed, 77)
    val reqs = Seq.fill(40)(gen.next())
    val influx = reqs.filter(_.kind == "influxql").take(8)
    val promReqs = reqs.filter(_.kind == "promql").take(4)
    Serve.replayInflux(spark, cat, influx.map(_.stmt), spans, ledger, rep)
    val parse = mutable.ArrayBuffer.empty[Double]
    val build = mutable.ArrayBuffer.empty[Double]
    // replayed statements take request ids far above the clients' ones
    promReqs.zipWithIndex.foreach { case (r, i) =>
      val t0 = System.nanoTime()
      PromQL.parse(r.stmt)
      val t1 = System.nanoTime()
      PromQL.evaluate(promCat, r.stmt, s"${r.stepS} seconds", boundsMs = Some((r.loMs, r.hiMs)))
      val t2 = System.nanoTime()
      spans.record("promql.parse", t0, t1, 0, i + 1000000L)
      spans.record("promql.build", t1, t2, 0, i + 1000000L)
      parse += (t1 - t0) / 1e6; build += (t2 - t1) / 1e6
    }
    rep.put("promql.parse_ms", Stats.median(parse.toSeq), "ms")
    rep.put("promql.build_ms", Stats.median(build.toSeq), "ms")
  }

  def resultsCacheStats: (Long, Long) = gw.resultsCacheStats

  def close(): Unit = if (gw != null) gw.stop()
}

object Serve {
  /** The gateway's single-statement `/query` shaping (time column to a
    * timestamp, series order, column roles), called as library code.
    * Returns the result object and the rendered row count. */
  def shape(cat: Map[String, InfluxQL.Measurement], stmt: String,
            compiled: Option[(String, Seq[String], DataFrame, Boolean)]): (String, Int) = {
    val (name, tags, df0, desc) = compiled.getOrElse(InfluxQL.executeShapedOrd(cat, stmt))
    val timeNs = df0.columns.contains("__tns")
    val df =
      if (timeNs) df0.withColumn("time", col("__tns")).drop("__tns")
      else df0.schema.find(_.name == "time").map(_.dataType) match {
        case Some(LongType) | Some(IntegerType) =>
          df0.withColumn("time", timestamp_millis(col("time")))
        case _ => df0
      }
    val alsoCols = InfluxQL.alsoColumnTags(cat, stmt).filter(df.columns.contains).toSet
    val valueCols = HttpGateway.shapedValueCols(df.columns.toIndexedSeq,
      tags.filterNot(alsoCols.contains))
    val obj = ResultShaper.toResultObj(df, name, tags, valueCols, "ms", 0,
      1000000, timeNs = timeNs, seriesDesc = desc)
    (obj, "\\],\\[|\"values\":\\[\\[".r.findAllMatchIn(obj).size)
  }

  /** Single-threaded replay of InfluxQL statements through the public
    * layer calls: parse, compile to an unexecuted frame, then shape
    * (which runs the Spark jobs). Catalyst phase times come from the
    * compiled frame's planning tracker plus the shaping action's. */
  def replayInflux(spark: SparkSession, cat: Map[String, InfluxQL.Measurement],
                   stmts: Seq[String], spans: Spans, ledger: Ledger, rep: Report): Unit = {
    val parse, compile, shapeSelf, bytes, analysis = mutable.ArrayBuffer.empty[Double]
    var inputRecords = 0L
    var rows = 0L
    val phases0 = ledger.phasesSnapshot.size
    stmts.zipWithIndex.foreach { case (stmt, i) =>
      val req = i + 2000000L // far above the clients' request ids
      val t0 = System.nanoTime()
      InfluxQL.parse(stmt)
      val t1 = System.nanoTime()
      val compiled = InfluxQL.executeShapedOrd(cat, stmt)
      val t2 = System.nanoTime()
      val jobs0 = ledger.jobsSnapshot.size
      val (obj, n) = shape(cat, stmt, Some(compiled))
      val t3 = System.nanoTime()
      Ledger.drain(spark, ledger)
      val jobs = ledger.jobsSnapshot.drop(jobs0).filterNot(_.group.startsWith("perfbench"))
      spans.record("influxql.parse", t0, t1, 0, req)
      spans.record("influxql.compile", t1, t2, 0, req)
      val shapeSpan = spans.record("shape.toResultObj", t2, t3, 0, req)
      jobs.foreach(j => spans.record("spark.job", j.startNs, j.endNs, shapeSpan.id, req))
      parse += (t1 - t0) / 1e6
      compile += (t2 - t1) / 1e6
      shapeSelf += shapeSpan.selfNs(jobs.map(j => (j.startNs, j.endNs))) / 1e6
      bytes += obj.getBytes(UTF_8).length.toDouble
      analysis += compiled._3.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L).toDouble
      inputRecords += jobs.map(_.inputRecords).sum
      rows += n
    }
    val ph = ledger.phasesSnapshot.drop(phases0)
    def phase(k: String) = Stats.ratio(ph.map(_.getOrElse(k, 0L)).sum.toDouble, stmts.size)
    rep.put("influxql.parse_ms", Stats.median(parse.toSeq), "ms")
    rep.put("influxql.compile_ms", Stats.median(compile.toSeq), "ms")
    rep.put("catalyst.analysis_ms", Stats.mean(analysis.toSeq) + phase("analysis"), "ms")
    rep.put("catalyst.optimization_ms", phase("optimization"), "ms")
    rep.put("catalyst.planning_ms", phase("planning"), "ms")
    rep.put("shape.self_ms", Stats.median(shapeSelf.toSeq), "ms")
    rep.put("shape.bytes_per_query", Stats.mean(bytes.toSeq), "bytes")
    rep.put("scan.rows_per_result_row", Stats.ratio(inputRecords.toDouble, rows.toDouble), "ratio")
  }
}
