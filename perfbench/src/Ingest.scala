package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.server.HttpGateway

/** Writes beside reads on a fresh persist directory: 3 writer clients
  * POST line-protocol batches of 1, 100 and 5000 lines to 8
  * measurements x 50 series, and 1 reader client runs `count`/`last`
  * on the measurements being written.
  *
  * Every point is distinct, so each measurement's count must equal its
  * acknowledged points. A measurement has one writer, whose batches
  * move forward in time (one point per ms); one batch in 20 instead goes
  * back into time already written, at half-ms offsets, which sends it
  * through the gateway's point merge. */
final class Ingest(base: SparkSession, opts: Opts) extends Workload {
  import Ingest._

  private var spark: SparkSession = _
  private var gw: HttpGateway = _
  private var dir: Path = _
  private var setups = 0
  // per measurement: acknowledged points, next forward tick, next
  // overlap tick (always behind the acknowledged forward ticks)
  private var acked: Array[AtomicLong] = _
  private var fwd: Array[Long] = _
  private var back: Array[Long] = _

  def port: Int = gw.boundPort
  def session: SparkSession = spark

  def setup(): Unit = {
    if (gw != null) { gw.stop(); spark.catalog.clearCache(); deleteTree(dir) }
    setups += 1
    spark = base.newSession()
    dir = Paths.get(opts.out, s"ingest-${opts.seed}-$setups")
    deleteTree(dir)
    Files.createDirectories(dir)
    acked = Array.fill(Measurements)(new AtomicLong(0))
    fwd = Array.fill(Measurements)(0L)
    back = Array.fill(Measurements)(0L)
    gw = new HttpGateway(spark, Map.empty, Map.empty, persistDir = Some(dir.toString))
    gw.start()
    val http = new Client(gw.boundPort)
    (0 until Measurements).foreach { m =>
      val body = batch(opts.seed, m, 0L, 1, overlap = false)
      val r = http.post("/write?precision=ns", body)
      if (r.status != 204) sys.error(s"setup write failed: ${r.status} ${r.body.take(200)}")
      fwd(m) = 1; acked(m).addAndGet(1)
    }
    val r = http.get(countPath(0))
    if (r.status != 200) sys.error(s"setup read failed: ${r.status} ${r.body.take(200)}")
  }

  def preflight(): Seq[String] = Nil

  /** Three writers (writer w owns measurements m with m % 3 == w) and
    * one reader. A writer's batch sizes follow a fixed cycle of ten,
    * rotated per writer: 5 x 1 line, 4 x 100 lines, 1 x 5000 lines; it
    * takes its measurements in turn, and one batch in 20 goes back in
    * time. The reader takes the measurements in turn, `last` then
    * `count` on each. The schedule is fixed and starts afresh each load
    * phase, so the cost of a run depends neither on the seed nor on how
    * far the warm-up got; the seed sets the points' times and values.
    *
    * The 5:4:1 proportions are an assumption, not taken from a measured
    * or documented workload. By request they are 50% / 40% / 10%; by
    * point, 0.1% / 7.4% / 92.5%, so the 5000-line batches carry almost
    * all points. */
  def clients(phase: Int): Seq[() => Seq[Op]] = {
    val sizes = Seq(1, 100, 1, 100, 1, 5000, 1, 100, 1, 100)
    val writers = (0 until 3).map { w =>
      val http = new Client(port)
      val owned = (0 until Measurements).filter(_ % 3 == w)
      var k = w * 3
      single { () =>
        val n = sizes(k % sizes.size)
        val m = owned(k % owned.size)
        // go back in time only into ticks that are already acknowledged
        val overlap = k % 20 == 13 && back(m) + n <= fwd(m)
        k += 1
        val from = if (overlap) back(m) else fwd(m)
        val body = batch(opts.seed, m, from, n, overlap)
        val kind = s"write_b$n"
        val t0 = System.nanoTime()
        try {
          val r = http.post("/write?precision=ns", body)
          val ok = r.status == 204
          traceOp("http", kind, "", t0, r.latencyNs)
          if (ok) {
            if (overlap) back(m) += n else fwd(m) += n
            acked(m).addAndGet(n)
          } else System.err.println(s"[perfbench] write ${r.status}: ${r.body.take(300)}")
          Op(kind, t0, r.latencyNs, ok, n)
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] write failed: $e")
          Op(kind, t0, System.nanoTime() - t0, ok = false, n)
        }
      }
    }
    val reader = {
      val http = new Client(port)
      var r = 0
      single { () =>
        val m = r / 2 % Measurements
        val stmt = s"SELECT ${if (r % 2 == 0) "last" else "count"}(value) FROM m$m"
        r += 1
        val path = queryPath(stmt)
        val t0 = System.nanoTime()
        try {
          val r = http.get(path)
          val ok = r.status == 200 && !r.body.contains("\"error\":")
          traceOp("http", "influxql", stmt, t0, r.latencyNs)
          if (!ok) System.err.println(s"[perfbench] read ${r.status}: ${r.body.take(300)}")
          Op("influxql", t0, r.latencyNs, ok)
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] read failed: $e")
          Op("influxql", t0, System.nanoTime() - t0, ok = false)
        }
      }
    }
    writers :+ reader
  }

  /** Every measurement's count must equal its acknowledged points. The
    * counts run concurrently, to keep the gate short. */
  private def counts(http: Client, tag: String): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val each = (0 until Measurements).map { m =>
      Future {
        val r = http.get(countPath(m))
        val got = CountRe.findFirstMatchIn(r.body).map(_.group(1).toLong).getOrElse(-1L)
        val want = acked(m).get + (if (opts.plantMismatch) 1 else 0)
        if (r.status != 200 || got != want)
          Some(s"$tag: m$m count $got != acknowledged $want (${r.status})")
        else None
      }
    }
    Await.result(Future.sequence(each), Duration.Inf).flatten
  }

  private var reopenS = 0.0
  def reopenSeconds: Double = reopenS

  def check(): Seq[String] = {
    val before = counts(new Client(gw.boundPort), "before reopen")
    // reopen: a new gateway over the same persist directory
    gw.stop()
    spark.catalog.clearCache()
    spark = base.newSession()
    val t0 = System.nanoTime()
    gw = new HttpGateway(spark, Map.empty, Map.empty, persistDir = Some(dir.toString))
    gw.start()
    val h2 = new Client(gw.boundPort)
    val first = h2.get(countPath(0))
    reopenS = (System.nanoTime() - t0) / 1e9
    if (first.status != 200) Seq(s"reopen: first count failed ${first.status}")
    else before ++ counts(h2, "after reopen")
  }

  def ackedPoints: Long = acked.map(_.get).sum

  def storeFiles: (Long, Long) = {
    var files, bytes = 0L
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).forEach { p => files += 1; bytes += Files.size(p) }
    finally s.close()
    (files, bytes)
  }

  def replay(spans: Spans, ledger: Ledger, rep: Report): Unit = {
    val stmts = (0 until 8).map(i =>
      if (i % 2 == 0) s"SELECT count(value) FROM m${i % Measurements}"
      else s"SELECT last(value) FROM m${i % Measurements}")
    Serve.replayInflux(spark, gw.measurements, stmts, spans, ledger, rep)
    rep.put("promql.parse_ms", 0, "ms")
    rep.put("promql.build_ms", 0, "ms")
  }

  def close(): Unit = {
    if (gw != null) gw.stop()
    if (dir != null) deleteTree(dir)
  }
}

object Ingest {
  val Measurements = 8
  val Series = 50
  // 2024-03-01T00:00:00Z in ns
  private val T0 = 1709251200L * 1000000000L
  private val DayNs = 86400L * 1000000000L
  private val CountRe = """"values":\[\[[^,\]]*,(\d+)\]\]""".r

  def queryPath(stmt: String): String =
    "/query?epoch=ms&q=" + java.net.URLEncoder.encode(stmt, "UTF-8")
  def countPath(m: Int): String = queryPath(s"SELECT count(value) FROM m$m")

  /** `n` lines for measurement `m` from tick `from`: tick t is series
    * t % 50, t ms (+ 0.5 ms in an overlap batch) into a day after
    * 2024-03-01 that the seed picks; the values depend on the seed too. */
  def batch(seed: Long, m: Int, from: Long, n: Int, overlap: Boolean): String = {
    val day = T0 + Math.floorMod(seed, 300L) * DayNs
    val sb = new StringBuilder(n * 64)
    var t = from
    while (t < from + n) {
      val ns = day + t * 1000000L + (if (overlap) 500000L else 0L)
      sb.append('m').append(m).append(",host=h").append(t % Series)
        .append(" value=").append(Math.floorMod((t + seed) * 7919, 10000L) / 100.0)
        .append(",code=").append(t % 7).append("i ")
        .append(ns).append('\n')
      t += 1
    }
    sb.toString
  }

  /** Lines of the write mix for the parser replay. */
  def lines(n: Int): Seq[String] = batch(0L, 0, 0L, n, overlap = false).split('\n').toSeq

  def deleteTree(p: Path): Unit = if (p != null && Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
