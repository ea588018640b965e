package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --out <dir> --sf <scale> --min-reads <n> --expected <file>
  * [--plant-mismatch] [--record-expected]`. `data` holds the table
  * directory `sf<scale>`; `expected` is the suite's expected results. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, out: String, sf: String,
                      minReads: Int, expected: String, plantMismatch: Boolean,
                      recordExpected: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    val flags = Set("--plant-mismatch", "--record-expected")
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i).stripPrefix("--")) = "1"; i += 1 }
      else { kv(args(i).stripPrefix("--")) = args(i + 1); i += 2 }
    }
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), need("sf"),
      need("min-reads").toInt, need("expected"), kv.contains("plant-mismatch"),
      kv.contains("record-expected"))
  }
}

/** One client operation as the client saw it. `kind` names the route
  * family (influxql, promql, write_b100, ...); `points` is the number of
  * points a write carried. */
final case class Op(kind: String, startNs: Long, latNs: Long, ok: Boolean,
                    points: Int = 0) {
  def isRead: Boolean = !kind.startsWith("write")
}

object Stats {
  /** Latency quantile in ms by the Harrell-Davis estimator: a weighted
    * mean of all order statistics, with Beta((n+1)p, (n+1)(1-p)) weights.
    * A run holds tens of reads, and a single order statistic that far
    * into the tail swings with every sample. A failed op counts as
    * slower than any latency. */
  def pct(ops: Seq[Op], p: Double): Double = {
    if (ops.isEmpty) return 0.0
    val xs = ops.map(o => if (o.ok) o.latNs / 1e6 else Double.MaxValue).sorted
    val n = xs.length
    if (n == 1) return xs.head
    val beta = new BetaDistribution((n + 1) * p, (n + 1) * (1 - p))
    val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
    xs.indices.map(i => (cdf(i + 1) - cdf(i)) * xs(i)).sum
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    // Spark's context cleaner frees shuffle and broadcast state only
    // after a collection drops their references: collect, let it run,
    // collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

object Session {
  /** `local[4]` with the suite benchmark's session settings
    * (graft.Bench), so the gateway plans the way the suite does. */
  def build(): SparkSession = {
    val cpus = "4"
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One empty job per core: the fixed cost of scheduling anything. */
  def floorMs(spark: SparkSession, n: Int): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 4, 1, 4).count()
    (System.nanoTime() - t0) / 1e6
  }
}

/** A gateway reply and its client latency, from sending the request to
  * the last body byte. */
final case class Reply(status: Int, body: String, latencyNs: Long)

/** The HTTP client of one client thread. It sends one request at a time
  * over HTTP/1.1, so it keeps a single keep-alive connection. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

  def get(path: String, headers: (String, String)*): Reply = {
    val b = HttpRequest.newBuilder(uri(path)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    send(b.build())
  }

  def post(path: String, body: String): Reply =
    send(HttpRequest.newBuilder(uri(path)).header("Content-Type", "text/plain")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  private def send(req: HttpRequest): Reply = {
    val t0 = System.nanoTime()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    Reply(r.statusCode, r.body, System.nanoTime() - t0)
  }
}

/** Runs `clients` closed-loop client threads for `seconds`: each thread
  * calls `step` again only after its previous call returned. Past the
  * deadline the threads go on until the run holds `minReads` reads, for
  * at most 60 s more, so that a slowed host lengthens the run instead of
  * failing its read floor. Returns the ops of every call and the seconds
  * from the start to the end of the last one. */
object ClosedLoop {
  def run(clients: Seq[() => Seq[Op]], seconds: Double,
          minReads: Int = 0): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val lastChance = deadline + 60000000000L
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = clients.map(_ => mutable.ArrayBuffer.empty[Op])
    val threads = clients.zip(results).zipWithIndex.map { case ((step, buf), i) =>
      val t = new Thread(() => {
        def more = {
          val now = System.nanoTime()
          now < deadline || (reads.get < minReads && now < lastChance)
        }
        while (more) {
          val ops = step()
          // a client with nothing left to do waits out the load
          if (ops.isEmpty) Thread.sleep(10)
          reads.addAndGet(ops.count(_.isRead))
          buf ++= ops
        }
      }, s"perfbench-client-$i")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    val ops = results.flatten
    // the load ends with its last operation
    val end = ops.map(o => o.startNs + o.latNs).maxOption.getOrElse(System.nanoTime())
    (ops, (end - t0) / 1e9)
  }
}

/** The result line: `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = {
    val v = if (value.isNaN || value.isInfinite) 0.0 else value
    metrics(name) = (v, unit)
  }
  def json(correct: Boolean, attempted: Long, failed: Long): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (n, (v, u)) => s""""$n":{"value":$v,"unit":"$u"}""" }
        .mkString(",") + "}}"
}
