package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry

/** The query suite: one client runs a fixed subset of
  * `SparkEntry.queries` over the generated tables, back to back, in
  * whole passes (a pass runs every query of [[Suite.Timed]] once, in a
  * fixed order that the seed and the pass number rotate). No HTTP or
  * ingest is involved; Spark execution dominates. The traced run also
  * times the other pipeline kernels once each, in its replay.
  *
  * Each execution plans the query afresh (as the noop-sink write of
  * `graft.Bench` does) and sends its rows to a sink that, like the noop
  * sink, evaluates every column and drops the rows; the sink also keeps
  * the row count and an order-independent hash of the rows. Every
  * execution of a query, the warm-up pass's included, must give the
  * count and hash of the expected file. */
final class Suite(base: SparkSession, opts: Opts, dir: String) extends Workload {
  import Suite._

  private var spark: SparkSession = _
  // (rows, hash) of every execution, by query
  private val results = mutable.Map.empty[String, Set[(Long, Long)]]
  private var passes = 0

  def port: Int = -1
  def session: SparkSession = spark

  def setup(): Unit = {
    if (spark != null) spark.catalog.clearCache()
    spark = base.newSession()
    execute(First)
  }

  def preflight(): Seq[String] = Nil

  /** One client. In the warm-up each step is one pass. In a measured
    * load the first step runs the passes that fill `seconds` on the
    * reference host and later steps none, so every run times the same
    * work: a deadline that fell mid-way through the last pass would add a
    * pass on a fast host and not on a slow one. */
  def clients(phase: Int): Seq[() => Seq[Op]] = {
    var steps = 0
    val seconds = if (opts.trace) opts.seconds / 2 else opts.seconds
    Seq(() => {
      steps += 1
      val n = if (phase == 0) 1 else if (steps == 1) passesFor(seconds) else 0
      (1 to n).flatMap { _ =>
        passes += 1
        val r = Math.floorMod(opts.seed + passes, Timed.size.toLong).toInt
        (Timed.drop(r) ++ Timed.take(r)).map(timed)
      }
    })
  }

  private def timed(name: String): Op = {
    val t0 = System.nanoTime()
    val ok =
      try { execute(name); true }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e"); false }
    val t1 = System.nanoTime()
    traceOp("suite", name, name, t0, t1 - t0)
    Op(name, t0, t1 - t0, ok)
  }

  /** Runs one query into the hashing sink and records its result. The
    * job group ties the query's jobs to it in the traced run. */
  private def execute(name: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"suite-$name", name)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      try {
        val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
        val schema = df.schema
        val (rows, hash) = SQLExecution.withNewExecutionId(qe, Some(name)) {
          qe.executedPlan.execute().mapPartitions { it =>
            val proj = UnsafeProjection.create(schema)
            var n, h = 0L
            it.foreach { r =>
              val u = proj(r)
              h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
              n += 1
            }
            Iterator((n, h))
          }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
        }
        results.synchronized {
          results(name) = results.getOrElse(name, Set.empty) + ((rows, hash))
        }
      } finally SparkEntry.releaseCheckpoints(df)
    } finally sc.clearJobGroup()
  }

  /** Every execution of every query must give the expected row count and
    * hash, and every query of the pass must have run. With
    * `--record-expected`, the results are written to the expected file
    * instead, for each query that gave one result throughout. */
  def check(): Seq[String] = {
    val got = results.synchronized(All.flatMap(q => results.get(q).map(q -> _)))
    val unsteady = Timed.filterNot(got.toMap.contains).map(q => s"$q never ran") ++
      got.collect { case (q, rs) if rs.size > 1 =>
        s"$q gave ${rs.size} different results: ${rs.mkString(" ")}" }
    val path = Paths.get(opts.expected)
    if (!Files.exists(path) && !opts.recordExpected) return Seq(s"no expected file $path")
    val expected =
      if (!Files.exists(path)) Map.empty[String, (Long, Long)]
      else Files.readAllLines(path, UTF_8).asScala.map(_.split('\t'))
        .map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap
    if (opts.recordExpected) {
      // the traced run's queries include the untraced run's
      val merged = expected ++ got.collect { case (q, rs) if rs.size == 1 => q -> rs.head }
      Files.write(path, All.filter(merged.contains).map { q =>
        s"$q\t${merged(q)._1}\t${merged(q)._2}" }.asJava, UTF_8)
      return unsteady
    }
    val planted =
      if (opts.plantMismatch) expected.updated(Timed.head, (-1L, -1L)) else expected
    unsteady ++ got.flatMap { case (q, rs) =>
      rs.filterNot(r => planted.get(q).contains(r))
        .map(r => s"$q gave rows/hash $r, expected ${planted.get(q)}")
    }
  }

  // the replay's executions of the pipeline kernels outside the pass
  private val replayed = mutable.ArrayBuffer.empty[Op]

  /** The traced run's replay: each pipeline kernel outside [[Suite.Timed]]
    * once, while traced. It is the kernel's first execution in the run, so
    * its time includes building the plan and compiling its code; warming
    * each kernel first would take the traced run past its time budget.
    * The suite has no InfluxQL, PromQL or shaping layer; its Catalyst
    * phases come from the traced queries (the ledger's
    * QueryExecutionListener). */
  def replay(spans: Spans, ledger: Ledger, rep: Report): Unit = {
    tracer = Some(spans)
    // a run must end within 180 s; a kernel not reached by the deadline
    // reports 0 (the stderr log names it)
    val deadlineMs = Jvm.processStartMs + ReplayDeadlineS * 1000
    try Pipeline.filterNot(Timed.contains).foreach { q =>
      if (System.currentTimeMillis() < deadlineMs) replayed += timed(q)
      else System.err.println(s"[perfbench] replay deadline passed; $q not timed")
    } finally tracer = None
    Ledger.drain(spark, ledger)
    val ph = ledger.phasesSnapshot
    def phase(k: String) = Stats.ratio(ph.map(_.getOrElse(k, 0L)).sum.toDouble, ph.size)
    rep.put("catalyst.analysis_ms", phase("analysis"), "ms")
    rep.put("catalyst.optimization_ms", phase("optimization"), "ms")
    rep.put("catalyst.planning_ms", phase("planning"), "ms")
    Seq("influxql.parse_ms", "influxql.compile_ms", "promql.parse_ms", "promql.build_ms",
      "shape.self_ms").foreach(rep.put(_, 0, "ms"))
    rep.put("shape.bytes_per_query", 0, "bytes")
    rep.put("scan.rows_per_result_row", 0, "ratio")
  }

  /** The suite's ledger and the pipeline kernels' costs, for one
    * execution of each query of [[Suite.All]]: per query, its traced
    * jobs (`jobs`, over the traced passes `opsT` and the replay) divided
    * by its traced executions. A query's time is the median of its
    * untraced executions (`opsU`), or its replay time. A query's jobs
    * carry its job group, or, while its plan is first built, the
    * plan-build group of `SparkEntry.queries`. */
  def reportLedger(opsU: Seq[Op], opsT: Seq[Op], jobs: Seq[JobRec], rep: Report): Unit = {
    val traced = opsT ++ replayed
    def per(q: String)(f: JobRec => Double): Double = {
      val js = jobs.filter(j => j.group == s"suite-$q" || j.group.startsWith(s"plan-build-$q-"))
      Stats.ratio(js.map(f).sum, traced.count(_.kind == q).toDouble)
    }
    def total(f: JobRec => Double) = All.map(q => per(q)(f)).sum
    rep.put("suite.jobs_total", total(_ => 1.0), "count")
    rep.put("suite.tasks_total", total(_.tasks.toDouble), "count")
    rep.put("suite.cpu_ms", total(_.cpuNs / 1e6), "ms")
    rep.put("suite.gc_ms", total(_.gcMs.toDouble), "ms")
    rep.put("suite.shuffle_bytes", total(j => (j.shuffleRead + j.shuffleWrite).toDouble), "bytes")
    def secs(q: String) = Stats.median((if (Timed.contains(q)) opsU else replayed.toSeq)
      .filter(_.kind == q).map(_.latNs / 1e9))
    rep.put("suite_pipeline_s", Pipeline.map(secs).sum, "s")
    rep.put("suite_core_s", Core.map(secs).sum, "s")
    Pipeline.foreach { q =>
      rep.put(s"q.${short(q)}.s", secs(q), "s")
      rep.put(s"q.${short(q)}.cpu_ms", per(q)(_.cpuNs / 1e6), "ms")
      rep.put(s"q.${short(q)}.gc_ms", per(q)(_.gcMs.toDouble), "ms")
    }
  }

  def close(): Unit = ()
}

object Suite {
  /** The 13 text, dedup and ANN kernels of the `pipeline` package. */
  val Pipeline: Seq[String] = Seq(
    "q28_dedup_minhash", "q53_embedding_neardup", "q82_ann_lsh", "q88_neardup_banded",
    "q93_ngram_jaccard", "q105_neardup_components", "q106_dedup_keep_best",
    "q107_repetition_signals", "q109_ann_ivfpq", "q110_curation_e2e",
    "q116_substring_dedup", "q122_hybrid_rrf", "q123_bigram_lm")
  /** A fixed sample of the other 119 queries, spread over their range of
    * warm times at sf0.1 with `local[4]` (0.2 - 0.65 s each). */
  val Core: Seq[String] = Seq(
    "q54_influxql_window", "q08_selectors_rate", "q17_fill_previous",
    "q94_fingerprint_dedup", "q63_anomaly_detect")
  /** A pass: the core sample and two cheap pipeline kernels (0.57 and
    * 0.66 s warm); a pass takes ~5 s, so a run holds two. */
  val Timed: Seq[String] = Core ++ Seq("q107_repetition_signals", "q28_dedup_minhash")
  val All: Seq[String] = Core ++ Pipeline
  /** A warm pass's seconds at sf0.1 on the 4-vCPU host the benchmark was
    * tuned on. */
  val PassSeconds = 4.5
  /** The passes a measured load of `seconds` runs: at least one. */
  def passesFor(seconds: Double): Int = math.max(1, math.round(seconds / PassSeconds).toInt)
  /** Seconds after JVM start past which the replay times no more kernels. */
  val ReplayDeadlineS = 140
  /** The set-up query; every pass runs it once. */
  val First = "q54_influxql_window"

  /** `q106_dedup_keep_best` -> `q106`. */
  def short(q: String): String = q.takeWhile(_ != '_')

  /** Every suite metric, zero, for the workloads the suite is not. */
  def zeros(rep: Report): Unit = {
    Seq("suite.jobs_total", "suite.tasks_total").foreach(rep.put(_, 0, "count"))
    Seq("suite.cpu_ms", "suite.gc_ms").foreach(rep.put(_, 0, "ms"))
    rep.put("suite.shuffle_bytes", 0, "bytes")
    Seq("suite_pipeline_s", "suite_core_s").foreach(rep.put(_, 0, "s"))
    Pipeline.foreach { q =>
      rep.put(s"q.${short(q)}.s", 0, "s")
      rep.put(s"q.${short(q)}.cpu_ms", 0, "ms")
      rep.put(s"q.${short(q)}.gc_ms", 0, "ms")
    }
  }
}
