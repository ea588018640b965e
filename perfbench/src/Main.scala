package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A workload: its set-up over its data (a session and catalog, and the
  * gateway for the HTTP workloads), the closed-loop clients that load it,
  * the correctness gate its results must pass, and the single-threaded
  * replay through the public layer calls. */
trait Workload {
  /** Where client spans go while the run is traced. */
  @volatile var tracer: Option[Spans] = None
  /** Statement of each traced request, by request id. */
  val reqText = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
  /** Record one client request as a span, while the run is traced. */
  protected def traceOp(layer: String, kind: String, text: String, t0: Long, latNs: Long): Unit =
    tracer.foreach { s =>
      val id = reqIds.incrementAndGet()
      reqText.put(id, text)
      s.record(s"$layer.$kind", t0, t0 + latNs, 0, id)
    }
  /** A client whose every step is one operation. */
  protected def single(step: () => Op): () => Seq[Op] = () => Seq(step())

  /** The gateway's port; -1 when the workload has no gateway. */
  def port: Int
  def session: SparkSession
  /** Build (or rebuild) the session, catalog and gateway, and get a first result. */
  def setup(): Unit
  /** Checks on the set-up state, before any load. */
  def preflight(): Seq[String]
  /** The closed-loop clients of one load phase (0 is the warm-up; the
    * measured loads are 1 and 2). A workload either starts its schedule
    * afresh each phase, so that a measured load runs the same schedule
    * however far the warm-up got, or continues it. A client's step
    * returns the operations it ran. */
  def clients(phase: Int): Seq[() => Seq[Op]]
  /** Correctness gate after the load; returns the failures. */
  def check(): Seq[String]
  def replay(spans: Spans, ledger: Ledger, rep: Report): Unit
  def close(): Unit
}

object Main {
  private val WarmSeconds = 2.5

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val code =
      try run(opts)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(opts: Opts): Int = {
    val spark = Session.build()
    val contextS = (System.currentTimeMillis() - Jvm.processStartMs) / 1e3
    val wl: Workload = opts.workload match {
      case "serve_hot" => new Serve(spark, opts, s"${opts.data}/sf${opts.sf}")
      case "ingest_mixed" => new Ingest(spark, opts)
      case "suite" => new Suite(spark, opts, s"${opts.data}/sf${opts.sf}")
      case w => sys.error(s"unknown workload: $w")
    }
    try {
      // setup_s is reported by the untraced run only, so the traced run
      // sets up once
      val setups = (1 to (if (opts.trace) 1 else 3)).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      val setupS = contextS + Stats.median(setups)
      log(f"context $contextS%.2f s, setups ${setups.map(x => f"$x%.2f").mkString(" ")} s")
      val errs = mutable.ArrayBuffer.empty[String] ++= wl.preflight()
      ClosedLoop.run(wl.clients(0), WarmSeconds)
      val rep = new Report
      val ops =
        if (!opts.trace) untraced(opts, spark, wl, setupS, rep, errs)
        else traced(opts, spark, wl, rep, errs)
      // a failed gate counts as one more failed operation
      val failed = ops.count(!_.ok) + errs.size
      errs.foreach(e => log(s"FAIL $e"))
      val correct = failed == 0
      println(rep.json(correct, ops.size + errs.size, failed))
      if (correct) 0 else 1
    } finally {
      wl.close()
      spark.stop()
    }
  }

  /** The end-to-end run: load for `seconds`, then the gates. */
  private def untraced(opts: Opts, spark: SparkSession, wl: Workload, setupS: Double,
                       rep: Report, errs: mutable.ArrayBuffer[String]): Seq[Op] = {
    val (ops, wall) = ClosedLoop.run(wl.clients(1), opts.seconds, opts.minReads)
    val reads = ops.filter(_.isRead)
    val heap = Jvm.liveHeapMb()
    log(f"${opts.workload}: ${reads.size} reads, ${ops.size - reads.size} writes in $wall%.1f s")
    ops.filterNot(_.isRead).groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ws) =>
      log(s"  $k: ${ws.size} requests, ${ws.map(_.points.toLong).sum} points")
    }
    errs ++= wl.check()
    if (reads.size < opts.minReads)
      errs += s"only ${reads.size} reads; a run needs at least ${opts.minReads}"
    rep.put("setup_s", setupS, "s")
    rep.put("query_per_s", reads.count(_.ok) / wall, "1/s")
    rep.put("query_p50_ms", Stats.pct(reads, 0.50), "ms")
    rep.put("query_p75_ms", Stats.pct(reads, 0.75), "ms")
    rep.put("live_heap_mb", heap, "MB")
    ops
  }

  /** `/metrics` counters of the gateway, by name. */
  private def counters(port: Int): Map[String, Double] =
    if (port < 0) Map.empty
    else new Client(port).get("/metrics").body.split('\n').filterNot(_.startsWith("#"))
      .flatMap(_.split(' ') match { case Array(k, v) => Some(k -> v.toDouble); case _ => None })
      .toMap

  /** The layer run: half the time untraced, half with the listeners and
    * client spans on, then the single-threaded replay. */
  private def traced(opts: Opts, spark: SparkSession, wl: Workload,
                     rep: Report, errs: mutable.ArrayBuffer[String]): Seq[Op] = {
    val sc = spark.sparkContext
    val floor0 = Session.floorMs(spark, 7)
    val gc0 = Jvm.gcMs
    val half = opts.seconds / 2
    val (opsU, wallU) = ClosedLoop.run(wl.clients(1), half)

    val ledger = new Ledger
    sc.addSparkListener(ledger)
    wl.session.listenerManager.register(ledger)
    val spans = new Spans
    val c0 = counters(wl.port)
    val rc0 = wl match { case s: Serve => s.resultsCacheStats; case _ => (0L, 0L) }
    wl.tracer = Some(spans)
    val (opsT, wallT) = ClosedLoop.run(wl.clients(2), half)
    wl.tracer = None
    val c1 = counters(wl.port)
    val rc1 = wl match { case s: Serve => s.resultsCacheStats; case _ => (0L, 0L) }
    Ledger.drain(spark, ledger)
    val jobsT = ledger.jobsSnapshot.filterNot(_.group.startsWith("perfbench"))
    val blockMb = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

    attribute(spans, wl, jobsT)
    wl.replay(spans, ledger, rep)
    wl match {
      case s: Suite => s.reportLedger(opsU, opsT, ledger.jobsSnapshot, rep)
      case _ => Suite.zeros(rep)
    }
    val lp = lpParseUs()
    val floor1 = Session.floorMs(spark, 7)
    val gcMs = Jvm.gcMs - gc0

    def d(k: String) = c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0)
    def pct(ops: Seq[Op], kind: String, p: Double) = Stats.pct(ops.filter(_.kind == kind), p)
    val readsT = opsT.filter(_.isRead)
    val readsU = opsU.filter(_.isRead)
    val writesT = opsT.filterNot(_.isRead)
    val writesU = opsU.filterNot(_.isRead)
    val ingest = wl.isInstanceOf[Ingest]
    // reads own their grouped jobs; ungrouped jobs are ingest work when
    // the workload writes, and PromQL evaluation (which runs without a
    // job group) when it does not
    val (readJobs, ingestJobs) =
      if (ingest) jobsT.partition(_.group.startsWith("query-")) else (jobsT, Seq.empty[JobRec])
    val nq = readsT.size.toDouble
    def perQ(f: JobRec => Double) = Stats.ratio(readJobs.map(f).sum, nq)

    rep.put("http.influxql.p50_ms", pct(opsT, "influxql", 0.50), "ms")
    rep.put("http.influxql.p95_ms", pct(opsT, "influxql", 0.95), "ms")
    rep.put("http.promql.p50_ms", pct(opsT, "promql", 0.50), "ms")
    rep.put("http.promql.p95_ms", pct(opsT, "promql", 0.95), "ms")
    val handlerMs = Stats.ratio(d("graft_handler_query_req_duration_ns_total") / 1e6,
      d("graft_handler_query_req_total"))
    rep.put("gateway.query_handler_ms", handlerMs, "ms")
    val influxT = opsT.filter(_.kind == "influxql")
    rep.put("http.edge_ms", Stats.mean(influxT.map(_.latNs / 1e6)) - handlerMs, "ms")
    val (hits, evals) = (rc1._1 - rc0._1, rc1._2 - rc0._2)
    rep.put("results_cache.hit_frac", Stats.ratio(hits.toDouble, evals.toDouble), "ratio")
    rep.put("results_cache.hits", hits.toDouble, "count")
    rep.put("results_cache.evals", evals.toDouble, "count")

    rep.put("http.write_b1.p50_ms", pct(opsT, "write_b1", 0.50), "ms")
    rep.put("http.write_b100.p50_ms", pct(opsT, "write_b100", 0.50), "ms")
    rep.put("http.write_b5000.p50_ms", pct(opsT, "write_b5000", 0.50), "ms")
    rep.put("gateway.write_handler_ms", Stats.ratio(d("graft_handler_write_req_duration_ns_total") / 1e6,
      d("graft_handler_write_req_total")), "ms")
    rep.put("ingest.jobs", ingestJobs.size.toDouble, "count")
    rep.put("ingest.jobs_per_write", Stats.ratio(ingestJobs.size, writesT.size), "count")
    val ingestBusyNs = Spans.coveredNs(opsT.map(_.startNs).minOption.getOrElse(0L),
      opsT.map(o => o.startNs + o.latNs).maxOption.getOrElse(0L),
      ingestJobs.map(j => (j.startNs, j.endNs)))
    rep.put("ingest.busy_frac", Stats.ratio(ingestBusyNs / 1e9, wallT), "ratio")
    val writeLatMs = writesT.map(_.latNs / 1e6).sum
    rep.put("write.wait_frac", if (writeLatMs == 0) 0.0
      else 1 - ingestJobs.map(_.ms).sum / writeLatMs, "ratio")
    val pointsU = writesU.filter(_.ok).map(_.points).sum
    rep.put("write_points_per_s", pointsU / wallU, "1/s")
    rep.put("write_p50_ms", Stats.pct(writesU, 0.50), "ms")
    rep.put("write_p95_ms", Stats.pct(writesU, 0.95), "ms")
    rep.put("write.samples", writesU.size.toDouble, "count")
    rep.put("lp.parse_us_per_line", lp, "us")

    val pointsT = writesT.filter(_.ok).map(_.points).sum
    rep.put("store.bytes_written_per_point",
      Stats.ratio(ingestJobs.map(_.outputBytes).sum.toDouble, pointsT), "bytes")
    rep.put("blockmgr.mem_mb", blockMb, "MB")

    rep.put("spark.jobs", readJobs.size.toDouble, "count")
    rep.put("spark.jobs_per_query", perQ(_ => 1.0), "count")
    rep.put("spark.tasks_per_query", perQ(_.tasks.toDouble), "count")
    rep.put("spark.floor_ms", Stats.median(floor0 ++ floor1), "ms")
    rep.put("exec.cpu_ms", perQ(_.cpuNs / 1e6), "ms")
    rep.put("exec.run_ms", perQ(_.runMs.toDouble), "ms")
    rep.put("exec.gc_ms", perQ(_.gcMs.toDouble), "ms")
    rep.put("exec.sched_delay_ms", perQ(_.schedMs.toDouble), "ms")
    rep.put("shuffle.read_bytes", perQ(_.shuffleRead.toDouble), "bytes")
    rep.put("shuffle.write_bytes", perQ(_.shuffleWrite.toDouble), "bytes")
    rep.put("spill.bytes", perQ(_.spill.toDouble), "bytes")
    rep.put("scan.input_bytes_per_query", perQ(_.inputBytes.toDouble), "bytes")

    rep.put("jvm.gc_ms", gcMs.toDouble, "ms")
    rep.put("heap.peak_mb", Jvm.peakHeapMb, "MB")
    rep.put("floor.drift_pct",
      (Stats.median(floor1) / Stats.median(floor0) - 1) * 100, "%")
    rep.put("trace.overhead_pct",
      (Stats.pct(readsT, 0.5) / Stats.pct(readsU, 0.5) - 1) * 100, "%")
    rep.put("trace.spans", spans.all.size.toDouble, "count")
    rep.put("query.samples", nq, "count")

    val (files, bytes) = wl match {
      case i: Ingest => i.storeFiles
      case _ => (0L, 0L)
    }
    val gates = wl.check()
    errs ++= gates
    rep.put("store.files", files.toDouble, "count")
    rep.put("store.bytes", bytes.toDouble, "bytes")
    wl match {
      case i: Ingest =>
        rep.put("store_bytes_per_point", Stats.ratio(bytes.toDouble, i.ackedPoints.toDouble), "bytes")
        rep.put("reopen_s", i.reopenSeconds, "s")
      case _ =>
        rep.put("store_bytes_per_point", 0, "bytes")
        rep.put("reopen_s", 0, "s")
    }
    val all = opsU ++ opsT
    rep.put("failed_frac", Stats.ratio(all.count(!_.ok) + gates.size, all.size + gates.size), "ratio")
    new java.io.File(opts.out).mkdirs()
    spans.writeTo(s"${opts.out}/spans-${opts.workload}-${opts.seed}.jsonl")
    all
  }

  /** Hang each job of the traced load under the client span of the
    * request that ran it. A job of an InfluxQL request carries the
    * gateway's job group and the statement as its description, and a
    * job of a suite query the group `suite-<query>`; a job with no group
    * goes under the PromQL span in flight, when only one is. Other jobs
    * (ingest work) stay top-level. */
  private def attribute(spans: Spans, wl: Workload, jobs: Seq[JobRec]): Unit = {
    val http = spans.all.filter(_.name.startsWith("http."))
    val suite = spans.all.filter(_.name.startsWith("suite."))
    jobs.foreach { j =>
      def inFlight(s: Span) = s.startNs <= j.startNs && j.startNs <= s.endNs
      val owner =
        if (j.group.startsWith("query-")) http.find(s => inFlight(s) && wl.reqText.get(s.req) == j.desc)
        else if (j.group.startsWith("suite-")) suite.find(s => inFlight(s) && s.name == s"suite.${j.desc}")
        else http.filter(s => s.name == "http.promql" && inFlight(s)) match {
          case Seq(s) => Some(s)
          case _ => None
        }
      spans.record("spark.job", j.startNs, j.endNs, owner.fold(0L)(_.id), owner.fold(0L)(_.req))
    }
  }

  /** Line-protocol parse cost per line, on lines of the write mix:
    * median of five passes over 20k lines. */
  private def lpParseUs(): Double = {
    val lines = Ingest.lines(20000)
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var n = 0
      lines.foreach(l => n += graft.sources.LineProtocol.parseLineFanned(l).size)
      require(n == lines.size)
      (System.nanoTime() - t0) / 1e3 / lines.size
    })
  }
}
