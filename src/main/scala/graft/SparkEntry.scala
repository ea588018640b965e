package graft

import org.apache.spark.sql.{Column, DataFrame, SessionShim, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeminiFunctions, PromFunctions}
import graft.operators.{Fill, Meta, PromBinOp, PromRange, SeriesOps, Smoothing, Unnest, WindowedAgg}
import graft.pipeline.{AnomalyDetect, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Driver contract: one entry per implemented operator from SURVEY.md §2,
  * with DuckDB-oracle SQL for every SQL-expressible query.
  *
  * Cross-engine determinism rules used throughout (so hash-compare against
  * DuckDB is bit-exact, not "close"):
  *  - sums/averages of DOUBLE go through `CAST(x AS DECIMAL)` first — decimal
  *    addition is exact and order-independent, so Spark's partial-agg order
  *    vs DuckDB's doesn't matter; one final cast back to DOUBLE is the same
  *    IEEE rounding in both engines;
  *  - timestamps are emitted as epoch millis/micros BIGINT (the parquet
  *    events table is ns-precision; Spark truncates to µs, DuckDB keeps ns —
  *    integer epochs sidestep the writer-precision mismatch);
  *  - every window order and every output has an explicit total order
  *    (tie-break on a unique id column).
  */
object SparkEntry extends EntryQueriesA with EntryQueriesB
    with EntryOraclesA with EntryOraclesB {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue")(spark, "/root/testdata/sf0.001")


  // ---- query inventory -----------------------------------------------------

  /** Prepared-plan cache: the analyzed/optimized DataFrame per
    * (session, dir, query), keyed with a directory fingerprint (top-level
    * entry names + mtimes + sizes) so an in-place data regeneration
    * invalidates the entry instead of serving a stale file listing — the
    * same freshness rule as [[evExtent]]. Building a query re-runs the
    * text frontend + Catalyst analysis/optimization (30-110 ms of driver
    * CPU); a prepared statement pays that once, which is also what the
    * reference's query layer does with its compiled-statement reuse. */
  /** Free the localCheckpoint blocks a finished query's plan references.
    * The ContextCleaner only reclaims them after a GC notices the
    * dropped weak reference, so back-to-back executions in one JVM
    * (bench reps, the Verify sweep, a composed curation pass) otherwise
    * accumulate rounds × runs of dead checkpoint copies in the block
    * manager — the measured q106 2.8 s → 6.1 s inter-run growth. Call
    * ONLY after the frame's final action: the checkpoint truncated its
    * lineage, so a released frame cannot be recomputed. Queries that
    * checkpoint schedule jobs at plan build and are therefore never
    * served from the prepared-plan cache (two-strike probe), so each
    * call builds fresh blocks and release-after-use is safe. */
  def releaseCheckpoints(df: DataFrame): Unit =
    try df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
    catch { case _: Exception => () }

  private val probeSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, String), DataFrame]()

  private def dirFingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) "absent"
    else {
      val s = java.nio.file.Files.list(p)
      try s.map[String] { e =>
        val a = java.nio.file.Files.readAttributes(
          e, classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${e.getFileName}:${a.lastModifiedTime.toMillis}:${a.size}"
      }.sorted().reduce("", (a, b) => a + "|" + b)
      finally s.close()
    }
  }

  /** Public inventory: every query is built on the input-size execution
    * profile session ([[ExecProfile.session]] — AQE + shuffle fan-out
    * keyed on the source dir's bytes) and through the prepared-plan
    * cache.
    *
    * ONLY pure plans are cached: a query whose construction itself runs
    * Spark jobs (RCA's frontier search, connected-components rounds, PQ
    * codebook training) embeds computed RESULTS in the returned frame —
    * memoizing those would turn a repeat invocation into a result-cache
    * hit, which is the HTTP layer's job (ResultsCache, with TTL and
    * extent splitting), not the embedded API's. Such queries rebuild on
    * every call so benchmarks measure the real recomputation. */
  /** Query names whose CONSTRUCTION schedules Spark jobs (RCA frontier,
    * connected-components rounds, model training, sink writes). Once
    * known-impure, later invocations run WITHOUT the probe job group:
    * their internal jobs then land in the caller's group, so a
    * benchmark's per-query job count includes the work the query
    * actually does instead of hiding it under the probe.
    *
    * Two-strike rule, keyed by (name, dir fingerprint): the FIRST
    * jobful build only marks a suspect — a cold-start hot-tier
    * materialization also schedules jobs under the first build (the
    * round-10 cache bug), and a pure query's second build over the
    * SAME data is clean and caches normally. Only a second jobful
    * build of the same (name, data) convicts; keying by name alone
    * would let two cold builds against two different dirs permanently
    * convict a pure query. */
  private val impureNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private val suspectNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((root: SparkSession, dir: String) => {
        val s = ExecProfile.session(root, ExecProfile.dirBytes(dir))
        val key = (s, dir, name, dirFingerprint(dir))
        val hit = planCache.get(key)
        val strikeKey = (name, key._4)
        if (hit != null) hit
        else if (impureNames.contains(strikeKey))
          SessionShim.withActive(s)(fn(s, dir))
        else {
          val sc = s.sparkContext
          val outerGroup = sc.getLocalProperty("spark.jobGroup.id")
          val outerDesc = sc.getLocalProperty("spark.job.description")
          // UNIQUE per invocation: statusTracker retains a group's job
          // ids across invocations, so a constant name would let one
          // cold-start job (hot-tier residency materializing under the
          // first build) disqualify the query from the cache FOREVER —
          // measured: q03/q112 rebuilt their plans on every bench run
          // (~0.1 s each) because the first build also went resident
          val probe =
            s"plan-build-$name-${SparkEntry.probeSeq.incrementAndGet()}"
          sc.setJobGroup(probe, probe)
          val df =
            try SessionShim.withActive(s)(fn(s, dir))
            finally {
              sc.setLocalProperty("spark.jobGroup.id", outerGroup)
              sc.setLocalProperty("spark.job.description", outerDesc)
            }
          if (sc.statusTracker.getJobIdsForGroup(probe).isEmpty) {
            planCache.put(key, df)
            suspectNames.remove(strikeKey)
          } else if (!suspectNames.add(strikeKey)) impureNames.add(strikeKey)
          df
        }
      })
    }

  /** The names in a comma-separated query list, in list order. A name
    * that is not in [[queries]] is fatal, not ignored: a misspelled name
    * silently changes what a run means (a scale sweep once re-included
    * the deliberately-quadratic q53 because its EXCLUSION list was built
    * from a misremembered name and nothing complained). `source` names
    * the list in the error. */
  def queryList(list: String, source: String): Seq[String] = {
    val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(rawQueries.contains)
    require(unknown.isEmpty,
      s"$source names unknown queries: ${unknown.mkString(", ")}")
    names
  }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueriesA ++ rawQueriesB

  /** Oracle SQL per query, for dumps of the data dir `sfDir`. */
  def oracleSql(sfDir: String): Map[String, String] =
    oracleSqlA ++ oracleSqlB(sfDir)
}
