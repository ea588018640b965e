package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SessionShim}
import org.apache.spark.sql.functions._
import graft.sources.AtomicFiles

/** Incremental aggregation — the reference's "inc query" feature
  * (`engine/executor/inc_agg_transform.go:356` keyed agg state cached per
  * (queryID, iterID) and merged with the next iteration's partials;
  * `inc_hash_agg_transform.go`; planner rules `heu_rule.go:1486,1554`):
  * a windowed GROUP-BY re-executed on a schedule only aggregates data
  * that arrived since the previous run, merging into persisted state
  * instead of rescanning history.
  *
  * Spark-native re-expression. The state is a parquet table of MERGEABLE
  * PARTIALS per (tags, window) — `cnt/sum/sumsq/min/max` — not finalized
  * values, exactly the reference's cached intermediate chunk. Each run:
  *
  *   1. reads the state's high-watermark (max closed window end);
  *   2. scans ONLY `time >= cutoff` where `cutoff = watermark − lateness`
  *      — a pushed-down range predicate, so at 100 TB the scan is the
  *      recent tail, pruned at the parquet/partition level, not the
  *      full measurement;
  *   3. recomputes whole buckets in the tail and unions them with the
  *      untouched pre-cutoff state (bucket-REPLACE, not row-merge, so a
  *      re-delivered tail row can never double-count);
  *   4. atomically swaps the new state in (same pattern as
  *      [[graft.sources.Compaction]]) and returns finalized values
  *      (mean/stddev derived from the partials).
  *
  * Late data older than `lateness` is dropped from the incremental view
  * (the reference's inc cache has the same horizon: a missed iterID
  * invalidates and falls back to full recompute — `FailedGetIncAggItem`).
  * [[fullRecompute]] is that fallback here.
  */
object IncAgg {

  /** Partial-state schema: `tags… , wstart, wend, cnt, sum, sumsq, mn, mx, fst, lst`.
    * `sum` accumulates in DECIMAL(28,6) so merged state is bit-identical
    * regardless of partition/merge order (same determinism pattern as
    * SparkEntry's dsum); `sumsq` stays double — it only feeds stddev. */
  private def partials(source: DataFrame, time: String, interval: String,
                       tags: Seq[String], value: String): DataFrame = {
    val v = col(value).cast("double")
    // first/last carry their timestamps so merged state stays mergeable
    // (min_by/max_by over the pair, the engine's selector semantics)
    val tOrd = col(time)
    source.groupBy(window(col(time), interval) +: tags.map(col): _*)
      .agg(count(v).as("cnt"), sum(v.cast("decimal(28,6)")).as("sum"),
        sum(v * v).as("sumsq"), min(v).as("mn"), max(v).as("mx"),
        min_by(v, when(v.isNotNull, tOrd)).as("fst"),
        max_by(v, when(v.isNotNull, tOrd)).as("lst"))
      .withColumn("wstart", col("window.start"))
      .withColumn("wend", col("window.end"))
      .drop("window")
  }

  /** One incremental iteration: merge new data into `stateDir` and return
    * the finalized aggregate view over ALL data seen so far.
    *
    * Two zero-job fast paths, both the reference's inc-cache behavior
    * (`inc_agg_transform.go`: an iterID hit serves the cached chunk; an
    * empty new time range leaves it untouched):
    *   - `sourceFp` (caller's fingerprint of the source — e.g.
    *     path|mtime|size): when it equals the fingerprint recorded at the
    *     last state write, the source is byte-identical to what the state
    *     was built from, so the iteration is served straight from state —
    *     no scan, no write.
    *   - `sourceMaxMs` (caller's upper bound on the source's time extent,
    *     e.g. from parquet footer stats): when it falls before the
    *     bucket-aligned recompute cutoff, the tail is provably empty —
    *     no new data arrived past the horizon, so the state is unchanged.
    *     (An iteration with nothing new must NOT shrink the view: buckets
    *     the bounded source can't see stay as merged.)
    * Both paths matter at 100 TB: a scheduled inc query with no new data
    * must cost a metadata read, not a tail scan + state rewrite. */
  def run(source: DataFrame, time: String, interval: String,
          tags: Seq[String], value: String, stateDir: String,
          lateness: String = "0 seconds",
          sourceFp: Option[String] = None,
          sourceMaxMs: Option[Long] = None): DataFrame = {
    val spark = source.sparkSession
    val statePath = Paths.get(stateDir)
    val stateExists = Files.exists(statePath)
    val storedFp = if (stateExists) readFp(stateDir) else None
    lazy val fresh = partials(source, time, interval, tags, value)

    // Finalized view over the on-disk state, memoized per (session, dir,
    // fingerprint-at-last-write): a skipped iteration re-serves the same
    // analyzed plan — no re-analysis, no scan, no write. Keying on the
    // stored fp makes staleness impossible: any state write records a new
    // fp, which misses the cache and rebuilds the view.
    def servedFromState(): DataFrame = {
      val k = (spark, stateDir, storedFp.getOrElse(""))
      Option(viewCache.get(k)).getOrElse {
        val v = finalizeState(
          spark.read.schema(fresh.schema).parquet(stateDir), tags)
        viewCache.put(k, v); v
      }
    }

    if (stateExists && sourceFp.isDefined && storedFp == sourceFp)
      return servedFromState() // iterID cache hit: source byte-identical

    // High-watermark from the state file's parquet footer statistics —
    // a driver metadata read, zero Spark jobs (the reference reads the
    // cached iterID's max time from meta, not from a data pass). swapIn
    // pins TIMESTAMP_MICROS output so the stats are INT64; the collect
    // is only a fallback for state written by a foreign session.
    val wmMicros: Option[Long] =
      if (!stateExists) None
      else graft.sources.ParquetStats
        .minMaxLong(spark, stateDir, "wstart").map(_._2)
        .orElse {
          val r = spark.read.schema(fresh.schema).parquet(stateDir)
            .agg(max(col("wstart"))).collect()(0)
          if (r.isNullAt(0)) None
          else Some(r.getTimestamp(0).toInstant.toEpochMilli * 1000L)
        }
    // bucket-aligned cutoff: round the lateness horizon UP to whole
    // intervals so a mid-bucket cutoff can never drop tail rows
    val ivMs = durationMs(interval)
    val lateBuckets = (durationMs(lateness) + ivMs - 1) / ivMs * ivMs
    val cutoffMs = wmMicros.map(wm => Math.floorDiv(wm, 1000L) - lateBuckets)
    if (cutoffMs.exists(c => sourceMaxMs.exists(_ < c)))
      return servedFromState() // provably-empty tail: nothing new arrived

    val next = (wmMicros, cutoffMs) match {
      case (Some(_), Some(cMs)) =>
        // explicit schema (the partials shape is known driver-side):
        // skips the eager footer-inference job spark.read.parquet pays
        val state = spark.read.schema(fresh.schema).parquet(stateDir)
        val cutoff = java.time.Instant.ofEpochMilli(cMs)
        val kept = state.filter(col("wstart") < lit(cutoff))
        // tail scan: range predicate reaches the source scan (pushdown)
        val tail = partials(
          source.filter(col(time) >= lit(cutoff)),
          time, interval, tags, value)
          .filter(col("wstart") >= lit(cutoff))
        kept.unionByName(tail)
      case _ => fresh
    }
    swapIn(next, stateDir)
    sourceFp.foreach(writeFp(stateDir, _))
    // Lazy view over the just-swapped compact state: the caller's action
    // is one job over a single small file (no shuffle — a 1-partition
    // child satisfies every required distribution, so finalize+sort+agg
    // all stay exchange-free).
    val view =
      finalizeState(spark.read.schema(next.schema).parquet(stateDir), tags)
    sourceFp.foreach(fp => viewCache.put((spark, stateDir, fp), view))
    view
  }

  private val viewCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, String), DataFrame]()

  /** The reference's cache-miss fallback (`FailedGetIncAggItem` → full
    * re-execution): rebuild state from the whole source. */
  def fullRecompute(source: DataFrame, time: String, interval: String,
                    tags: Seq[String], value: String,
                    stateDir: String): DataFrame = {
    val fresh = partials(source, time, interval, tags, value)
    swapIn(fresh, stateDir)
    finalizeState(source.sparkSession.read.schema(fresh.schema)
      .parquet(stateDir), tags)
  }

  /** Finalize partials → `cnt, sum, mean, stddev, mn, mx, fst, lst` per
    * (tags, wstart, wend). Population variance guarded at 0 for cnt=1. */
  def finalizeState(state: DataFrame, tags: Seq[String]): DataFrame = {
    val s = col("sum").cast("double")
    val mean = s / col("cnt")
    val varP = greatest(col("sumsq") / col("cnt") - mean * mean, lit(0.0))
    state.select(tags.map(col) ++ Seq(col("wstart"), col("wend"),
      col("cnt"), s.as("sum"), mean.as("mean"),
      sqrt(varP * col("cnt") / greatest(col("cnt") - 1, lit(1L)))
        .as("stddev"),
      col("mn"), col("mx"), col("fst"), col("lst")): _*)
  }

  private def durationMs(d: String): Long = {
    val m = """^(\d+)\s*(millisecond|second|minute|hour|day)s?$""".r
      .findFirstMatchIn(d.trim.toLowerCase)
      .getOrElse(sys.error(s"bad lateness duration: $d"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "millisecond" => n
      case "second" => n * 1000L
      case "minute" => n * 60000L
      case "hour" => n * 3600000L
      case "day" => n * 86400000L
    }
  }

  /** Source fingerprint recorded at the last state write (sibling file of
    * the state dir, atomically swapped like the state itself). */
  private def fpFile(dir: String): Path =
    Paths.get(dir.stripSuffix("/") + ".fp")

  private def readFp(dir: String): Option[String] =
    if (Files.exists(fpFile(dir))) Some(Files.readString(fpFile(dir)))
    else None

  private def writeFp(dir: String, fp: String): Unit =
    AtomicFiles.commit(fpFile(dir), fp)

  /** Write `df` to `dir` via temp + atomic move (readers never observe a
    * half-written state). State cardinality is (#tag-combinations ×
    * #buckets) — orders of magnitude below the source — so one output
    * file beats 32 shuffle-partition shards for the re-read each
    * iteration pays; a deployment with millions of series would shard
    * the state dir by tag hash instead. */
  private def swapIn(df: DataFrame, dir: String): Unit = {
    // Three confs are pinned for the write, on a clone of the frame's
    // session (a shared profile session's conf never changes): ONE reduce
    // partition — state cardinality is tags×buckets, so a 32-task reduce
    // stage pays ~32 task launches to produce ~150 rows (measured
    // 0.12 s/write at sf0.1); AQE off — it schedules the shuffle map stage
    // as its own job before the write job (2 scheduled jobs per iteration
    // on local[32], each paying a scheduling floor) to re-plan a reduce
    // that is already pinned to 1 partition; and TIMESTAMP_MICROS output —
    // INT96 carries no usable footer min/max, and run()'s zero-job
    // watermark reads the wstart stats.
    val w = SessionShim.derive(df.sparkSession, Map(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    AtomicFiles.swapDir(dir, "inc") { tmp =>
      SessionShim.rebind(df.coalesce(1), w).write.mode("overwrite").parquet(tmp)
    }
  }
}
