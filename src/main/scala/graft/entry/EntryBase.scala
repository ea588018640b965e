package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeminiFunctions, PromFunctions}
import graft.operators.{Fill, Meta, PromBinOp, PromRange, SeriesOps, Smoothing, Unnest, WindowedAgg}
import graft.pipeline.{AnomalyDetect, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Shared substrate for the SparkEntry query inventory: determinism
  * helpers, table loaders, catalog builders, and resident-frame memos.
  * Split out of SparkEntry.scala mechanically (round 9) when the single
  * file passed 3k lines; behavior identical. */
trait EntryBase {
  // ---- determinism helpers -------------------------------------------------
  protected def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")
  protected def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)
  /** SQL-side twin of dsum/davg for oracle strings. */
  protected def sqlDsum(e: String, scale: Int = 4): String =
    s"CAST(sum(CAST($e AS DECIMAL(18,$scale))) AS DOUBLE)"
  protected def sqlDavg(e: String, scale: Int = 4): String =
    s"${sqlDsum(e, scale)}/count($e)"

  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)
  protected def ts(lit0: String): Column = lit(lit0).cast("timestamp")

  /** q132's corpus output dir for data dir `dir` — the query writes it,
    * its oracle SQL reads it, and dumps of different data dirs keep
    * apart. */
  protected def q132Dir(dir: String): String =
    "/tmp/graft_q132_corpus/" + java.nio.file.Paths.get(dir).toAbsolutePath
      .normalize.toString.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Total order for a BOUNDED-SMALL result without the global sort's
    * range-partition sampling job: one round-robin shuffle to a single
    * partition + in-partition sort — the q63 shape, now shared (round
    * 17). A final `orderBy` plans as RangePartitioning, whose bounds are
    * computed by a separate job that re-executes the whole final stage;
    * on a result of a few rows that job is pure floor. Identical rows
    * and order to `orderBy(cols…)`. Use ONLY where the result stays
    * bounded at any corpus size (grouped by low-cardinality dims, k-
    * bounded rankings, fixed spines) — per-point/per-doc outputs keep
    * the scalable range sort. */
  protected def sorted1(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)
  protected def sorted1(df: DataFrame, c0: String, cN: String*): DataFrame =
    sorted1(df, (c0 +: cN).map(col): _*)

  /** Total order for results whose cardinality is DATA-DEPENDENT, not
    * structural (distinct values of a high-cardinality tag, rounded-value
    * histograms): the [[sorted1]] single-task shape only under the
    * small-input profile — where the input-size gate itself bounds the
    * result and the range sort's sampling job is pure floor — while the
    * scale path keeps the scalable range-partitioned `orderBy` (at
    * 100 TB a high-cardinality tag would otherwise funnel the whole
    * result through one task — the q48 rule). Mirrors
    * [[graft.ExecProfile.maybeBroadcast]]'s profile-following shape.
    * Identical rows and total order on both paths. */
  protected def sortedBounded(df: DataFrame, cols: Column*): DataFrame =
    graft.ExecProfile.boundedSort(df, cols: _*)
  protected def sortedBounded(df: DataFrame, c0: String, cN: String*): DataFrame =
    sortedBounded(df, (c0 +: cN).map(col): _*)

  // events-table epoch bounds for fill spines: [2024-01-01, 2024-01-31) UTC
  protected val EvStartMs = 1704067200000L
  protected val EvEndMs = 1706659200000L
  protected val HourMs = 3600000L

  /** events as a PromQL metric: series keyed by (event_type, user). */
  protected def promCatalog(s: SparkSession,
                          dir: String): Map[String, graft.query.PromQL.Metric] =
    Map("events" -> graft.query.PromQL.Metric(
      t(s, dir, "events").withColumn("user", col("user_id").cast("string")),
      labels = Seq("event_type", "user"), time = "ts", value = "value",
      tie = Seq("event_id"),
      // table time extent from parquet footer stats — kills the per-query
      // min/max(time) job for unbounded queries (a metadata read, like
      // the reference's shard-group {Start,End}Time in meta)
      extentMs = graft.sources.ParquetStats.timeExtentMs(
        s, s"$dir/events.parquet")))

  /** events as an InfluxQL measurement. `extentMs` comes from parquet
    * footer stats (memoized per (dir, mtime, size) — a driver metadata
    * read) so unbounded fill spines clamp with no scan-stage job,
    * mirroring [[promCatalog]]'s extent wiring. The mtime/size in the
    * key means an in-process regeneration of events.parquet invalidates
    * the entry instead of silently mis-clamping spines. */
  protected val evExtent = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Option[(Long, Long)]]()

  /** Resident symmetrized edge frame per (session, dir) — see q95. */
  protected val graphEdges = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Resident derived frames (synthetic stand-ins for catalog tables a
    * deployment would read from storage — q104's service topology and
    * annotations feed), persisted once per (session, dir, name). */
  protected val residentFrames = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()
  protected def resident(s: SparkSession, dir: String, name: String)
                      (build: => DataFrame): DataFrame =
    residentFrames.computeIfAbsent((s, dir, name), _ =>
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  protected def influxCatalog(s: SparkSession, dir: String)
      : Map[String, graft.query.InfluxQL.Measurement] = {
    val p = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (mtime, size) =
      try {
        val a = java.nio.file.Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes])
        (a.lastModifiedTime.toMillis, a.size)
      } catch { case _: java.io.IOException => (0L, 0L) }
    Map("events" -> graft.query.InfluxQL.Measurement(
      t(s, dir, "events"), tags = Seq("event_type"),
      extentMs = evExtent.computeIfAbsent((dir, mtime, size), _ =>
        graft.sources.ParquetStats.timeExtentMs(s, s"$dir/events.parquet"))))
  }
  // ---- DuckDB oracle SQL ---------------------------------------------------
  protected val evWin = "PARTITION BY user_id ORDER BY epoch_us(ts), event_id"
}
