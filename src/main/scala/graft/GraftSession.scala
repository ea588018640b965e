package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on (`Bench`, `Verify`, `AnnSweep`,
  * `Dev`): `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
  * partitions. Test suites build their own (`SparkSpec`). */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate (TypedImperativeAggregate partials: top-k,
      // sketches) falls back to sort-based at 128 distinct groups by
      // default — a map-side sort of the whole input. The buffers are
      // k-bounded heaps / fixed sketches (~100 B), so 1M groups is
      // ~100 MB per task — cheap against a 60 M-row map-side sort (the
      // ×100 sweep hit the 128k ceiling on per-user limits).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: Bench's result is read from a bounded tail of the
    // COMBINED stdout+stderr stream, and r08's tail was entirely
    // per-query WARN lines (function-registry replacement spam) — the
    // compact JSON line fell off the end and parsed as null.
    // Registration is idempotent now too; ERROR keeps any remaining
    // chatty warnings out of the tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
