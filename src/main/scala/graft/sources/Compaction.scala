package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for day-partitioned measurement tables — the
  * storage-maintenance role of the reference's TSSP compaction
  * (`engine/immutable/` merge-out-of-order / level compaction). Streaming
  * and per-batch ingest leave many small parquet files per day partition;
  * scan throughput at scale is dominated by file-open overhead until they
  * are merged.
  *
  * Spark-native: one `repartition(day)` pass rewrites each day partition as
  * a single file set, written to a temp dir and atomically swapped in, so
  * readers never observe a half-compacted table.
  */
object Compaction {

  case class Stats(filesBefore: Long, filesAfter: Long, rows: Long)

  def compactDays(spark: SparkSession, path: String,
                  filesPerDay: Int = 1): Stats = {
    val before = countParquetFiles(path)
    // mergeSchema: batches appended over time may carry later-arriving
    // columns; sampling one footer would silently drop them on rewrite
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val rows = df.count()
    // the gateway Store's sidecar files (names starting `_`) carry over
    AtomicFiles.swapDir(path, "compact") { tmp =>
      df.repartition(filesPerDay, col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }
    Stats(before, countParquetFiles(path), rows)
  }

  private def countParquetFiles(path: String): Long = {
    val base = Paths.get(path)
    if (!Files.exists(base)) 0L
    else {
      val s = Files.walk(base)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}
