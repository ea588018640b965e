package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression coverage for the events time-column contract: whatever
  * precision the producer wrote (int64 ns epoch, timestamp[us] TZ or NTZ),
  * `Tables.table("events")` must expose the same two-column view —
  * `ts` TIMESTAMP (µs) + `ts_ns` LONG (ns epoch) — and
  * `ParquetStats.timeExtentMs` must return the same epoch-ms extent.
  *
  * The driver regenerated /root/testdata between rounds 7 and 8 switching
  * events.ts from int64-ns to timestamp[us], which silently broke every
  * events query; this spec pins both encodings so the next regeneration
  * can't. Reference tolerance principle: openGemini accepts every epoch
  * precision at its edges (httpd/handler.go:276 epoch param).
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-02T03:04:05.678901Z and one second later, as µs epochs.
  private val usA = 1704164645678901L
  private val usB = usA + 1000000L

  private def writeFixture(kind: String): String = {
    val dir = Files.createTempDirectory(s"events-$kind-").toFile
    dir.deleteOnExit()
    // Real producers (pyarrow/pandas) write INT64 timestamp[us], not
    // Spark's legacy INT96 — match them so footer stats are INT64.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val base = Seq(
      (1L, usA, 10L, "click", 1.5, "{}"),
      (2L, usB, 11L, "error", 2.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val df = kind match {
      case "long_ns" => base.withColumn("ts", col("us") * lit(1000L))
      case "ts_us"   => base.withColumn("ts", timestamp_micros(col("us")))
      case "ts_ntz"  =>
        base.withColumn("ts",
          timestamp_micros(col("us")).cast(TimestampNTZType))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/events.parquet")
    dir.getAbsolutePath
  }

  for (kind <- Seq("long_ns", "ts_us", "ts_ntz")) {
    test(s"events loader normalizes $kind schema to (ts TIMESTAMP, ts_ns LONG)") {
      val dir = writeFixture(kind)
      val ev = Tables.table(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.schema("ts_ns").dataType === LongType)
      assert(ev.columns.toSeq ===
        Seq("event_id", "ts", "user_id", "event_type", "value", "props", "ts_ns"))
      val rows = ev.orderBy("event_id")
        .select(unix_micros(col("ts")), col("ts_ns")).as[(Long, Long)].collect()
      assert(rows === Array((usA, usA * 1000L), (usB, usB * 1000L)))
    }

    test(s"timeExtentMs reads footer stats in the $kind unit") {
      val dir = writeFixture(kind)
      val ext = sources.ParquetStats.timeExtentMs(spark, s"$dir/events.parquet")
      assert(ext === Some((Math.floorDiv(usA, 1000L), Math.floorDiv(usB, 1000L))))
    }
  }

  test("the driver's current events fixture loads and both time views agree") {
    val ev = Tables.table(spark, sf, "events")
    assert(ev.schema("ts").dataType === TimestampType)
    val mismatches =
      ev.filter(col("ts_ns") =!= unix_micros(col("ts")) * lit(1000L)).count()
    assert(mismatches === 0L)
    assert(ev.count() > 0L)
  }

  test("a second session's lookup of an unchanged table schedules one job " +
      "fewer than the first: the schema read is shared") {
    val dir = Files.createTempDirectory("schema-memo-").toFile
    dir.deleteOnExit()
    spark.range(0, 100).toDF("id").write.parquet(s"$dir/t.parquet")
    val sc = spark.sparkContext
    def lookup(): (Int, Seq[Long]) = {
      val s = spark.newSession()
      s.conf.set(Tables.hotTierConfKey, "0")
      val group = s"schema-memo-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      val df = try Tables.table(s, dir.toString, "t")
        finally sc.clearJobGroup()
      // the status store sees jobs in order: once a later marker job is
      // in, every job of the lookup is
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(10)
      (sc.statusTracker.getJobIdsForGroup(group).length,
        df.as[Long].collect().toSeq.sorted)
    }
    val (first, rows1) = lookup()
    val (second, rows2) = lookup()
    assert(first >= 1 && second == first - 1, (first, second))
    assert(rows1 == (0L until 100L) && rows2 == rows1)
  }
}
