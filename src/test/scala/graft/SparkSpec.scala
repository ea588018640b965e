package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
  /** The next scale of the same test data: its `events` is large enough
    * for a multi-partition resident spread. */
  lazy val sf01: String = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Keep the resident hot tier out of the shared suite session: the
      // plan-shape specs (ScaleSpec/IncAggSpec/RcaSpec) assert the AT-SCALE
      // scan path (PushedFilters on the parquet scan), which is what a
      // >smallInputBytes deployment runs; once any suite persisted a table,
      // CacheManager substitution would rewrite every matching scan in the
      // shared session. HotTierSpec covers the tier in its own session
      // over its own temp copy of the data.
      .config(Tables.hotTierConfKey, "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
