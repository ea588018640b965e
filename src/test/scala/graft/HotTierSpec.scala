package graft

import java.nio.file.{Files, Paths}

/** Resident hot tier (`Tables.table`): the Spark-first analogue of the
  * reference's decoded read cache (`lib/readcache/blockcache.go`) — small
  * catalog tables persist as in-memory columnar batches; regenerated files
  * at the same path must MISS (fingerprint invalidation), and disabling
  * the tier must leave the pushed-down parquet scan untouched.
  *
  * Runs in its own sessions over its own temp copies of the data so the
  * shared suite session (hot tier off — SparkSpec) never sees a cached
  * relation over the real testdata paths.
  */
class HotTierSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft_hot").toString

  test("small tables go resident and serve from in-memory batches") {
    val base = freshDir()
    Files.copy(Paths.get(s"$sf/nation.parquet"),
      Paths.get(s"$base/nation.parquet"))
    val s2 = spark.newSession()
    s2.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    val df = Tables.table(s2, base, "nation")
    val n = df.count()
    assert(n > 0)
    // a follow-up query over the same catalog entry reads the cached
    // columnar batches, not the parquet file
    val q = Tables.table(s2, base, "nation").filter("n_regionkey >= 0")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"expected resident scan, got:\n$plan")
    assert(q.count() == n)
  }

  test("a regenerated file at the same path misses the memo (no stale data)") {
    val base = freshDir()
    Files.copy(Paths.get(s"$sf/nation.parquet"),
      Paths.get(s"$base/nation.parquet"))
    val s2 = spark.newSession()
    s2.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    val n1 = Tables.table(s2, base, "nation").count()
    assert(n1 > 3)
    // regenerate the table at the SAME path with fewer rows (file becomes
    // a directory of part files — different fingerprint either way)
    val src = spark.read.parquet(s"$sf/nation.parquet").limit(n1.toInt - 3)
    Files.delete(Paths.get(s"$base/nation.parquet"))
    src.write.mode("overwrite").parquet(s"$base/nation.parquet")
    val n2 = Tables.table(s2, base, "nation").count()
    assert(n2 == n1 - 3,
      s"stale resident data served: expected ${n1 - 3}, got $n2")
  }

  test("tier off leaves the pushed-down parquet scan path untouched") {
    val base = freshDir()
    Files.copy(Paths.get(s"$sf/nation.parquet"),
      Paths.get(s"$base/nation.parquet"))
    val s3 = spark.newSession()
    s3.conf.set(Tables.hotTierConfKey, "0")
    val q = Tables.table(s3, base, "nation").filter("n_regionkey > 1")
      .select("n_name")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"))
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), GreaterThan(n_regionkey,1)]"),
      s"expected parquet pushdown, got:\n$plan")
  }

  test("resident events are clustered by time: ascending, disjoint ts " +
      "ranges per cached partition, same rows") {
    val base = freshDir()
    // sf0.01's events span several 64 KB spread units, so the tier
    // splits it into more than one partition
    val src = "/root/testdata/sf0.01/events.parquet"
    Files.copy(Paths.get(src), Paths.get(s"$base/events.parquet"))
    val s2 = spark.newSession()
    s2.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    val ev = Tables.table(s2, base, "events")
    assert(ev.storageLevel.useMemory)
    assert(ev.count() == s2.read.parquet(src).count())
    val ranges = ev.select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts"))).rdd
      .mapPartitions { it =>
        val ts = it.map(_.getLong(0)).toVector
        Iterator((ts, ts.nonEmpty && ts == ts.sorted))
      }.collect()
    assert(ranges.length > 1, "expected a multi-partition spread")
    assert(ranges.forall(_._2), "a partition is not sorted by ts")
    val spans = ranges.map(_._1).filter(_.nonEmpty).map(t => (t.head, t.last))
    spans.sliding(2).foreach {
      case Array((_, hi0), (lo1, _)) =>
        assert(hi0 < lo1, s"overlapping partitions: ${spans.toSeq}")
      case _ => ()
    }
    ev.unpersist(blocking = true)
  }
}
