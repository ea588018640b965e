package graft.server

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.query.InfluxQL

/** DOWNSAMPLE policies: tiered rollups that age raw points into coarser
  * resolutions — the reference's answer to "a year of 100 TB telemetry":
  * recent data stays raw, old data survives as declared aggregates.
  *
  * Reference surface re-expressed here:
  *  - grammar `influxql/sql.y:3788`:
  *    `CREATE DOWNSAMPLE [ON db[.rp]] (float{…}-style per-TYPE op groups
  *    as calls: float(mean, max), integer(sum)) WITH DURATION d
  *    SAMPLEINTERVAL(d1, d2, …) TIMEINTERVAL(t1, t2, …)`,
  *    `DROP DOWNSAMPLE ON [db.]rp | DROP DOWNSAMPLES [ON db]`,
  *    `SHOW DOWNSAMPLES [ON db]`.
  *  - validation `meta/downsample_policy.go:239` Check: interval lists
  *    same length, sampleIntervals strictly increasing, timeIntervals
  *    strictly increasing AND each a multiple of the previous (tier-i
  *    buckets nest exactly in tier-i+1 buckets — what makes re-rollup
  *    bucket-aligned), duration clamped up to 1h, first sampleInterval ≥
  *    the RP's shard-group duration, last < duration. Supported ops
  *    `downsample_policy.go:31`: first/last/min/max/sum/count/mean.
  *  - SHOW columns `meta/data.go:3827`: rpName, field_operator
  *    (`float{mean,max}` rendering per DownSampleOperators.String),
  *    duration, sampleInterval, timeInterval.
  *
  * Execution (the sweep lives in [[HttpGateway.runDownSamples]], this
  * object supplies the per-tier rollup): tier i covers rows older than
  * sampleInterval(i); they collapse to one row per (tags, timeInterval(i)
  * bucket). Re-rollup from tier i−1 into tier i is EXACT, not
  * mean-of-means: mean carries a hidden per-field weight column
  * (`__ds_n_<f>`), first/last carry their sample's epoch-µs
  * (`__ds_t_<f>`), count re-aggregates by summing — the same reason the
  * reference rolls level-(n−1) files into level n
  * (`engine/engine_downsample.go`) rather than re-reading raw data.
  * Divergence (documented): where the reference materializes one column
  * per (field, op) in the rolled shard and rewrites queries to pick the
  * matching op column, we surface the FIRST declared op per type under
  * the original field name — one visible value per field, no query
  * rewrite layer; the remaining ops are accepted and shown (SHOW renders
  * the full declaration) but not materialized. Undeclared field types
  * age out at their tier boundary, and rows older than DURATION drop —
  * the retention side of the policy.
  *
  * Scale shape: a sweep is one `groupBy(tags, bucket)` per (measurement,
  * newly-aged tier) over only the aged slice — at deployment scale the
  * aged slice is one shard-group's partitions (time-partitioned layout
  * prunes the scan), and the rollup output is |series| × (span/bucket)
  * rows, strictly smaller than its input.
  */
object DownSample {
  import InfluxQL.{TDur, TNum}

  val supportedAggs: Set[String] =
    Set("first", "last", "min", "max", "sum", "count", "mean")
  private val typeNames = Set("float", "integer", "boolean", "string")

  /** One per-type op group: `float(mean, max)` → TypeOps("float",
    * Seq("mean","max")). */
  case class TypeOps(tpe: String, ops: Seq[String]) {
    /** `DownSampleOperators.String()` rendering: `float{mean,max}`. */
    def render: String = s"$tpe{${ops.mkString(",")}}"
  }

  case class Policy(db: Option[String], rp: String, calls: Seq[TypeOps],
                    durationS: Long, sampleS: Seq[Long], timeS: Seq[Long]) {
    def fieldOperator: String = calls.map(_.render).mkString(",")
    /** Visible op for a field type (first declared — see divergence doc). */
    def opFor(tpe: String): Option[String] =
      calls.find(_.tpe == tpe).map(_.ops.head)
  }

  /** Parse CREATE DOWNSAMPLE …; validation per downsample_policy.go:239
    * happens in [[validate]] (needs the RP's shard-group duration). */
  def parseCreate(sql: String): Policy = {
    val c = new InfluxQL.Cursor(sql)
    def durS(): Long = c.next() match {
      case TDur(ns) => ns / 1000000000L
      case TNum(v, _, _) => v.toLong // bare number = seconds
      case t => sys.error(s"expected duration, got $t")
    }
    def durList(): Seq[Long] = {
      c.expect("(")
      val b = Seq.newBuilder[Long]
      b += durS()
      while (c.acceptPunct(",")) b += durS()
      c.expect(")")
      b.result()
    }
    c.expectIdent("create"); c.expectIdent("downsample")
    var db: Option[String] = None
    var rp: String = ""
    if (c.accept("on")) {
      val a = c.ident()
      if (c.acceptPunct(".")) { db = Some(a); rp = c.ident() }
      else rp = a
    }
    c.expect("(")
    val calls = Seq.newBuilder[TypeOps]
    var more = true
    while (more) {
      val tpe = c.ident().toLowerCase
      if (!typeNames(tpe)) sys.error(
        s"unexpected data type for downsample: $tpe")
      c.expect("(")
      val o = c.identList().map(_.toLowerCase)
      c.expect(")")
      o.find(!supportedAggs(_)).foreach(op =>
        sys.error(s"unsupported downsample agg op: $op"))
      calls += TypeOps(tpe, o)
      more = c.acceptPunct(",")
    }
    c.expect(")")
    c.expectIdent("with"); c.expectIdent("duration")
    val dur = durS()
    c.expectIdent("sampleinterval")
    val sample = durList()
    c.expectIdent("timeinterval")
    val time = durList()
    Policy(db, rp, calls.result(), dur, sample, time)
  }

  /** downsample_policy.go:239 Check. Returns the policy with the ≥1h
    * duration clamp applied. */
  def validate(p: Policy, shardGroupS: Long): Policy = {
    require(p.sampleS.length == p.timeS.length,
      "downsample interval len check failed: sampleIntervals, timeIntervals")
    for (i <- 1 until p.sampleS.length) {
      require(p.sampleS(i - 1) < p.sampleS(i),
        "downsample interval check failed")
      require(p.timeS(i - 1) < p.timeS(i) &&
        p.timeS(i) % p.timeS(i - 1) == 0,
        "downsample interval check failed")
    }
    val dur = math.max(p.durationS, 3600L)
    require(p.sampleS.head >= shardGroupS,
      "sample interval must be greater than shard duration")
    require(p.sampleS.last < dur,
      "max sample interval time must be smaller than retention policy duration")
    p.copy(durationS = dur)
  }

  private def sparkTypeName(dt: org.apache.spark.sql.types.DataType)
      : Option[String] = dt match {
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => Some("float")
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType => Some("integer")
    case org.apache.spark.sql.types.BooleanType => Some("boolean")
    case org.apache.spark.sql.types.StringType => Some("string")
    case _ => None
  }

  /** Roll every row of `df` older than `cutoffMs` (already aligned to
    * tier `tierIdx`'s bucket) into `bucketMs` buckets; younger rows and
    * rows already at this tier or coarser pass through. `tierIdx` is
    * 1-based (raw = 0); input below the cutoff is uniformly tier−1
    * because the sweep processes tiers in ascending order over nested,
    * aligned buckets. */
  def rollTier(df0: DataFrame, time: String, tags: Seq[String],
               p: Policy, tierIdx: Int, cutoffMs: Long): DataFrame = {
    val bucketMs = p.timeS(tierIdx - 1) * 1000L
    val df = if (df0.columns.contains("__ds_tier")) df0
             else df0.withColumn("__ds_tier", lit(0))
    val tMs = unix_millis(col(time))
    val input = df.filter(tMs < cutoffMs && col("__ds_tier") < tierIdx)
    val keep = df.filter(tMs >= cutoffMs || col("__ds_tier") >= tierIdx)
    val fromRolled = tierIdx > 1

    val hidden = df.columns.filter(_.startsWith("__ds_")).toSet
    val fields = df.schema.fields.filter { f =>
      f.name != time && f.name != "time" && f.name != "ts_ns" &&
        !tags.contains(f.name) && !hidden.contains(f.name) &&
        f.name != "__ds_tier"
    }
    val aggs = Seq.newBuilder[Column]
    fields.foreach { f =>
      val tpe = sparkTypeName(f.dataType)
      val op = tpe.flatMap(p.opFor)
      val v = col(f.name)
      val n = col(s"__ds_n_${f.name}")
      val t = col(s"__ds_t_${f.name}")
      val tsUs = unix_micros(col(time))
      op match {
        case None => // undeclared type: ages out at this tier
        case Some("sum") => aggs += sum(v).as(f.name)
        case Some("min") => aggs += min(v).as(f.name)
        case Some("max") => aggs += max(v).as(f.name)
        case Some("count") =>
          aggs += (if (fromRolled) sum(v) else count(v))
            .cast(f.dataType).as(f.name)
        case Some("mean") =>
          if (fromRolled) {
            aggs += (sum(v * n) / sum(n)).as(f.name)
            aggs += sum(n).as(s"__ds_n_${f.name}")
          } else {
            aggs += avg(v).as(f.name)
            aggs += count(v).as(s"__ds_n_${f.name}")
          }
        case Some("first") =>
          if (fromRolled) {
            aggs += min_by(v, t).as(f.name)
            aggs += min(t).as(s"__ds_t_${f.name}")
          } else {
            aggs += min_by(v, tsUs).as(f.name)
            aggs += min(tsUs).as(s"__ds_t_${f.name}")
          }
        case Some("last") =>
          if (fromRolled) {
            aggs += max_by(v, t).as(f.name)
            aggs += max(t).as(s"__ds_t_${f.name}")
          } else {
            aggs += max_by(v, tsUs).as(f.name)
            aggs += max(tsUs).as(s"__ds_t_${f.name}")
          }
        case Some(o) => sys.error(s"unsupported downsample agg op: $o")
      }
    }
    val aggCols = aggs.result()
    if (aggCols.isEmpty) return keep // nothing declared rolls: age out

    val bucket = (tMs.cast("long") / bucketMs).cast("long") * bucketMs
    val grouped = input
      .groupBy((tags.map(col) :+ bucket.as("__ds_b")): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn(time, timestamp_millis(col("__ds_b")))
      .withColumn("__ds_tier", lit(tierIdx))
      .drop("__ds_b")
    // line-protocol tables carry the raw ns `time` column too
    val rolled =
      if (df.columns.contains("time") && time != "time")
        grouped.withColumn("time", unix_millis(col(time)) * 1000000L)
      else grouped
    keep.unionByName(rolled, allowMissingColumns = true)
  }
}
