package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `fill(none|null|<value>|previous|linear)` — gap-filling the time spine of
  * a `GROUP BY time(d)` result. Reference: fill transform
  * `engine/executor/fill_transform.go` + bucket clamping
  * `query/compile.go:1325`.
  *
  * Spark-first: generate the spine with `sequence()` + `explode` per series
  * (distributed — the spine is built per tag set on the executors, never on
  * the driver), left-join the aggregated buckets, then
  * `last(ignoreNulls)`/lead-lag interpolation windows. All built-ins
  * (SURVEY §4.3 point 1): no custom Expression needed.
  */
object Fill {

  /** The bucketed frame feeds 2-3 consumers (series list, bounds, the
    * spine join) — materialize it once instead of recomputing the source
    * scan per consumer. Catalyst's column pruning + filter pushdown
    * specialize each subtree (a pruned distinct collapses onto the raw
    * scan, a pushed filter breaks exchange canonical-equality), so
    * exchange reuse does NOT deduplicate them; the persisted frame
    * (≈ n_series × n_buckets rows — the query's own output magnitude,
    * NOT the raw input) lives until its statement's [[owning]] release
    * frees it, or as long as a prepared query's plan does. An ad-hoc
    * statement on the interpreted profile uses the frame as is: it plans
    * as one job, and re-reading its input costs less than building the
    * cache. */
  private def shared(agg: DataFrame): DataFrame =
    if (graft.ExecProfile.isInterpreted(agg.sparkSession)) agg
    else Option(statement.get) match {
      case Some(owned) =>
        // a statement-unique literal makes the cache entry this
        // statement's own: an identical statement running beside it
        // builds and frees its own
        val tagged = agg.withColumn("_fill_stmt", lit(stmtSeq.incrementAndGet()))
          .persist(StorageLevel.MEMORY_AND_DISK)
        owned += tagged
        tagged.drop("_fill_stmt")
      case None =>
        if (agg.storageLevel == StorageLevel.NONE)
          agg.persist(StorageLevel.MEMORY_AND_DISK)
        agg
    }
  // the frames persisted for the statement being built on this thread
  private val statement =
    new ThreadLocal[scala.collection.mutable.Buffer[DataFrame]]
  private val stmtSeq = new java.util.concurrent.atomic.AtomicLong

  /** Build one statement's plan: the frames its fill steps persist belong
    * to it alone, and the returned release unpersists them — call it
    * after the plan's last action. */
  def owning[T](build: => T): (T, () => Unit) = {
    val outer = statement.get
    val owned = scala.collection.mutable.Buffer.empty[DataFrame]
    def release(): Unit = owned.foreach(_.unpersist(blocking = false))
    statement.set(owned)
    try (build, () => release())
    catch { case e: Throwable => release(); throw e }
    finally statement.set(outer)
  }

  /** Left-join the dense spine with the bucketed frame NULL-SAFELY: a
    * missing GROUP BY tag is the null/empty series and must still line
    * up with its own spine rows (using-columns join semantics orphan
    * every null-keyed row — the count-zero fill then fabricated 0s for
    * series that had points). */
  private def joinSpine(sp: DataFrame, agg: DataFrame,
                        tags: Seq[String]): DataFrame = {
    val keys = tags :+ "wstart_ms"
    val s2 = sp.alias("_sp"); val a2 = agg.alias("_ag")
    val cond = keys.map(k =>
      col(s"_sp.`$k`") <=> col(s"_ag.`$k`")).reduce(_ && _)
    val aggCols = agg.columns.filterNot(keys.contains)
    s2.join(a2, cond, "left_outer").select(
      (keys.map(k => col(s"_sp.`$k`").as(k)) ++
        aggCols.map(c => col(s"_ag.`$c`").as(c))): _*)
  }

  /** Build the dense (tags × bucket) spine over [startMs, endMs) with the
    * given step, left-joined with `agg` (whose bucket column is `wstart_ms`
    * epoch millis, as produced by WindowedAgg.timeBucket). */
  private def spine(agg0: DataFrame, tags: Seq[String],
                    startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val agg = shared(agg0)
    val series = agg.select(tags.map(col): _*).distinct()
    val sp = series.withColumn("wstart_ms",
      explode(sequence(lit(startMs), lit(endMs - 1), lit(stepMs))))
    joinSpine(sp, agg, tags)
  }

  /** Dense spine with bounds derived from the data IN-PLAN: the bucket
    * column's global min/max (each bucket start is already step-aligned,
    * so min(wstart_ms) IS the clamped spine start) computed as a 1-row
    * aggregate that is broadcast-cross-joined under the spine explode —
    * no driver-side min/max action, no extra scheduled job, and no
    * monotonicity assumption about tz()-shifted axes. An empty input
    * yields an empty spine (null bounds filtered), matching the
    * reference's "no rows → no series" rule. */
  private def spineAuto(agg0: DataFrame, tags: Seq[String],
                        stepMs: Long,
                        hiOverrideMs: Option[Long] = None,
                        limitBuckets: Option[Long] = None,
                        desc: Boolean = false): DataFrame = {
    val agg = shared(agg0)
    // hiOverrideMs: a bucket-aligned upper bound beyond the data (the
    // reference spines a LIMIT-bounded GROUP BY time() to now() —
    // server_test.go "LAST(*) group by time(12m) limit 5" expects empty
    // buckets past the last point). greatest() keeps the data bound
    // when it is already later.
    val hiCol0 = hiOverrideMs match {
      case Some(h) => greatest(max(col("wstart_ms")), lit(h))
      case None => max(col("wstart_ms"))
    }
    // LIMIT folds into the spine bounds (the reference's fill iterator
    // is LAZY — `fill_transform` stops after LIMIT buckets): ASC keeps
    // at most offset+n buckets from the spine start, DESC from the end.
    // This is what makes the to-now() tail affordable — the explode
    // never materializes more buckets than the statement can return.
    val hiCol = limitBuckets match {
      case Some(k) if !desc =>
        least(hiCol0, min(col("wstart_ms")) + lit((k - 1) * stepMs))
      case _ => hiCol0
    }
    val loCol = limitBuckets match {
      case Some(k) if desc =>
        greatest(min(col("wstart_ms")), hiCol - lit((k - 1) * stepMs))
      case _ => min(col("wstart_ms"))
    }
    // backstop: clamp to 1M buckets past the spine start — an unbounded
    // grid must never explode to a driver-killing spine (the reference
    // guards with max-select-buckets, query/compile.go:1317)
    val b = agg.agg(loCol.as("_blo"), hiCol.as("_bhi0"))
      .select(col("_blo"),
        least(col("_bhi0"), col("_blo") + lit(1000000L * stepMs))
          .as("_bhi"))
    // The 1-row bounds frame joins under the session's broadcast policy
    // (ExecProfile.maybeBroadcast): broadcast at scale, a 1-row cartesian
    // inside the main job under the small-query profile.
    val withB =
      if (tags.isEmpty) b
      else agg.select(tags.map(col): _*).distinct()
        .crossJoin(graft.ExecProfile.maybeBroadcast(b))
    val sp = withB.filter(col("_blo").isNotNull)
      .withColumn("wstart_ms",
        explode(sequence(col("_blo"), col("_bhi"), lit(stepMs))))
      .drop("_blo", "_bhi")
    joinSpine(sp, agg, tags)
  }

  /** [[fillValue]] with data-derived bounds (see [[spineAuto]]). */
  def fillValueAuto(agg: DataFrame, valueCols: Seq[String], tags: Seq[String],
                    stepMs: Long, fill: Option[Double] = None,
                    hiOverrideMs: Option[Long] = None,
                    limitBuckets: Option[Long] = None,
                    desc: Boolean = false): DataFrame = {
    val dense = spineAuto(agg, tags, stepMs, hiOverrideMs, limitBuckets, desc)
    fill match {
      case Some(v) => valueCols.foldLeft(dense)((d, c) =>
        d.withColumn(c, coalesce(col(c), lit(v).cast(d.schema(c).dataType))))
      case None => dense
    }
  }

  /** [[fillPrevious]] with data-derived bounds (see [[spineAuto]]). */
  def fillPreviousAuto(agg: DataFrame, valueCols: Seq[String],
                       tags: Seq[String], stepMs: Long,
                       hiOverrideMs: Option[Long] = None,
                       limitBuckets: Option[Long] = None,
                       desc: Boolean = false): DataFrame = {
    val dense = spineAuto(agg, tags, stepMs, hiOverrideMs, limitBuckets, desc)
    val w = Window.partitionBy(tags.map(col): _*).orderBy(col("wstart_ms"))
      .rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(dense)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** [[fillLinear]] with data-derived bounds (see [[spineAuto]]). */
  def fillLinearAuto(agg: DataFrame, valueCol: String,
                     tags: Seq[String], stepMs: Long,
                     hiOverrideMs: Option[Long] = None,
                     limitBuckets: Option[Long] = None,
                     desc: Boolean = false): DataFrame =
    interpolate(spineAuto(agg, tags, stepMs, hiOverrideMs, limitBuckets,
      desc), valueCol, tags)

  /** fill(null) / fill(<value>): dense spine, missing buckets null or a
    * constant. */
  def fillValue(agg: DataFrame, valueCols: Seq[String], tags: Seq[String],
                startMs: Long, endMs: Long, stepMs: Long,
                fill: Option[Double] = None): DataFrame = {
    val dense = spine(agg, tags, startMs, endMs, stepMs)
    fill match {
      // cast the fill literal to the column's own type: fill(0) on a
      // BIGINT count column must stay BIGINT, not retype it to double
      case Some(v) => valueCols.foldLeft(dense)((d, c) =>
        d.withColumn(c, coalesce(col(c), lit(v).cast(d.schema(c).dataType))))
      case None => dense
    }
  }

  /** fill(previous): LOCF — last observed value carried forward per series. */
  def fillPrevious(agg: DataFrame, valueCols: Seq[String], tags: Seq[String],
                   startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    val dense = spine(agg, tags, startMs, endMs, stepMs)
    val w = Window.partitionBy(tags.map(col): _*).orderBy(col("wstart_ms"))
      .rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(dense)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** fill(linear): interpolate missing buckets between surrounding
    * observations; edges stay null (InfluxQL semantics). */
  def fillLinear(agg: DataFrame, valueCol: String, tags: Seq[String],
                 startMs: Long, endMs: Long, stepMs: Long): DataFrame =
    interpolate(spine(agg, tags, startMs, endMs, stepMs), valueCol, tags)

  private def interpolate(dense: DataFrame, valueCol: String,
                          tags: Seq[String]): DataFrame = {
    val wAll = Window.partitionBy(tags.map(col): _*).orderBy(col("wstart_ms"))
    val wPrev = wAll.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = wAll.rowsBetween(0, Window.unboundedFollowing)
    val prevV = last(col(valueCol), ignoreNulls = true).over(wPrev)
    val nextV = first(col(valueCol), ignoreNulls = true).over(wNext)
    val prevT = last(when(col(valueCol).isNotNull, col("wstart_ms")),
      ignoreNulls = true).over(wPrev)
    val nextT = first(when(col(valueCol).isNotNull, col("wstart_ms")),
      ignoreNulls = true).over(wNext)
    dense.withColumn(valueCol,
      when(col(valueCol).isNotNull, col(valueCol))
        .when(prevV.isNotNull && nextV.isNotNull && nextT =!= prevT,
          prevV + (nextV - prevV) * (col("wstart_ms") - prevT) / (nextT - prevT)))
  }
}
