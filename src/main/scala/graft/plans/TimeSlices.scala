package graft.plans

import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.columnar.SimpleMetricsCachedBatch
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Time-sliced hot tier: a scan of a resident, time-clustered table
  * schedules only the cached partitions its `ts` bounds can reach.
  *
  * The reference prunes by time twice: the shard mapper first keeps the
  * shard groups whose `[StartTime, EndTime]` overlaps the statement's
  * range (`coordinator/shard_mapper.go`), and only then do scans seek
  * inside them. Spark's `InMemoryTableScanExec` does the second step
  * (batch min/max stats) but schedules a task, and fetches a cached block,
  * for every partition. [[fill]] records each cached partition's time
  * range when the tier fills; the strategy then plans the usual scan under
  * a [[TimeSlicesExec]] that keeps only the overlapping partitions.
  *
  * Ranges are keyed by the cache entry's RDD: a cleared, replaced or
  * rebuilt entry has a new RDD (range partitioning re-samples its
  * bounds), so it never uses another entry's ranges and plans the
  * unpruned scan.
  */
object TimeSlices extends SparkStrategy with PredicateHelper {

  /** The time column's ordinal in the cached output, and each cached
    * partition's `[min, max]` µs (None: no non-null time). */
  private final case class Ranges(ordinal: Int, spans: Array[Option[(Long, Long)]])

  private val recorded = new java.util.WeakHashMap[RDD[_], Ranges]()

  /** Fill the cache entry of the persisted `df` in one job that also
    * records each cached partition's range of its TIMESTAMP column `time`,
    * read from the batches' min/max stats; the entry's RDD, to [[forget]]
    * it by, or None when `df` is not cached. */
  def fill(df: DataFrame, time: String): Option[RDD[_]] =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r
    }.map { r =>
      val ordinal = r.output.indexWhere(_.name == time)
      val stats = r.partitionStatistics
      val col = stats.forAttribute(r.output(ordinal))
      val (lower, upper) =
        (stats.schema.indexOf(col.lowerBound), stats.schema.indexOf(col.upperBound))
      val b = r.cacheBuilder
      val rdd = b.cachedColumnBuffers
      val spans = rdd.mapPartitions { batches =>
        var (lo, hi) = (Long.MaxValue, Long.MinValue)
        batches.foreach {
          case m: SimpleMetricsCachedBatch =>
            if (!m.stats.isNullAt(lower)) {
              lo = math.min(lo, m.stats.getLong(lower))
              hi = math.max(hi, m.stats.getLong(upper))
            }
          // a batch without stats may hold any time
          case _ => lo = Long.MinValue; hi = Long.MaxValue
        }
        Iterator(if (lo <= hi) Some((lo, hi)) else None)
      }.collect()
      // record only what this entry holds now, fully materialized
      if (b.isCachedColumnBuffersLoaded && (b.cachedColumnBuffers eq rdd))
        recorded.synchronized(recorded.put(rdd, Ranges(ordinal, spans)))
      rdd
    }

  /** Drop the ranges recorded for a cache entry's RDD. */
  def forget(rdd: RDD[_]): Unit = recorded.synchronized(recorded.remove(rdd))

  /** The entry's RDD and its recorded ranges. */
  private def rangesOf(mem: InMemoryRelation): Option[(RDD[_], Ranges)] = {
    val b = mem.cacheBuilder
    // a loaded entry has its RDD; asking an unloaded one would build it
    if (!b.isCachedColumnBuffersLoaded) None
    else {
      val rdd = b.cachedColumnBuffers
      recorded.synchronized(Option(recorded.get(rdd))).map(rdd -> _)
    }
  }

  /** The inclusive µs interval `e` bounds `t` to, if `e` is a comparison
    * of `t` with a timestamp literal in either orientation. */
  private def bound(e: Expression, t: Attribute): Option[(Long, Long)] = {
    val (min, max) = (Long.MinValue, Long.MaxValue)
    def at(x: Expression, y: Expression): Option[Long] = (x, y) match {
      case (a: Attribute, Literal(v: Long, TimestampType)) if a.semanticEquals(t) =>
        Some(v)
      case _ => None
    }
    // a strict bound at Long.MaxValue/MinValue wraps to an unbounded
    // side, which prunes nothing
    e match {
      case EqualTo(x, y) => at(x, y).orElse(at(y, x)).map(v => (v, v))
      case GreaterThanOrEqual(x, y) =>
        at(x, y).map(v => (v, max)).orElse(at(y, x).map(v => (min, v)))
      case GreaterThan(x, y) =>
        at(x, y).map(v => (v + 1, max)).orElse(at(y, x).map(v => (min, v - 1)))
      case LessThanOrEqual(x, y) =>
        at(x, y).map(v => (min, v)).orElse(at(y, x).map(v => (v, max)))
      case LessThan(x, y) =>
        at(x, y).map(v => (min, v - 1)).orElse(at(y, x).map(v => (v + 1, max)))
      case _ => None
    }
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, mem: InMemoryRelation) =>
      rangesOf(mem).flatMap { case (rdd, r) =>
        val t = mem.output(r.ordinal)
        val (lo, hi) = filters.flatMap(splitConjunctivePredicates)
          .flatMap(bound(_, t))
          .foldLeft((Long.MinValue, Long.MaxValue)) { case ((l0, h0), (l, h)) =>
            (math.max(l0, l), math.min(h0, h))
          }
        val overlaps = r.spans.indices.filter(i =>
          r.spans(i).exists { case (a, b) => b >= lo && a <= hi })
        val keep = if (overlaps.isEmpty) Seq(0) else overlaps
        if ((lo, hi) == (Long.MinValue, Long.MaxValue) ||
            keep.size == r.spans.length) None
        else Some(pruneFilterProject(projects, filters, attrs =>
          TimeSlicesExec(InMemoryTableScanExec(attrs, filters, mem), rdd,
            keep, r.spans.length, lo, hi)))
      }.toSeq
    case _ => Nil
  }

  /** `SparkPlanner.pruneFilterProject` with every filter kept above the
    * scan, as Spark's own in-memory scan strategy plans it. */
  private def pruneFilterProject(projects: Seq[NamedExpression],
                                 filters: Seq[Expression],
                                 scan: Seq[Attribute] => SparkPlan): SparkPlan = {
    val projectSet = AttributeSet(projects.flatMap(_.references))
    val filterSet = AttributeSet(filters.flatMap(_.references))
    val direct = AttributeSet(projects.map(_.toAttribute)) == projectSet &&
      filterSet.subsetOf(projectSet)
    val s = scan(if (direct) projects.map(_.toAttribute)
      else (projectSet ++ filterSet).toSeq)
    val filtered = filters.reduceLeftOption(And).map(FilterExec(_, s)).getOrElse(s)
    if (direct) filtered else ProjectExec(projects, filtered)
  }
}

/** The cached partitions `keep` (of `total`) of an in-memory scan whose
  * time bound `[lo, hi]` (inclusive µs) misses every other partition;
  * `sliced` is the cache entry's RDD the partitions index. */
final case class TimeSlicesExec(child: SparkPlan, sliced: RDD[_], keep: Seq[Int],
                                total: Int, lo: Long, hi: Long) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = UnknownPartitioning(keep.size)
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override def supportsRowBased: Boolean = child.supportsRowBased

  /** `rdd`'s partitions `keep`. The scan must read `sliced` partition by
    * partition: one planned before its entry was cleared and executed
    * after reads a rebuilt RDD, whose range bounds were sampled anew. */
  private def pruned[T](rdd: RDD[T]): RDD[T] = {
    def reads(r: RDD[_]): Boolean = (r eq sliced) || r.dependencies.exists {
      case d: OneToOneDependency[_] => reads(d.rdd)
      case _ => false
    }
    if (!reads(rdd)) throw new IllegalStateException(
      "the in-memory cache was rebuilt after this plan was made; plan the query again")
    val k = keep.toSet
    PartitionPruningRDD.create(rdd, k.contains)
  }
  protected override def doExecute(): RDD[InternalRow] = pruned(child.execute())
  protected override def doExecuteColumnar(): RDD[ColumnarBatch] =
    pruned(child.executeColumnar())

  private def instant(us: Long): String =
    if (us == Long.MinValue) "-inf"
    else if (us == Long.MaxValue) "+inf"
    else java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS).toString
  override protected def stringArgs: Iterator[Any] =
    Iterator(s"${keep.size}/$total [${instant(lo)}, ${instant(hi)}]")

  override protected def withNewChildInternal(c: SparkPlan): TimeSlicesExec =
    copy(child = c)
}
