package graft

import org.apache.spark.sql.{DataFrame, SessionShim, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Size-gated execution profiles, held as long-lived sessions per
  * root session.
  *
  * Spark's adaptive query execution materializes every exchange as its own
  * job — the right trade on a 100 TB scan, where runtime stats drive
  * coalescing, skew splitting and join re-plans, but pure scheduling
  * overhead on a small scan: a 5-exchange plan over a few MB pays 5
  * serialized job floors (~80 ms each on local[32]) to move kilobytes. The
  * reference executes every query as one pipeline regardless of size, so
  * its per-query floor is flat.
  *
  * Each root session gets three derived sessions, each with its
  * profile's confs laid over at construction: `small` (AQE off, a fixed small shuffle
  * fan-out, no planner broadcasts, fine scan splits: the whole DAG of a
  * query over less than [[smallInputBytes]] is ONE job), `scale` (AQE,
  * fan-out = default parallelism, planner broadcasts, 128 MB splits) and
  * `interpreted` (small, minus generated code and with one shuffle task).
  * The read entry points pick the profile by their input's bytes against
  * the one gate — `SparkEntry.queries` by its source dir's files
  * ([[session]]: small or scale), `InfluxQL.executeStatement`/
  * `executeShapedOrd` and `PromQL.evaluate` over a root's frames by the
  * referenced frames' plan size ([[statementSession]]: interpreted or
  * scale) — and
  * build the query on it; operators read the profile from their frame's
  * own session. No profile session's conf is changed after it is built,
  * so concurrent queries on different profiles never see each other's
  * confs, and the root's conf is never touched. All share the root's
  * SparkContext, CacheManager (and so the hot tier) and job groups. The
  * gate is input-driven, so the ×10/×100 scale dirs and any real
  * deployment keep AQE.
  *
  * A profile session copies the root's runtime conf, functions and
  * experimental optimizer hooks, not its temp views, when it is built
  * (`SessionShim.derive`). A root's profile sessions are rebuilt when its
  * runtime conf or experimental hooks change, so a `spark.conf.set` on
  * the root reaches the next statement (the profile's own keys still
  * win); a function registered on the root after its first query does
  * not reach them. They are held weakly by root.
  */
object ExecProfile {

  /** Inputs below this take the single-job small-query path. The ×10
    * replica dir (~1.5 GB of parquet) must stay on the AQE path — its
    * shuffles are large enough that runtime coalescing pays for the
    * stage barriers. */
  val smallInputBytes: Long = 1L << 30

  /** Shuffle fan-out for the small path: enough to keep 32 cores busy on
    * a skewed few-MB shuffle, few enough that per-task overhead stays
    * under the job floor. (Round 17: fanning the text pipeline out to
    * defaultParallelism instead MEASURED WORSE — q123 warm reps 12-30 s
    * at 32 partitions vs 2.7-5.2 s at 8, q93 ~2× — more short tasks
    * multiply scheduling jitter on a steal-prone host.) */
  val smallShufflePartitions = 8

  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Total bytes of regular files under `dir`, memoized per path (the
    * bench/verify data dirs are immutable within a run; tests that
    * regenerate a dir use fresh temp paths). */
  def dirBytes(dir: String): Long =
    sizeCache.computeIfAbsent(dir, d => {
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.isDirectory(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    })

  /** The runtime confs of one profile. */
  private def confs(root: SparkSession, small: Boolean): Map[String, String] = {
    val cores = root.sparkContext.defaultParallelism.toString
    Map(
      "spark.sql.adaptive.enabled" -> (!small).toString,
      "spark.sql.shuffle.partitions" ->
        (if (small) smallShufflePartitions.toString else cores),
      // small: a planner-chosen broadcast build is its own scheduled job,
      // an 8-partition shuffle of a few MB one more stage in the same job
      // (explicit broadcast() hints still win over the threshold)
      "spark.sql.autoBroadcastJoinThreshold" -> (if (small) "-1" else "10485760"),
      "spark.sql.join.preferSortMergeJoin" -> (!small).toString,
      // small: split fine, and let bytes-per-core rather than the 4 MB
      // open-cost floor size the splits — one small parquet file was a
      // serial scan, an 8 MB text file a 2-task scan doing 15 s of
      // tokenizing while 30 cores idled; at scale the defaults hold
      "spark.sql.files.maxPartitionBytes" -> (if (small) "4m" else "128m"),
      "spark.sql.files.openCostInBytes" -> (if (small) "262144" else "4194304"),
      "spark.sql.files.minPartitionNum" -> cores)
  }

  /** One root's profile sessions and the root state they copied. */
  private final class Profiles(val state: AnyRef, val small: SparkSession,
                               val scale: SparkSession,
                               val interpreted: SparkSession)

  /** What a profile session is: its root, and which profile. */
  private final class Derived(
      val root: java.lang.ref.WeakReference[SparkSession], val profile: String)

  // root -> its profiles; profile session -> what it is. Weak both ways,
  // so neither keeps a dropped root (or its clones' listener buses) alive.
  private val profiles = new java.util.WeakHashMap[SparkSession, Profiles]()
  private val rootOf = new java.util.WeakHashMap[SparkSession, Derived]()

  /** The root state profile sessions copy and follow. */
  private def stateOf(root: SparkSession): AnyRef =
    (root.conf.getAll, root.experimental.extraOptimizations,
      root.experimental.extraStrategies)

  private def profilesOf(spark: SparkSession): Profiles = synchronized {
    val root = Option(rootOf.get(spark)).flatMap(d => Option(d.root.get))
      .getOrElse(spark)
    val state = stateOf(root)
    val held = profiles.get(root)
    if (held != null && held.state == state) held
    else {
      def derive(c: Map[String, String], profile: String) = {
        val s = SessionShim.derive(root, c, Seq(graft.plans.TimeSlices))
        rootOf.put(s, new Derived(new java.lang.ref.WeakReference(root), profile))
        s
      }
      val small = confs(root, small = true)
      // factoryMode is internal to Spark; without it, expression
      // projections and predicates still compile with wholeStage off
      val p = new Profiles(state, derive(small, "small"),
        derive(confs(root, small = false), "scale"),
        derive(small ++ Map(
          "spark.sql.shuffle.partitions" -> "1",
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"), "interpreted"))
      profiles.put(root, p)
      p
    }
  }

  /** The profile session for a prepared query reading `inputBytes` from
    * frames of `spark` (a root session, or one of its profile sessions). */
  def session(spark: SparkSession, inputBytes: BigInt): SparkSession =
    if (inputBytes < smallInputBytes) profilesOf(spark).small
    else profilesOf(spark).scale

  /** Optimizer size estimate of a frame: its files' bytes for a scan,
    * the resident size for a materialized cache. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The profile session for a statement of the InfluxQL and PromQL
    * frontends reading `inputs`. A statement over a profile session's
    * frames — one a prepared query builds — keeps that profile: its plan
    * is built once and reused. An ad-hoc statement over a root's frames
    * runs at scale from [[smallInputBytes]] of summed [[planBytes]] on,
    * interpreted below: its request literals (time bounds, steps) are
    * inlined into generated Java, so its code never repeats and every
    * request paid a Janino compile per stage. (Measured at local[4]: 100k
    * resident rows ~2× the statements/s of generated code with 8
    * partitions; at 2M rows interpretation was 1-15% slower.) None when
    * the statement reads no frame. */
  def statementSession(inputs: Seq[DataFrame]): Option[SparkSession] =
    inputs.headOption.map { d =>
      val s = d.sparkSession
      if (synchronized(rootOf.containsKey(s))) s
      else if (inputs.distinct.map(planBytes).sum < smallInputBytes)
        profilesOf(s).interpreted
      else profilesOf(s).scale
    }

  /** Is `spark` one of the small-input profile sessions (small or
    * interpreted)? A root, or any session not built here, is not,
    * whatever its confs say. */
  def isSmall(spark: SparkSession): Boolean = profileOf(spark).exists(_ != "scale")

  /** Is `spark` the small profile of prepared queries (`session` below
    * the gate)? Ad-hoc statements never run on it. */
  def isPrepared(spark: SparkSession): Boolean = profileOf(spark).contains("small")

  private def profileOf(spark: SparkSession): Option[String] =
    synchronized(Option(rootOf.get(spark)).map(_.profile))

  /** Profile-following total order for a DATA-GROWING result (per-point /
    * per-doc outputs, high-cardinality tag lists): under the small-input
    * profile — where the input-size gate itself bounds the result and a
    * range sort's partition-bounds sampling job (a separate job that
    * re-executes the whole final stage) is pure scheduling floor — sort
    * in one task; at scale keep the scalable range-partitioned `orderBy`
    * (the q48 rule: a single-task sort of a data-growing result dominates
    * the query at ×100). Identical rows and total order on both paths. */
  def boundedSort(df: DataFrame,
                  cols: org.apache.spark.sql.Column*): DataFrame =
    if (isSmall(df.sparkSession))
      df.repartition(1).sortWithinPartitions(cols: _*)
    else df.orderBy(cols: _*)

  /** Collect a LIMIT-bounded probe in ONE scheduled job.
    * `Dataset.limit(n).collect()` runs executeTake, whose incremental
    * partition scan (1 → 4 → 16 …) schedules a separate job per
    * iteration — right for a genuine early-stop LIMIT over a huge scan,
    * pure job floor for a probe expected to return (nearly) all of its
    * rows (q104's two resident collects paid 3 jobs each this way; a
    * gateway `query_range` collect paid 3 where 1 does). Here every
    * partition keeps its first `n` rows in one job and the driver keeps
    * the first `n` of those, on the frame's own session. */
  def takeAll[T](ds: org.apache.spark.sql.Dataset[T], n: Int): Array[T] =
    ds.mapPartitions(_.take(n))(ds.encoder).collect().take(n)

  /** Broadcast `df` under its session's profile: the hint at scale, a
    * plain (shuffle) join under the small profile, where a broadcast build
    * would be its own scheduled job before the main one. The rule is the
    * job count, not the frame's role: dimension tables follow it too (q03's
    * nation⋈region, q20's part). An unconditional `broadcast()` stays only
    * where it was measured to win on both profiles. */
  def maybeBroadcast(df: DataFrame): DataFrame =
    if (isSmall(df.sparkSession)) df else broadcast(df)
}
