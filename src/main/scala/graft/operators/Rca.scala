package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Root-cause fault demarcation — the reference's `rca` table function
  * (`engine/executor/rca.go:160` FaultDemarcation): given anomaly/alarm
  * events per entity and a service topology, start from a core entity's
  * anomaly timestamps and carve out the subgraph the fault plausibly
  * propagated through.
  *
  * Demarcation contract re-expressed Spark-first (not a chunk-for-chunk
  * port of the nested BFS):
  *
  *  - an entity is CORRELATED when it has an event whose timestamp lies
  *    within the type's window of SOME core anomaly timestamp —
  *    ±30 min for `anomaly` timestamps and alarm end-times, ±2 h for
  *    alarm/event start and creation times (`rca.go:83` isAnomaly);
  *  - correlated entities reachable from the core through chains of
  *    correlated entities each at most `hopCount` hops apart EXPAND the
  *    search (`rca.go` outer queue: only anomalous nodes explore);
  *  - non-correlated entities within `hopCount` hops of an expanded
  *    entity are included as fringe but never expand;
  *  - the result is the induced subgraph over included entities — the
  *    same edge set the reference accumulates (edges whose far endpoint
  *    is already visited).
  *
  * Core timestamps are collected driver-side (one entity's anomaly
  * list — the reference does the same in extractCoreAnomalyTimestamps);
  * correlation is a distributed map-side test against that broadcast
  * list; each expansion hop is one distributed neighbor join, frontier
  * driver-side like [[Graph]]'s driver tier.
  */
object Rca {

  /** Correlation window per event type (`rca.go:85-88`). */
  private def windowMs(eventType: Column): Column =
    when(eventType === "anomaly" || eventType === "alarm_end",
      lit(30L * 60 * 1000)).otherwise(lit(120L * 60 * 1000))

  /** Lower the reference's annotations shape — rows of (entity_id,
    * type, annotations JSON) per `rca.go:36-51` — to the flat
    * (entity_id, event_type, event_ms) frame [[faultDemarcation]]
    * consumes. Anomalies explode their `timestamps` array; alarms with
    * an `end_time` get the tight window (type `alarm_end`), otherwise
    * `start_time`/`create_time` get the loose one. */
  def eventsFromAnnotations(df: DataFrame): DataFrame = {
    val ann = col("annotations")
    val anomalies = df.filter(col("type") === "anomaly")
      .select(col("entity_id"), lit("anomaly").as("event_type"),
        explode(from_json(get_json_object(ann, "$.timestamps"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))).as("event_ms"))
    val alarmEnd = df.filter(col("type") =!= "anomaly" &&
        get_json_object(ann, "$.end_time").isNotNull)
      .select(col("entity_id"), lit("alarm_end").as("event_type"),
        get_json_object(ann, "$.end_time").cast("long").as("event_ms"))
    val loose = df.filter(col("type") =!= "anomaly" &&
        get_json_object(ann, "$.end_time").isNull)
      .select(col("entity_id"), col("type").as("event_type"),
        coalesce(get_json_object(ann, "$.start_time").cast("long"),
          get_json_object(ann, "$.create_time").cast("long"))
          .as("event_ms"))
      .filter(col("event_ms").isNotNull)
    anomalies.unionByName(alarmEnd).unionByName(loose)
  }

  /** The expansion fixpoint over a driver-resident topology: identical
    * semantics to the frontier tiers (RcaSpec asserts tier equivalence),
    * pure in-process — the reference's own execution model. */
  private def residentFixpoint(spark: org.apache.spark.sql.SparkSession,
                               pairs: Array[(String, String)],
                               corrSet: Set[String], core: String,
                               hopCount: Int, maxRounds: Int)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val adj = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    pairs.foreach { case (s0, d0) =>
      adj.getOrElseUpdate(s0,
        scala.collection.mutable.ArrayBuffer.empty[String]) += d0
    }
    var expanded = Set(core)
    var included = Set(core)
    var newlyExp = Set(core)
    var rounds = 0
    while (newlyExp.nonEmpty && rounds < maxRounds) {
      rounds += 1
      var reach = newlyExp
      var frontier = newlyExp
      var h = 0
      while (h < hopCount && frontier.nonEmpty) {
        h += 1
        val nextIds = frontier.flatMap(n =>
          adj.get(n).map(_.toSeq).getOrElse(Seq.empty))
        frontier = nextIds -- reach
        reach ++= nextIds
      }
      included ++= reach
      newlyExp = reach.filter(id => corrSet(id) || id == core) -- expanded
      expanded ++= newlyExp
    }
    val nodes = included.toSeq.sorted
      .map(id => (id, corrSet(id) || id == core, expanded.contains(id)))
      .toDF("entity_id", "correlated", "expanded").coalesce(1)
    val inducedEdges = pairs.toSeq
      .filter { case (s0, d0) => included(s0) && included(d0) }
      .toDF("src", "dst").coalesce(1)
    (nodes, inducedEdges)
  }

  /** Fault demarcation from `core`. `events`: (entity_id, event_type,
    * event_ms); `edges`: (src, dst) — pass the symmetrized frame for an
    * undirected topology. Returns (nodes, edges): nodes carry
    * (entity_id, correlated, expanded); edges is the induced subgraph.
    * `maxRounds` bounds the outer expansion (each round must discover a
    * new correlated entity to continue, so it is a safety rail, not a
    * tuning knob).
    *
    * Two tiers, same shape as [[Graph.hops]]: the correlated set is
    * NEVER collected whole — it stays a DataFrame, and the driver only
    * ever sees reach-sized slices of it, each row tagged with its
    * correlation flag by a join. Past `maxDriverFrontier` reached
    * entities the whole fixpoint moves to DataFrame form (semi-join /
    * anti-join rounds with localCheckpoint lineage truncation), and the
    * induced subgraph is always two semi-joins — no `isin` literal over
    * the included set ever enters a plan. */
  def faultDemarcation(events: DataFrame, edges: DataFrame, core: String,
                       hopCount: Int = 2,
                       maxRounds: Int = 16,
                       maxDriverFrontier: Int = 1 << 17)
      : (DataFrame, DataFrame) = {
    require(hopCount >= 1 && hopCount <= 8, s"hopCount out of range")
    val spark = events.sparkSession
    import spark.implicits._

    // ---- fully-resident tier ----------------------------------------
    // The reference runs the whole demarcation over in-process maps
    // (rca.go:160); when BOTH the event feed and the topology are small
    // by plan stats, collect each once (limit-bounded) and run
    // everything — core timestamps, correlation windows, the expansion
    // fixpoint — in driver memory: 2 scheduled jobs + the result
    // materialization, instead of one collect per hop per round. Stats
    // under-estimates fall through; at 100 TB neither guard engages.
    val residentBytes = BigInt(256L << 20)
    val evCap = 1 << 21
    val edgeCap = 8 << 20
    val evSel = events.select(col("entity_id").cast("string"),
      col("event_type").cast("string"), col("event_ms").cast("long"))
    val selR =
      edges.select(col("src").cast("string"), col("dst").cast("string"))
    if (graft.ExecProfile.planBytes(evSel) <= residentBytes &&
        graft.ExecProfile.planBytes(selR) <= residentBytes) {
      val evRows =
        graft.ExecProfile.takeAll(
          evSel.as[(String, String, Long)], evCap + 1)
      if (evRows.length <= evCap) {
        val pairs = graft.ExecProfile.takeAll(
          selR.as[(String, String)], edgeCap + 1)
        // maxDriverFrontier bounds every driver-resident NODE set, this
        // tier's included: topology endpoints are its superset
        val nodeBound = pairs.iterator
          .flatMap(p => Iterator(p._1, p._2)).toSet.size
        if (pairs.length <= edgeCap && nodeBound <= maxDriverFrontier) {
          val coreTsR = evRows
            .collect { case (e, t, ms) if e == core && t == "anomaly" => ms }
            .distinct.sorted
          require(coreTsR.nonEmpty,
            s"no anomaly timestamps for core entity $core")
          def winMs(t: String): Long =
            if (t == "anomaly" || t == "alarm_end") 30L * 60 * 1000
            else 120L * 60 * 1000
          def nearCore(ms: Long, w: Long): Boolean = {
            val i = java.util.Arrays.binarySearch(coreTsR, ms)
            if (i >= 0) true
            else {
              val ins = -i - 1
              (ins < coreTsR.length && coreTsR(ins) - ms <= w) ||
                (ins > 0 && ms - coreTsR(ins - 1) <= w)
            }
          }
          val corrSet = evRows.iterator
            .collect { case (e, t, ms) if nearCore(ms, winMs(t)) => e }
            .toSet
          return residentFixpoint(spark, pairs, corrSet, core, hopCount,
            maxRounds)
        }
      }
    }

    // the core's anomaly timestamps (driver-side, one entity's list —
    // the reference does the same in extractCoreAnomalyTimestamps)
    val coreTs = events
      .filter(col("entity_id") === core && col("event_type") === "anomaly")
      .select(col("event_ms")).distinct().as[Long].collect().sorted
    require(coreTs.nonEmpty, s"no anomaly timestamps for core entity $core")

    // distributed correlation test: any event within its window of any
    // core timestamp (the timestamp list rides the plan as one literal).
    // At 100 TB its cardinality is #entities-with-events, unbounded,
    // which is exactly why the frontier tiers below never collect it
    // whole.
    val tsArr = array(coreTs.map(lit(_)).toIndexedSeq: _*)
    val correlatedPlan = events
      .filter(exists(tsArr,
        t => abs(col("event_ms") - t) <= windowMs(col("event_type"))))
      .select(col("entity_id")).distinct()

    // ---- resident tier ----------------------------------------------
    // The reference runs the WHOLE demarcation over in-process maps
    // (rca.go:160 works on collected annotation/topology state); mirror
    // that — same architecture as [[Graph]]'s tier 0 — when the topology
    // and the correlated set are small by plan stats: collect each ONCE
    // (limit-bounded, so an under-estimate costs a bounded collect and a
    // fall-through, never an OOM) and run the fixpoint in driver memory.
    // Three scheduled jobs total instead of (hopCount+1) per expansion
    // round. At 100 TB the stats guard never engages and the frontier
    // tiers below run unchanged.
    if (graft.ExecProfile.planBytes(selR) <= residentBytes &&
        graft.ExecProfile.planBytes(correlatedPlan) <= residentBytes) {
      val pairs =
        graft.ExecProfile.takeAll(selR.as[(String, String)], edgeCap + 1)
      val nodeBound = pairs.iterator
        .flatMap(p => Iterator(p._1, p._2)).toSet.size
      if (pairs.length <= edgeCap && nodeBound <= maxDriverFrontier) {
        val corrArr = graft.ExecProfile.takeAll(
          correlatedPlan.as[String], maxDriverFrontier + 1)
        if (corrArr.length <= maxDriverFrontier)
          return residentFixpoint(spark, pairs, corrArr.toSet, core,
            hopCount, maxRounds)
      }
    }

    val correlatedDf = correlatedPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // caller-persisted topology (a resident service graph) keeps its
    // lifecycle; otherwise persist across hops and drop at the end —
    // same contract as [[Graph.hops]]
    val callerCached =
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val sel =
      edges.select(col("src").cast("string"), col("dst").cast("string"))
    val e = if (callerCached) sel
      else sel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- driver tier -----------------------------------------------
    // One topology hop: distinct dsts reachable from `frontier`. Stays
    // ONE single-stage job — cached edge scan with the frontier as an
    // InSet predicate (never a join below the driver bound), map-side
    // dedup, collect of a topology-sized set. Same shape as
    // [[Graph.hops]]' driver tier.
    def hopDsts(frontier: Set[String]): Set[String] = {
      val fr = frontier.toSeq
      val matched =
        if (fr.size <= 65536) e.filter(col("src").isInCollection(fr))
        else e.join(broadcast(fr.toDF("src")), "src")
      matched.select(col("dst")).as[String]
        .mapPartitions(it => it.toSet.iterator).collect().toSet
    }

    // Which of `ids` are correlated: ONE single-stage job per round —
    // a cached scan of correlatedDf under an InSet predicate. The
    // driver only ever sees reach-sized slices of the correlated set,
    // never the whole thing.
    def correlatedOf(ids: Set[String]): Set[String] =
      if (ids.isEmpty) Set.empty
      else correlatedDf
        .filter(col("entity_id").isInCollection(ids.toSeq))
        .as[String].collect().toSet

    val corrFlag = scala.collection.mutable.Map[String, Boolean](core -> true)
    var expanded = Set(core)
    var included = Set(core)
    // expansion frontier: only entities that became expanded LAST round
    // re-explore — reach(expanded) = ∪ per-entity balls, and the balls
    // of previously-expanded entities are already inside `included`
    var newlyExp = Set(core)
    var rounds = 0
    var overflow = false
    while (newlyExp.nonEmpty && rounds < maxRounds && !overflow) {
      rounds += 1
      // ball of radius hopCount around the new expansion frontier; the
      // reach-local dedup (`-- reach`) is the only pruning — paths may
      // legally pass through already-included entities
      var reach = newlyExp
      var frontier = newlyExp
      var h = 0
      while (h < hopCount && frontier.nonEmpty && !overflow) {
        h += 1
        val nextIds = hopDsts(frontier)
        frontier = nextIds -- reach
        reach ++= nextIds
        if ((included.size + reach.size) > maxDriverFrontier) overflow = true
      }
      if (!overflow) {
        val unknown = reach.filterNot(corrFlag.contains)
        val corr = correlatedOf(unknown)
        unknown.foreach(id => corrFlag(id) = corr.contains(id))
        included ++= reach
        newlyExp = reach.filter(id => corrFlag(id)) -- expanded
        expanded ++= newlyExp
      }
    }

    if (!overflow) {
      if (!callerCached) e.unpersist(blocking = false)
      correlatedDf.unpersist(blocking = false)
      val nodes = included.toSeq.sorted
        .map(id => (id, corrFlag.getOrElse(id, false) || id == core,
          expanded.contains(id)))
        .toDF("entity_id", "correlated", "expanded")
      // induced subgraph: membership via broadcast semi-joins (the
      // included set is driver-bounded here), never an isin literal
      val incDf = included.toSeq.toDF("entity_id")
      val inducedEdges = edges
        .join(broadcast(incDf.withColumnRenamed("entity_id", "src")),
          Seq("src"), "left_semi")
        .join(broadcast(incDf.withColumnRenamed("entity_id", "dst")),
          Seq("dst"), "left_semi")
      return (nodes, inducedEdges)
    }

    // ---- distributed fallback --------------------------------------
    // The reach outgrew the driver: the whole fixpoint continues in
    // DataFrame form. The partially-applied round above only ever ADDED
    // true members of the reach to `included`, so handing the current
    // sets off and re-running the round distributed is idempotent.
    var includedDf = included.toSeq.toDF("entity_id").localCheckpoint(true)
    var expandedDf = expanded.toSeq.toDF("entity_id").localCheckpoint(true)
    var grewD = true
    while (grewD && rounds < maxRounds) {
      rounds += 1
      var reach = expandedDf
      var frontier = expandedDf
      for (_ <- 1 to hopCount) {
        frontier = e
          .join(frontier.withColumnRenamed("entity_id", "src"), Seq("src"))
          .select(col("dst").as("entity_id")).distinct()
          .join(reach, Seq("entity_id"), "left_anti")
          // hop h's plan must not re-derive hops 1..h-1
          .localCheckpoint(true)
        reach = reach.union(frontier)
      }
      includedDf = includedDf.union(reach).distinct().localCheckpoint(true)
      val newly = reach
        .join(correlatedDf, Seq("entity_id"), "left_semi")
        .join(expandedDf, Seq("entity_id"), "left_anti")
        .distinct().localCheckpoint(true)
      grewD = newly.count() > 0
      expandedDf = expandedDf.union(newly).localCheckpoint(true)
    }
    if (!callerCached) e.unpersist(blocking = false)
    val nodes = includedDf
      .join(correlatedDf.withColumn("_c", lit(true)), Seq("entity_id"), "left")
      .join(expandedDf.withColumn("_x", lit(true)), Seq("entity_id"), "left")
      .select(col("entity_id"),
        (coalesce(col("_c"), lit(false)) || col("entity_id") === lit(core))
          .as("correlated"),
        coalesce(col("_x"), lit(false)).as("expanded"))
    val inducedEdges = edges
      .join(includedDf.withColumnRenamed("entity_id", "src"),
        Seq("src"), "left_semi")
      .join(includedDf.withColumnRenamed("entity_id", "dst"),
        Seq("dst"), "left_semi")
    (nodes, inducedEdges)
  }
}
