package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Hop-bounded graph traversal — the reference's experimental GRAPH
  * statement (`influxql/ast.go:12282` `GraphStatement{NodeCondition,
  * EdgeCondition, HopNum, StartNodeId}`, `DataType Graph = 11` at
  * `ast.go:78`), which answers "which nodes are reachable from the start
  * node within N hops, and at what minimum distance".
  *
  * Spark-first shape, two tiers chosen per hop by frontier size:
  *
  * - **Driver frontier** (the normal case): BFS from ONE start node has
  *   frontiers that are tiny relative to the edge frame, so the frontier
  *   lives driver-side and each hop is a single distributed job —
  *   `edges.filter(src isin frontier)` (an `InSet` predicate that reaches
  *   the parquet scan, so row-group stats prune) + distinct + collect of
  *   the small dst set. No shuffle of the edge frame, no checkpoint, no
  *   broadcast build: one scan per hop. This is the Pregel "small
  *   frontier as shared state" optimization.
  * - **Distributed fallback**: past `maxDriverFrontier` nodes the hop
  *   switches to a join of the edge frame against the frontier/visited
  *   frames (broadcast while they fit, shuffle beyond), with
  *   `localCheckpoint` lineage truncation per level. Correctness is
  *   identical; on a real cluster the edge frame would be pre-bucketed
  *   by `src` to make every such hop a co-located join.
  */
object Graph {

  /** The full GRAPH statement surface (`ast.go:12282`): `EdgeCondition`
    * restricts which edges may be traversed, `NodeCondition` which
    * nodes — an edge is walkable only when it satisfies the edge
    * condition AND both endpoints are condition-satisfying nodes. The
    * start node is always reported (the reference anchors traversal at
    * StartNodeId regardless of conditions). Conditions are plain
    * Columns over the caller's edge/node frames; the node restriction
    * compiles to two semi-joins against the allowed-node set, which
    * AQE broadcasts while it is small — the edge frame never shuffles. */
  def hopsFiltered(edges: DataFrame, start: Long, hopNum: Int,
                   edgeCond: Option[org.apache.spark.sql.Column] = None,
                   nodes: Option[(DataFrame, org.apache.spark.sql.Column)] =
                     None,
                   maxDriverFrontier: Int = 1 << 17,
                   undirected: Boolean = false): DataFrame = {
    val e1 = edgeCond.map(edges.filter).getOrElse(edges)
    nodes match {
      case Some((nodeDf, cond)) =>
        val allowed = nodeDf.filter(cond).select(col("node_id"))
        // The node condition compiles to two semi-joins INSIDE the edge
        // plan, so the restricted topology is ONE collect action (one
        // scheduled job) on the resident tier — not a separate allowed-id
        // collect racing the edge collect. The canonical-plan memo key
        // includes the conditions, so distinct restrictions of one
        // resident topology memoize independently.
        val e2 = e1.join(allowed.withColumnRenamed("node_id", "src"),
            Seq("src"), "left_semi")
          .join(allowed.withColumnRenamed("node_id", "dst"),
            Seq("dst"), "left_semi")
        if (graft.ExecProfile.planBytes(allowed) <= maxResidentBytes &&
            graft.ExecProfile.planBytes(e1) <= maxResidentBytes) {
          val sel = e2.select(col("src").cast("long"),
            col("dst").cast("long"))
          tryResident(sel, start, hopNum, undirected) match {
            case Some(df) => return df
            case None => ()
          }
        }
        hops(e2, start, hopNum, maxDriverFrontier, undirected)
      case None => hops(e1, start, hopNum, maxDriverFrontier, undirected)
    }
  }

  /** Resident-topology tier guard: how large an edge frame we are
    * willing to hold as a driver-side adjacency. The reference's graph
    * service keeps the WHOLE topology in process memory and traverses
    * in-memory (`services/castor`-adjacent graph feature; SURVEY §2.10)
    * — 256 MB of (src, dst) pairs is ~8M edges, far above the bench
    * graphs and far below driver heap. Beyond it the frontier tiers
    * below take over; at 100 TB the stats estimate is in the terabytes
    * and this tier never engages. */
  private def maxResidentBytes = BigInt(
    sys.props.get("graft.graph.maxResidentBytes").map(_.toLong)
      .getOrElse(256L << 20)) // test hook: set 0 to force frontier tiers

  /** Driver-resident adjacency memo for caller-persisted (resident) edge
    * frames — repeated GRAPH statements over the same topology traverse
    * pure memory, exactly the reference's model.
    *
    * Keying/invalidation (sessions are weak keys, so a stopped session's
    * topologies are collectable):
    *  - the inner key is the FULL canonicalized plan AFTER cached-data
    *    substitution (`withCachedData`): a caller-persisted frame keys on
    *    its InMemoryRelation, so unpersisting and rebuilding over updated
    *    source files (new file listing → different relation) misses the
    *    memo instead of serving a stale topology, and two different
    *    topologies can never collide the way a 32-bit semanticHash could;
    *  - entries are LRU-bounded at [[maxMemoTopologies]];
    *  - [[invalidateResident]] is the explicit drop-hook for callers that
    *    mutate data behind an identical plan. */
  private type MemoKey =
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Boolean)
  private val maxMemoTopologies = 16
  private val adjMemo = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.LinkedHashMap[MemoKey,
      scala.collection.mutable.LongMap[Array[Long]]]]()

  private def memoFor(spark: org.apache.spark.sql.SparkSession) =
    adjMemo.synchronized {
      var m = adjMemo.get(spark)
      if (m == null) {
        m = new java.util.LinkedHashMap[MemoKey,
          scala.collection.mutable.LongMap[Array[Long]]](
          maxMemoTopologies + 1, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[MemoKey,
            scala.collection.mutable.LongMap[Array[Long]]]) =
            size() > maxMemoTopologies
        }
        adjMemo.put(spark, m)
      }
      m
    }

  /** Drop every memoized resident topology for `spark` — the invalidation
    * hook for callers that changed data behind an unchanged plan. */
  def invalidateResident(spark: org.apache.spark.sql.SparkSession): Unit =
    adjMemo.synchronized {
      val m = adjMemo.get(spark); if (m != null) m.clear()
    }

  /** Freshness fingerprint of a plan's file sources: (path, mtime, size)
    * per leaf input file. Included in the memo key so regenerating data
    * at the SAME path (same canonical plan) misses the memo instead of
    * serving a stale topology. None (= never memoize) when the source
    * set is too large to stat cheaply or non-file-based. */
  private def sourceFingerprint(df: DataFrame): Option[String] = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    leaves.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            files ++= fs.location.inputFiles
          case _ => return None
        }
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // a caller-persisted frame: its identity is already in the
        // canonical plan (the relation), and its contents are frozen
        // by definition of persist — nothing to stat
        ()
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      case _ => return None
    }
    if (files.length > 1024) return None
    val sb = new StringBuilder
    files.sorted.foreach { f =>
      val p = java.nio.file.Paths.get(java.net.URI.create(
        if (f.contains(":/")) f else s"file://$f"))
      val (m, s) =
        try {
          val a = java.nio.file.Files.readAttributes(
            p, classOf[java.nio.file.attribute.BasicFileAttributes])
          (a.lastModifiedTime.toMillis, a.size)
        } catch { case _: Exception => return None }
      sb.append(f).append(':').append(m).append(':').append(s).append('|')
    }
    Some(sb.result())
  }

  /** Resident-tier BFS: collect the (already small-by-stats) edge frame,
    * build / reuse a driver adjacency, traverse in memory. Returns None
    * when the stats under-estimated and the frame is too big after all
    * (the frontier tiers then run unchanged) — the collect itself is
    * bounded by a limit(cap+1), so an under-estimate costs at most cap+1
    * rows of driver memory, never an unbounded materialization. */
  private val residentEdgeCap = 8 << 20
  private def tryResident(sel: DataFrame, start: Long, hopNum: Int,
                          undirected: Boolean = false)
      : Option[DataFrame] = {
    val spark = sel.sparkSession
    import spark.implicits._
    // memo key: full canonicalized plan (after cached-data substitution,
    // so a persisted frame keys on its InMemoryRelation) + source-file
    // freshness fingerprint + direction. Non-fingerprintable sources
    // (streaming, exotic relations) never memoize.
    val fp = sourceFingerprint(sel)
    val key: Option[MemoKey] = fp.map(f =>
      (sel.queryExecution.withCachedData.canonicalized, f, undirected))
    val memo = memoFor(spark)
    val memoized = key.flatMap(k =>
      memo.synchronized(Option(memo.get(k))))
    val adjOpt = memoized.orElse {
      val pairs = graft.ExecProfile.takeAll(
        sel.as[(Long, Long)], residentEdgeCap + 1)
      if (pairs.length > residentEdgeCap) None // stats under-estimated
      else {
        val adj = buildAdjacency(pairs, undirected)
        key.foreach(k => memo.synchronized(memo.put(k, adj)))
        Some(adj)
      }
    }
    adjOpt.map { adj =>
      val visited = scala.collection.mutable.LongMap[Int](start -> 0)
      var frontier: Array[Long] = Array(start)
      var h = 0
      while (h < hopNum && frontier.nonEmpty) {
        h += 1
        val nb = new scala.collection.mutable.ArrayBuilder.ofLong
        frontier.foreach(n => adj.get(n).foreach(nb.addAll(_)))
        val next = nb.result().distinct.filter(!visited.contains(_))
        next.foreach(visited(_) = h)
        frontier = next
      }
      visited.toSeq.map { case (n, hp) => (n, hp) }
        .toDF("node_id", "hop").coalesce(1)
    }
  }

  private def buildAdjacency(pairs: Array[(Long, Long)],
                             undirected: Boolean = false)
      : scala.collection.mutable.LongMap[Array[Long]] = {
    val acc = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuilder.ofLong]
    var i = 0
    while (i < pairs.length) {
      val (s, d) = pairs(i)
      acc.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuilder.ofLong)
        .addOne(d)
      if (undirected)
        acc.getOrElseUpdate(d,
          new scala.collection.mutable.ArrayBuilder.ofLong).addOne(s)
      i += 1
    }
    val out = scala.collection.mutable.LongMap.empty[Array[Long]]
    acc.foreachEntry((k, b) => out(k) = b.result())
    out
  }

  /** Nodes within `hopNum` hops of `start`, with their minimum hop
    * distance: (node_id, hop), hop 0 = the start node itself.
    * `edges` must have `src`/`dst` columns. For an undirected graph
    * pass the DIRECTED frame with `undirected = true` — the resident
    * tier symmetrizes in memory while building the adjacency and the
    * frontier tiers union the reversed frame, so the source is scanned
    * once instead of twice per traversal. */
  def hops(edges: DataFrame, start: Long, hopNum: Int,
           maxDriverFrontier: Int = 1 << 17,
           undirected: Boolean = false): DataFrame = {
    require(hopNum >= 0 && hopNum <= 16, s"hopNum out of range: $hopNum")
    val spark = edges.sparkSession
    import spark.implicits._
    // persist the edge frame across hops (Pregel-style): hop 1 pays the
    // scan + cache materialization, hops 2..N read executor memory (and
    // spill to disk, not recompute, under pressure) instead of re-running
    // the source scan per round. A caller that already persisted `edges`
    // (a resident graph, the reference's model — its graph feature keeps
    // the topology in memory across statements) owns the lifecycle: we
    // neither re-persist nor unpersist, so repeated traversals reuse one
    // materialization instead of paying scan+cache-build per query.
    val callerCached =
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val sel = edges.select(col("src").cast("long"), col("dst").cast("long"))

    // Tier 0 — resident topology. When the edge frame is small by plan
    // stats, collect it once and traverse driver memory: the whole BFS
    // costs ONE light job (ZERO for a memoized resident frame) plus the
    // result materialization, instead of one scan job per hop. This is
    // the reference's own architecture — its graph feature answers
    // traversals from an in-memory topology, not storage — and the
    // stats guard keeps the tier to graphs that trivially fit: at
    // 100 TB the estimate is in the terabytes and BFS goes straight to
    // the frontier tiers below.
    if (graft.ExecProfile.planBytes(sel) <= maxResidentBytes) {
      tryResident(sel, start, hopNum, undirected) match {
        case Some(df) => return df
        case None => () // fall through to the frontier tiers
      }
    }

    val selSym = if (undirected)
      sel.union(sel.select(col("dst").as("src"), col("src").as("dst")))
    else sel
    val e = if (callerCached) selSym
      else selSym.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // driver tier: visited map node -> hop, frontier as a plain array
    val visited = scala.collection.mutable.LongMap[Int](start -> 0)
    var frontier: Array[Long] = Array(start)
    var h = 0
    while (h < hopNum && frontier.nonEmpty &&
        frontier.length <= maxDriverFrontier &&
        visited.size <= maxDriverFrontier) {
      h += 1
      // map-side-only dedup (mapPartitions toSet): the hop stays ONE
      // narrow job — scan with the InSet predicate pushed down, no
      // shuffle stage — and the driver's visited map finishes the
      // dedup. Memory is the per-partition distinct dst count, the same
      // bound a map-side hash aggregate would use; cross-partition
      // duplicates inflate the collect by at most #partitions ×
      // |distinct dst|, which the driver-tier guard already bounds.
      // Frontier membership is ALWAYS a predicate, never a join: the
      // optimizer folds a >10-literal In into InSet (hash-set lookup,
      // O(1) expression nodes at runtime) and the predicate reaches
      // parquet row-group stats, so every hop stays ONE single-stage
      // job. The broadcast-join alternative costs an exchange that AQE
      // materializes as 1-2 extra scheduled jobs per hop — measured
      // 3x the scheduling floor on the bench's 3-hop queries.
      val matched =
        e.filter(col("src").isInCollection(frontier.toIndexedSeq))
      val next = matched
        .select(col("dst")).as[Long]
        // primitive sort-dedup (no per-element hash allocations — the
        // matched dst stream is the hop's hot loop)
        .mapPartitions { it =>
          val arr = it.toArray
          java.util.Arrays.sort(arr)
          var n = 0
          var i = 0
          while (i < arr.length) {
            if (n == 0 || arr(n - 1) != arr(i)) { arr(n) = arr(i); n += 1 }
            i += 1
          }
          arr.iterator.take(n)
        }
        .collect().distinct
        .filter(!visited.contains(_))
      next.foreach(visited(_) = h)
      frontier = next
    }

    // one partition: the driver-tier result is small by construction
    // (≤ maxDriverFrontier), and a single-partition child satisfies
    // every required distribution — the caller's sort/agg/count plans
    // exchange-free (one scheduled job instead of an AQE stage pair)
    val driverPart = visited.toSeq.map { case (n, hp) => (n, hp) }
      .toDF("node_id", "hop").coalesce(1)
    if (h >= hopNum || frontier.isEmpty) {
      if (!callerCached) e.unpersist(blocking = false) // BFS done
      return driverPart
    }

    // distributed fallback for the (rare) giant-frontier remainder.
    // `levels` always holds every visited level INCLUDING the current
    // frontier (driverPart covers the hand-off frontier).
    val eCk = e.localCheckpoint(true)
    val broadcastable = 1000000L
    var levels = List(driverPart.localCheckpoint(true))
    var fr = frontier.toSeq.map((_, h)).toDF("node_id", "hop")
      .localCheckpoint(true)
    var frontierN = frontier.length.toLong
    var visitedN = visited.size.toLong
    while (h < hopNum && frontierN > 0) {
      h += 1
      val visitedIds = levels.map(_.select("node_id")).reduce(_ union _)
      val frJ = if (frontierN <= broadcastable) broadcast(fr) else fr
      val vi = if (visitedN <= broadcastable) broadcast(visitedIds)
               else visitedIds
      val next = eCk.join(frJ, frJ("node_id") === eCk("src"))
        .select(eCk("dst").as("node_id")).distinct()
        .join(vi, Seq("node_id"), "left_anti")
        .withColumn("hop", lit(h))
        // truncate lineage: hop h's plan must not re-derive hops 1..h-1
        .localCheckpoint(true)
      levels ::= next
      fr = next
      frontierN = next.count() // cached — a fast cache-scan job
      visitedN += frontierN
    }
    if (!callerCached) e.unpersist(blocking = false) // levels are localCheckpoint-ed
    levels.reduce(_ union _)
  }
}
