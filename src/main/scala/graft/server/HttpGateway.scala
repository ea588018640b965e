package graft.server

import com.sun.net.httpserver.HttpServer
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.query.{InfluxQL, LogPipe, PromQL}
import graft.streaming.StreamDDL
import graft.sources.{LineProtocol, OtlpLogs, OtlpMetrics, OtlpTraces, PromRemoteRead, PromRemoteWrite, ResultShaper}
import graft.sources.ResultShaper.jsonStr
import Routes.{Admin, Authed, Logkeeper, Meter, Open, Priv, Prom, Request, Router, route}

/** Minimal HTTP serving surface over the library, mirroring the
  * reference's httpd routes (`lib/util/lifted/influx/httpd/handler.go:264`
  * `/write`, `:276` `/query`, and the prom-compatible `/api/v1/…` family
  * at `handler.go:318-345`):
  *
  *   - `GET|POST /query` — InfluxQL. Params `q`, `epoch` (h/m/s/ms/u/ns,
  *     default ms), `chunked` + `chunk_size` (each chunk a complete JSON
  *     document on its own line, non-final chunks of a series marked
  *     `"partial":true` — `httpsender_transform.go`'s contract).
  *     `SELECT … INTO` registers the result as a new queryable
  *     measurement and reports `{"written":N}` rows.
  *   - `POST /write` — line protocol body. Param `precision` (n/u/ms/s/m/h,
  *     default ns — `handler.go` precision query arg). Schema-on-write
  *     type conflicts in the batch are rejected 400 like the reference's
  *     partial-write errors (`coordinator/write_helper.go:463`).
  *   - `GET /api/v1/query_range` — PromQL range query (`query`, `start`,
  *     `end`, `step`); Prometheus `matrix` response JSON.
  *   - `GET /api/v1/query` — PromQL instant query (`query`, `time`);
  *     `vector` response JSON.
  *   - `POST /api/v1/write` & `/api/v1/prom/write` — Prometheus remote
  *     write (snappy+protobuf `WriteRequest`, `handler_prom.go:86`).
  *   - `POST /api/v1/read` — Prometheus remote read (`ReadRequest` →
  *     raw-sample `ReadResponse`, `handler_prom.go:303`).
  *   - `GET /ping` — 204, like the reference's health probe.
  *
  * `/query` bodies come from the same [[ResultShaper]] the library path
  * uses — byte-identical by construction (ServerSpec asserts it). The
  * server binds loopback only and is the correctness harness's serving
  * veneer, not a hardened ingress. Documented divergences from the
  * reference: timestamps always epoch-encoded (no RFC3339 mode), and the
  * Prom range grid is step-aligned to the epoch (the engine's evalGrid)
  * rather than to `start`.
  *
  * All distributed work stays in Spark; handlers only trigger the final
  * collect that the reference's single-node HTTP sender performs too.
  */
final class HttpGateway(spark: SparkSession,
                        init: Map[String, InfluxQL.Measurement],
                        prom: Map[String, PromQL.Metric],
                        port: Int = 0,
                        requireAuth: Boolean = false,
                        maxRowLimit: Int = 1000000,
                        persistDir: Option[String] = None) {

  /** Gateway-held user catalog (the reference's meta user store). User
    * management statements mutate it whether or not enforcement is on,
    * so SHOW USERS/GRANTS round-trip either way; `requireAuth` decides
    * whether requests must authenticate (`http-auth-enabled`). */
  val auth = new Auth

  // With `persistDir` set, every ingested batch (line protocol, prom
  // remote write, OTLP, Arrow, stream flushes) ALSO appends to the
  // [[Store]] there — the reference's WAL → TSSP durability, expressed
  // as Spark's storage format — and the meta files (database and user
  // catalogs, journals) live beside it. A fresh gateway over the same
  // dir restores everything previously written.
  private val store = persistDir.map(new Store(spark, _))
  private def metaLines(name: String): Seq[String] =
    store.toSeq.flatMap(_.metaLines(name))
  private def commitMeta(name: String, text: String): Unit =
    store.foreach(_.commitMeta(name, text))

  @volatile private var promCat = prom
  // prom metric STORES (`/prometheus/{metric_store}/api/v1/*`,
  // handler.go:397-433): one measurement holds every series of the
  // store, `__name__` as an ordinary label — queries against a store
  // resolve each metric selector onto that frame filtered by __name__
  @volatile private var promStores = Map.empty[String, PromQL.Metric]
  /** A metric store before its first write (`/api/v1/tsdb/{tsdb}`), and
    * what a query of a store nobody created reads. */
  private val emptyStore = {
    import org.apache.spark.sql.types._
    PromQL.Metric(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("__name__", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType)))),
      Seq("__name__"), "ts", "value")
  }
  // the one runtime knob SET CONFIG can change (statement_executor.go:
  // 2572 executeSetConfig — sql/logging.level only, everything else is
  // "unsupported config command"); rendered back by SHOW CONFIGS
  @volatile private var loggingLevel = "info"
  // geo fences (services/fence): id → circle; registered by writes to
  // the `fence` measurement, persisted to _fences.txt
  @volatile private var fences = Map.empty[String, Fence.Circle]
  private def persistFences(): Unit =
    commitMeta("_fences.txt", fences.values.toSeq.sortBy(_.id)
      .map(c => s"${enc(c.id)}\t${enc(c.geometryText)}").mkString("\n"))

  /** Store-scoped PromQL catalog: `get(name)` synthesizes the metric
    * view lazily (`__name__ = name` filter over the store frame), so
    * only names the query actually references are built. Name-regex
    * listing (`{__name__=~…}`) is not served in store mode — the
    * iterator is empty, matching the reference's store queries which
    * always address the mst. */
  private final class StoreCatView(m: PromQL.Metric)
      extends scala.collection.immutable.AbstractMap[String, PromQL.Metric] {
    import org.apache.spark.sql.functions.col
    override def get(name: String): Option[PromQL.Metric] =
      Some(m.copy(df = m.df.filter(col("__name__") === name),
        labels = m.labels.filterNot(_ == "__name__"), extentMs = None))
    override def iterator: Iterator[(String, PromQL.Metric)] =
      Iterator.empty
    override def removed(key: String): Map[String, PromQL.Metric] = this
    override def updated[V1 >: PromQL.Metric](key: String, value: V1)
        : Map[String, V1] = Map(key -> value)
  }

  // ------------------------------------------------ database catalog
  /** A CQ (`services/continuousquery/service.go` scheduler state): the
    * parsed statement, its text (SHOW CONTINUOUS QUERIES echoes it) and
    * the last-run instant; [[runContinuousQueries]] runs it. */
  private case class CqEntry(stmt: StreamDDL.StreamStatement,
                             text: String, lastRunMs: Long)

  /** A STREAM task (`app/ts-store/stream/` window caches): unlike a CQ,
    * [[runStreams]] flushes each closed window once, APPENDING to the
    * target; the DELAY is its entire late-data budget. */
  private case class StreamEntry(stmt: StreamDDL.StreamStatement,
                                 text: String, flushedUpToMs: Long)

  /** Everything one database owns, like the reference's DatabaseInfo
    * (`meta/database.go:21`): retention policies (born with `autogen`;
    * qualified `db.rp.m` refs validate against them), measurements by
    * bare name, the LOG-store measurements (logkeeper logstreams: rows
    * at one (series, ns) are DISTINCT records, per the consume cursor
    * contract, so the point merge never applies), CQs and streams by
    * name, subscriptions by (rp, name) (`services/subscriber`),
    * downsample policies by rp with rolled-up-to marks per
    * (measurement, tier) ([[DownSample]]), declared schemas
    * ([[MeasurementDDL]]), and the write path's bookkeeping:
    * `extents` is each measurement's known ns extent from write batches
    * (seeded from footer stats after a restart), which lets a batch that
    * cannot collide with an existing point SKIP the merge — an unknown
    * extent always merges — and `depths` counts unions per write lineage
    * since the last [[maybeCompact]]. */
  private case class Db(
      rps: Map[String, Retention.Rp] = Retention.autogen,
      msts: Map[String, InfluxQL.Measurement] = Map.empty,
      logStores: Set[String] = Set.empty,
      cqs: Map[String, CqEntry] = Map.empty,
      streams: Map[String, StreamEntry] = Map.empty,
      subs: Map[(String, String), StreamDDL.Subscription] =
        Map.empty,
      downsamples: Map[String, DownSample.Policy] = Map.empty,
      dsMarks: Map[(String, Int), Long] = Map.empty,
      schemas: Map[String, MeasurementDDL.Schema] = Map.empty,
      extents: Map[String, (Long, Long)] = Map.empty,
      depths: Map[String, Int] = Map.empty) {
    /** The default retention policy (the first one when none is). */
    def defaultRp: (String, Retention.Rp) =
      rps.find(_._2.default).getOrElse(rps.head)
  }

  /** The databases by name; the constructor's measurements belong to
    * the default one. The PromQL catalog stays a single namespace (the
    * prom API carries no database axis here). A request reads one
    * snapshot; updates run under the gateway's monitor. */
  val defaultDb = HttpGateway.DefaultDb
  @volatile private var dbs: Map[String, Db] = Map(defaultDb -> Db(msts = init))
  /** Whether the implicit default database is REAL to a user: it lists
    * in SHOW DATABASES once it holds data (constructor catalog, a
    * write, a measurement) or was CREATEd explicitly. */
  @volatile private var defaultDbTouched: Boolean =
    init.nonEmpty || prom.nonEmpty
  // GRANT/REVOKE validate names against this catalog (data.go:2919)
  auth.databaseExists = db => dbs.contains(db)

  /** Replace database `db` by `f` of it; a database that is not there
    * (dropped meanwhile) stays absent. Callers hold the monitor. */
  private def updDb(db: String)(f: Db => Db): Unit =
    dbs.get(db).foreach(d => dbs = dbs.updated(db, f(d)))
  /** Database `db`'s measurements, empty when it is not there. */
  private def mstsOf(db: String): Map[String, InfluxQL.Measurement] =
    dbs.get(db).fold(Map.empty[String, InfluxQL.Measurement])(_.msts)
  private def setMsts(db: String,
                      msts: Map[String, InfluxQL.Measurement]): Unit =
    updDb(db)(_.copy(msts = msts))

  /** One scheduler sweep at time `nowMs` (`service.go:178` Run loop ->
    * ExecuteContinuousQuery): a CQ is due when `nowMs` has advanced at
    * least EVERY (default: its GROUP BY interval) past its last run.
    * A due CQ recomputes the window
    * `[trunc(now) - max(FOR, EVERY, interval), trunc(now))` -- FOR is the
    * backfill horizon -- and MERGES the aggregation into the target
    * measurement: recomputed buckets replace, untouched history stays.
    * Returns the number of CQs executed. */
  def runContinuousQueries(nowMs: Long): Int = synchronized {
    import org.apache.spark.sql.functions.{col, timestamp_millis, unix_millis}
    var ran = 0
    for ((db, d) <- dbs; (name, e) <- d.cqs) {
      val st = e.stmt
      val bucketMs = math.max(1L, st.intervalNs / 1000000L)
      val everyMs = math.max(1L, st.every.getOrElse(st.intervalNs) / 1000000L)
      if (e.lastRunMs < 0 || nowMs >= e.lastRunMs + everyMs) {
        val end = Math.floorDiv(nowMs, bucketMs) * bucketMs
        val forMs = math.max(st.forNs.map(_ / 1000000L).getOrElse(0L),
          math.max(everyMs, bucketMs))
        val start = end - forMs
        val cat = mstsOf(db)
        if (end > start && cat.contains(st.from)) {
          val callsSql = st.calls
            .map { case (fn, f) => s"$fn($f)" }.mkString(", ")
          val groupBy = (Seq(s"time(${bucketMs}ms)") ++ st.tags)
            .mkString(", ")
          val sql = s"SELECT $callsSql FROM ${st.from} " +
            s"WHERE time >= ${start}000000 AND time < ${end}000000 " +
            s"GROUP BY $groupBy"
          val res = InfluxQL.execute(cat, sql)
            .withColumn("__ts", timestamp_millis(col("time")))
          val merged = cat.get(st.target) match {
            case Some(old) =>
              val keep = old.df.filter(
                unix_millis(col(old.time)) < start ||
                  unix_millis(col(old.time)) >= end)
              InfluxQL.Measurement(
                keep.unionByName(res, allowMissingColumns = true),
                st.tags, old.time)
            case None => InfluxQL.Measurement(res, st.tags, "__ts")
          }
          setMsts(db, cat + (st.target -> merged))
          ran += 1
        }
        updDb(db)(x =>
          x.copy(cqs = x.cqs + (name -> e.copy(lastRunMs = nowMs))))
      }
    }
    ran
  }

  // ---- DDL durability: the reference's meta store is raft-journaled
  // (meta/data.go), so CQs, streams, subscriptions, downsample policies
  // and declared measurement schemas all survive a restart. Here every
  // registry mutation rewrites `_ddl.txt` (atomic, like _databases.txt)
  // with CANONICAL statement text regenerated from registry state, and
  // startup replays the lines through the same register functions.
  // Stream entries carry their flush high-water mark (exactly-once across
  // restarts); downsample marks are pure optimization (rollTier inputs
  // filter on __ds_tier, so re-sweeping is idempotent) and CQ lastRun
  // re-derives from EVERY (recompute-merge is idempotent).
  private def enc(s: String) = java.net.URLEncoder.encode(s, UTF_8)
  private def dec(s: String) = java.net.URLDecoder.decode(s, UTF_8)

  // ---- DML durability: destructive statements (DELETE, DROP SERIES,
  // DROP MEASUREMENT, DROP SHARD) mutate the in-memory catalog only —
  // the persisted parquet is append-only, so a restart would resurrect
  // deleted rows. Like the reference's raft-journaled meta deletes
  // (meta/data.go DropShard, store delete ops), every data-changing
  // statement appends to `_dml.txt` with its issue-time now() and is
  // replayed after data + DDL load. Tombstone-style on purpose: no
  // parquet is rewritten at delete time (the only viable delete at
  // scale); folding tombstones into files is Compaction's territory.
  private def journalDml(db: String, text: String, nowMs: Long): Unit =
    store.foreach(_.appendMeta("_dml.txt", s"${enc(db)}\t$nowMs\t${enc(text)}"))

  /** Run `f` on each journal line with its database, issue-time now()
    * and statement. The parse sits INSIDE the try, so a line truncated
    * by a crash mid-append is logged and skipped, not a boot abort; so
    * is a statement naming a measurement that is not there (in a fold:
    * an unpersisted one, whose live effect is already in memory). */
  private def eachDml(lines: Seq[String], what: String)(
      f: (String, String, Long, String) => Unit): Unit =
    lines.foreach { line =>
      try {
        val Array(dbE, nowE, textE) = line.split("\t", 3)
        f(line, dec(dbE), nowE.toLong, dec(textE))
      } catch { case e: Exception =>
        System.err.println(
          s"[gateway] DML $what skipped: $line (${e.getMessage})")
      }
    }

  /** Measurements `msts` of `db` after one journaled statement (a DROP
    * SHARD naming no group leaves them as they are). */
  private def applyDml(msts: Map[String, InfluxQL.Measurement], db: String,
                       text: String, nowMs: Long)
      : Map[String, InfluxQL.Measurement] =
    Statement.classify(text) match {
      case Statement.DropShard(sid) =>
        dropShardSlice(db, sid, msts).getOrElse(msts)
      case _ => Map.empty ++ InfluxQL.executeManage(msts, text, nowMs)
    }

  /** Replay journaled DML lines onto the LIVE catalog (restart, and
    * after a hierarchical sweep rebuilds entries from parquet). */
  private def replayDmlJournal(onlyDb: Option[String] = None): Unit =
    eachDml(metaLines("_dml.txt"), "replay") { (_, db, nowMs, text) =>
      if (onlyDb.forall(_ == db) && dbs.contains(db)) {
        val before = mstsOf(db)
        val after = applyDml(before, db, text, nowMs)
        setMsts(db, after)
        // replay propagates like live DML: the prom twins were
        // restored from the pre-tombstone parquet above
        propagateDml(db, before, after)
      }
    }

  /** Fold the DML journal into the persisted parquet — the
    * storage-maintenance half of the tombstone model (the reference's
    * compaction merges tombstones into TSSP files the same way;
    * [[graft.sources.Compaction]] is the small-file half). Re-applies
    * every journaled statement to a catalog built from the persisted
    * DIRS ONLY (the in-memory catalog already has them applied live),
    * atomically rewrites each changed dir, deletes dropped-measurement
    * dirs, and truncates the journal — after which a restart restores
    * the same state from data files alone and replay cost stops
    * growing with delete history. Returns the number of dirs rewritten
    * or removed. Idempotent: a crash between rewrite and truncate just
    * re-filters already-filtered rows on the next fold. */
  def foldDmlJournal(): Int = synchronized {
    val lines = metaLines("_dml.txt")
    if (lines.isEmpty || store.isEmpty) return 0
    // dir-only catalog, hot ∪ cold tier: the journal may hold
    // tombstones over rows the hierarchical sweep already moved cold —
    // folding only the hot tier then truncating would LOSE them. `day`
    // is kept so the rewrite stays day-partitioned; the rewrite drops
    // the cold dir and the next sweep re-tiers old partitions.
    var dirCat: Map[String, Map[String, InfluxQL.Measurement]] =
      store.get.measurements.flatMap { case (db, name) =>
        store.get.read(db, name).map(s =>
          (db, name, InfluxQL.Measurement(s.df, s.tags, "ts")))
      }.groupBy(_._1).map { case (db, ms) =>
        db -> ms.map(m => m._2 -> m._3).toMap }
    val beforeCat = dirCat
    // Lines whose statement touches an init (in-memory) measurement
    // cannot fully fold: tombstones over init rows live only in the
    // journal — retain exactly those so restart/reload replay keeps
    // filtering them. Everything else (parquet-backed targets) folds
    // into the rewrite below and is dropped, so the journal truncates
    // instead of growing without bound with delete history.
    // DROP SHARD prunes time ranges across every measurement — any init
    // measurement in the db may carry affected rows; a statement whose
    // target does not read is retained, conservatively
    def touchesInit(db: String, text: String): Boolean =
      db == defaultDb && init.nonEmpty && (Statement.classify(text) match {
        case Statement.DropShard(_) => true
        case _ => try {
          val c = new InfluxQL.Cursor(text)
          if (c.accept("delete")) c.expectIdent("from")
          else {
            c.expectIdent("drop")
            if (c.accept("series")) c.expectIdent("from")
            else c.expectIdent("measurement")
          }
          init.contains(c.ident())
        } catch { case _: RuntimeException => true }
      })
    val retained = Seq.newBuilder[String]
    eachDml(lines, "fold") { (line, db, nowMs, text) =>
      if (touchesInit(db, text)) retained += line
      dirCat = dirCat.updated(db,
        applyDml(dirCat.getOrElse(db, Map.empty), db, text, nowMs))
    }
    var n = 0
    for ((db, after) <- dirCat) {
      val before = beforeCat.getOrElse(db, Map.empty)
      (before.keySet -- after.keySet).foreach { name =>
        if (store.get.delete(db, name)) n += 1
      }
      for ((name, m) <- after if !before.get(name).exists(_.df eq m.df)) {
        store.get.rewrite(db, name, m.df)
        // the LIVE catalog entry still references the swapped-out
        // files (its df was built from the old listing at startup) —
        // rebuild exactly like a restart: init ∪ hot ∪ cold tier.
        // Caveats, documented: tombstones over init-catalog rows and
        // over already-cold partitions live in memory/journal only —
        // the fold rewrites the HOT tier it scanned.
        restoreEntry(db, name)
        n += 1
      }
    }
    commitMeta("_dml.txt", retained.result().map(_ + "\n").mkString)
    n
  }

  /** One hierarchical-storage sweep at `nowMs`
    * (`services/hierarchical/service.go` handle → the engine's
    * FetchShardsNeedChangeStore / hierarchical cold move): for every
    * database whose default RP sets WARM DURATION, day partitions
    * entirely older than now−warm MOVE from the persisted measurement
    * dirs into the [[Store]]'s cold tier — a separate storage root
    * standing in for the reference's OBS cold store. hot→warm alone is
    * a tier RELABEL (SHOW SHARDS' tier column derives from the
    * durations); warm→cold is the storage move, exactly the
    * reference's split. Queries keep seeing one measurement: affected
    * catalog entries rebuild as init ∪ hot ∪ cold. Returns the number
    * of partition dirs moved. */
  def runHierarchical(nowMs: Long): Int = synchronized {
    if (store.isEmpty) return 0
    // Fold pending tombstones into the parquet FIRST: the sweep's
    // restoreEntry rebuilds live entries straight from the files,
    // so an unfolded DELETE/DROP SHARD issued before the sweep would
    // silently resurrect its rows in the live session.
    foldDmlJournal()
    var moved = 0
    val touched = Set.newBuilder[String]
    dbs.foreach { case (db, d) =>
      val rp = d.defaultRp._2
      if (rp.warmS > 0) {
        val cutoffDay = java.time.Instant
          .ofEpochMilli(nowMs - rp.warmS * 1000L).toString.substring(0, 10)
        d.msts.keys.foreach { mst =>
          val n = store.get.moveCold(db, mst, cutoffDay)
          if (n > 0) {
            moved += n
            restoreEntry(db, mst)
            touched += db
          }
        }
      }
    }
    // Any journal lines the fold retained (init-catalog tombstones)
    // must re-filter the just-rebuilt entries, exactly like a restart.
    touched.result().foreach(db => replayDmlJournal(Some(db)))
    moved
  }

  private def renderSub(s: StreamDDL.Subscription): String =
    s"CREATE SUBSCRIPTION ${s.name} ON ${s.db}.${s.rp} DESTINATIONS " +
      s"${s.mode} " + s.destinations.map(u => s"'$u'").mkString(", ")

  private def renderDs(rp: String, p: DownSample.Policy): String = {
    val calls = p.calls.map(c => s"${c.tpe}(${c.ops.mkString(", ")})")
      .mkString(", ")
    s"CREATE DOWNSAMPLE ON $rp ($calls) WITH DURATION ${p.durationS}s " +
      s"SAMPLEINTERVAL(${p.sampleS.map(_ + "s").mkString(", ")}) " +
      s"TIMEINTERVAL(${p.timeS.map(_ + "s").mkString(", ")})"
  }

  private def renderMst(sc: MeasurementDDL.Schema): String = {
    val cols = (sc.tags.map(t => s"$t tag") ++
      sc.fields.map { case (n, t) => s"$n $t" })
    val colPart = if (cols.isEmpty) "" else cols.mkString(" (", ", ", ")")
    val opts = Seq(
      s"ENGINETYPE = ${sc.engineType}",
      if (sc.shardKey.nonEmpty)
        s"SHARDKEY ${sc.shardKey.mkString(",")} TYPE ${sc.shardType}" else "",
      if (sc.primaryKey.nonEmpty)
        s"PRIMARYKEY ${sc.primaryKey.mkString(",")}" else "",
      if (sc.sortKey.nonEmpty) s"SORTKEY ${sc.sortKey.mkString(",")}" else "",
      sc.indexes.map { case (n, cs) =>
        s"INDEXTYPE $n" + (if (cs.nonEmpty) s" INDEXLIST ${cs.mkString(",")}"
                           else "") }.mkString(" ")
    ).filter(_.nonEmpty).mkString(" ")
    s"CREATE MEASUREMENT ${sc.name}$colPart WITH $opts"
  }

  private def persistDdl(): Unit = {
    val byName = dbs.toSeq.sortBy(_._1)
    def lines[K: Ordering, V](of: Db => Map[K, V])(
        line: (String, K, V) => String): Seq[String] =
      byName.flatMap { case (db, d) =>
        of(d).toSeq.sortBy(_._1).map { case (k, v) => line(db, k, v) } }
    commitMeta("_ddl.txt", (
      lines(_.cqs)((db, _, e) => s"cq\t${enc(db)}\t-\t${enc(e.text)}") ++
      lines(_.streams)((db, _, e) =>
        s"stream\t${enc(db)}\t${e.flushedUpToMs}\t${enc(e.text)}") ++
      lines(_.subs)((db, _, s) =>
        s"sub\t${enc(db)}\t-\t${enc(renderSub(s))}") ++
      lines(_.downsamples)((db, rp, p) =>
        s"ds\t${enc(db)}\t-\t${enc(renderDs(rp, p))}") ++
      lines(_.schemas)((db, _, sc) =>
        s"mst\t${enc(db)}\t-\t${enc(renderMst(sc))}")).mkString("\n"))
  }

  /** Database `db`, or the "database not found" error. */
  private def dbNamed(db: String): Db =
    dbs.getOrElse(db, sys.error(s"database not found: $db"))

  // ---- registration (shared by the /query dispatch and DDL restore)
  private def registerCq(db: String, cq: StreamDDL.StreamStatement,
                         text: String): Unit = {
    val d = cq.onDb.getOrElse(db)
    dbNamed(d)
    updDb(d)(x => x.copy(cqs = x.cqs + (cq.name -> CqEntry(cq, text, -1L))))
  }
  private def registerStream(db: String, st: StreamDDL.StreamStatement,
                             text: String, flushed: Long): Unit = {
    if (dbNamed(db).streams.contains(st.name))
      sys.error(s"stream already exists: ${st.name}")
    updDb(db)(x =>
      x.copy(streams = x.streams + (st.name -> StreamEntry(st, text, flushed))))
  }
  private def registerSub(s: StreamDDL.Subscription): Unit = {
    val d = dbNamed(s.db)
    if (!d.rps.contains(s.rp))
      sys.error(s"retention policy not found: ${s.rp}")
    if (d.subs.contains((s.rp, s.name)))
      sys.error("subscription already exists")
    updDb(s.db)(x => x.copy(subs = x.subs + ((s.rp, s.name) -> s)))
  }
  private def registerDs(fallbackDb: String, p0: DownSample.Policy): Unit = {
    val db = p0.db.getOrElse(fallbackDb)
    val d = dbNamed(db)
    val rp = d.rps.getOrElse(p0.rp,
      sys.error(s"retention policy not found: ${p0.rp}"))
    val p = DownSample.validate(p0, rp.shardGroupS)
    if (d.downsamples.contains(p.rp))
      sys.error("downsample policy exists")
    updDb(db)(x => x.copy(downsamples = x.downsamples + (p.rp -> p)))
  }
  private def registerMst(fallbackDb: String,
                          sc: MeasurementDDL.Schema): Unit = {
    val db = sc.db.getOrElse(fallbackDb)
    val d = dbNamed(db)
    if (db == defaultDb) defaultDbTouched = true
    if (d.schemas.contains(sc.name)) {
      // a bare re-CREATE is idempotent (MeasurementCommands "retry
      // create measurement cpu" → success); one carrying options is a
      // STATEMENT-level conflict (the WITH SHARDKEY retry exp carries
      // the error inside the result object)
      val bare = sc.tags.isEmpty && sc.fields.isEmpty &&
        sc.shardKey.isEmpty && sc.indexes.isEmpty &&
        sc.primaryKey.isEmpty && sc.sortKey.isEmpty
      if (bare) return
      throw new InfluxQL.StatementError("measurement already exists")
    }
    import org.apache.spark.sql.types._
    def empty = {
      val cols = Seq(StructField("time", LongType),
          StructField("ts", TimestampType)) ++
        sc.tags.map(t => StructField(t, StringType)) ++
        sc.fields.map { case (n, t) => StructField(n, t match {
          case "int64" => LongType
          case "float64" => DoubleType
          case "bool" => BooleanType
          case _ => StringType
        }) }
      InfluxQL.Measurement(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(cols)), sc.tags, "ts")
    }
    updDb(db)(x => x.copy(schemas = x.schemas + (sc.name -> sc),
      msts = if (x.msts.contains(sc.name)) x.msts
             else x.msts + (sc.name -> empty)))
  }

  /** Derived shard-group view of a database: the day-partitioned parquet
    * dirs ARE the storage's shard groups here, so the metadata surface
    * derives groups from where data actually exists — one group per
    * occupied `shardGroupDuration` window of the default RP, exactly how
    * the reference creates groups lazily on write (`meta/data.go`
    * CreateShardGroup) and lists only non-deleted ones
    * (`data.go:1974/2015`). The group index doubles as the (stable,
    * deterministic) id, so DROP SHARD can name a group across restarts
    * without a persisted counter. */
  private def shardGroupsOf(db: String)
      : Seq[(String, Long, Long, Long, Long)] =
    shardGroupsIn(db, mstsOf(db))

  /** Tier of a shard group from the default RP's HOT/WARM bounds —
    * hot within hotS, warm past it, cold past warmS (util.Hot/Warm/
    * Cold tiers the hierarchical service moves between). */
  private def tierOf(db: String, endMs: Long, nowMs: Long): String = {
    val rp = dbs.getOrElse(db, Db()).defaultRp._2
    if (rp.warmS > 0 && endMs < nowMs - rp.warmS * 1000L) "cold"
    else if (rp.hotS > 0 && endMs < nowMs - rp.hotS * 1000L) "warm"
    else "hot"
  }

  private def shardGroupsIn(db: String,
      slice: Map[String, InfluxQL.Measurement])
      : Seq[(String, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{col, unix_millis}
    val (rpName, rp) = dbs.getOrElse(db, Db()).defaultRp
    val groupMs = math.max(1L, rp.shardGroupS * 1000L)
    val groups = slice.values.flatMap { m =>
      m.df.select((unix_millis(col(m.time)) / groupMs).cast("long").as("g"))
        .distinct().limit(10000).collect().map(_.getLong(0))
    }.toSet.toSeq.sorted
    groups.map { g =>
      val s = g * groupMs
      (rpName, g, s, s + groupMs, s + groupMs + rp.durationS * 1000L)
    }
  }

  /** Pure DROP SHARD application over a single-db slice (data.go:2271
    * DropShard): the filtered slice, or None when no group has id `sid`.
    * Group ids are absolute window numbers (start/groupDuration), so a
    * journaled drop replays onto the same window after a restart. */
  private def dropShardSlice(db: String, sid: Long,
      slice: Map[String, InfluxQL.Measurement])
      : Option[Map[String, InfluxQL.Measurement]] = {
    import org.apache.spark.sql.functions.{col, unix_millis}
    shardGroupsIn(db, slice).find(_._2 == sid).map { case (_, _, s0, e0, _) =>
      slice.map { case (mst, m) =>
        mst -> m.copy(df = m.df.filter(
          unix_millis(col(m.time)) < s0 ||
            unix_millis(col(m.time)) >= e0))
      }
    }
  }

  private def dropShardData(db: String, sid: Long): Boolean =
    dropShardSlice(db, sid, mstsOf(db)) match {
      case None => false
      case Some(upd) => setMsts(db, mstsOf(db) ++ upd); true
    }

  private def rfc3339(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  /** One stream sweep at `nowMs`: flush every window that closed at least
    * DELAY ago and hasn't been flushed, appending the windowed
    * aggregation of the landed rows to the target measurement. Windows
    * flush exactly once (per-stream high-water mark); rows arriving
    * after their window's flush are dropped by construction — the
    * reference's stream semantics, where DELAY is the late-data budget
    * (`app/ts-store/stream/time_task.go` window caches). Returns the
    * number of streams that flushed. */
  def runStreams(nowMs: Long): Int = synchronized {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    var ran = 0
    for ((db, d) <- dbs; (name, e) <- d.streams) {
      val st = e.stmt
      val bucketMs = math.max(1L, st.intervalNs / 1000000L)
      val delayMs = st.delayNs / 1000000L
      val bound = Math.floorDiv(nowMs - delayMs, bucketMs) * bucketMs
      val cat = mstsOf(db)
      if (bound > e.flushedUpToMs && cat.contains(st.from)) {
        val callsSql = st.calls
          .map { case (fn, f) => s"$fn($f)" }.mkString(", ")
        val groupBy = (Seq(s"time(${bucketMs}ms)") ++ st.tags)
          .mkString(", ")
        val lower =
          if (e.flushedUpToMs == Long.MinValue) ""
          else s"time >= ${e.flushedUpToMs}000000 AND "
        val sql = s"SELECT $callsSql FROM ${st.from} " +
          s"WHERE ${lower}time < ${bound}000000 GROUP BY $groupBy"
        // the time axis of a line-protocol frame (epoch-ns `time` LONG
        // beside the `ts` timestamp), so the live target and its copy
        // restored from disk read the same times
        val res = InfluxQL.execute(cat, sql)
          .withColumn("ts", timestamp_millis(col("time")))
          .withColumn("time", col("time") * 1000000L)
        if (!res.isEmpty) {
          // flushed windows are durable like any write: the mark below
          // journals flushed-once, so losing the rows would be data loss
          append(db, st.target, res, st.tags)
          ran += 1
        }
        updDb(db)(x => x.copy(streams =
          x.streams + (name -> e.copy(flushedUpToMs = bound))))
        // journal the advanced mark: flushed-once must hold across a
        // restart (replaying a flushed window would duplicate appends)
        persistDdl()
      }
    }
    ran
  }

  /** One downsample sweep at `nowMs`: for every policy and measurement of
    * its database, roll each tier forward to its bucket-aligned cutoff
    * (`now − sampleInterval(i)` floored to timeInterval(i)), ascending so
    * tier i's input is uniformly tier i−1 (nested, aligned buckets —
    * DownSample.rollTier doc), then drop rows older than DURATION (the
    * policy's retention side). Idempotent between data/clock advances:
    * the per-tier marks skip tiers whose cutoff hasn't moved. Returns the
    * number of (measurement, tier) rollups executed. */
  def runDownSamples(nowMs: Long): Int = synchronized {
    import org.apache.spark.sql.functions.{col, unix_millis}
    var ran = 0
    for ((db, d) <- dbs; pol <- d.downsamples.values) {
      mstsOf(db).foreach { case (mst, m) =>
        var df = m.df
        var changed = false
        for (i <- 1 to pol.sampleS.length) {
          val bucketMs = pol.timeS(i - 1) * 1000L
          val cutoff = Math.floorDiv(
            nowMs - pol.sampleS(i - 1) * 1000L, bucketMs) * bucketMs
          val mark = dbs.get(db).flatMap(_.dsMarks.get((mst, i)))
            .getOrElse(Long.MinValue)
          if (cutoff > mark) {
            df = DownSample.rollTier(df, m.time, m.tags, pol, i, cutoff)
            updDb(db)(x => x.copy(dsMarks = x.dsMarks + ((mst, i) -> cutoff)))
            changed = true
            ran += 1
          }
        }
        if (changed) {
          val kept = df.filter(
            unix_millis(col(m.time)) >= nowMs - pol.durationS * 1000L)
          setMsts(db, mstsOf(db) + (mst -> m.copy(df = kept)))
        }
      }
    }
    ran
  }

  /** A per-request single-database view over the database map:
    * iteration (SHOW MEASUREMENTS/SERIES/…) sees only the request
    * database's bare names, while `get` additionally resolves
    * `rp.m` / `db.rp.m` / `db..m` qualified spellings
    * (`influxql.Measurement{Database, RetentionPolicy, Name}`) — the
    * only retention policy is `autogen`, and a cross-database ref
    * resolves ONLY when the principal may read that database, so
    * qualified spellings cannot bypass authorization. */
  private final class CatalogView(
      base: Map[String, InfluxQL.Measurement],
      resolve: String => Option[InfluxQL.Measurement])
      extends scala.collection.immutable.AbstractMap[
        String, InfluxQL.Measurement] with InfluxQL.QualifiedResolver {
    override def get(k: String): Option[InfluxQL.Measurement] =
      base.get(k).orElse(resolve(k))
    override def iterator: Iterator[(String, InfluxQL.Measurement)] =
      base.iterator
    // mutation keeps the VIEW: a CTE registered mid-statement must not
    // strip qualified `db.rp.m` resolution from the catalog
    // (Push_Down_Rule_Incondition `WITH t1 AS (GRAPH …) … FROM
    // db0.rp0.alarm_table`)
    override def removed(k: String): Map[String, InfluxQL.Measurement] =
      new CatalogView(base - k, resolve)
    override def updated[V1 >: InfluxQL.Measurement](
        k: String, v: V1): Map[String, V1] = v match {
      case m: InfluxQL.Measurement =>
        new CatalogView(base.updated(k, m), resolve)
          .asInstanceOf[Map[String, V1]]
      case _ => base.updated(k, v)
    }
    override def size: Int = base.size
  }

  /** Database `db`'s request view, read from one snapshot of [[dbs]];
    * "database not found" when it is not there. */
  private def catalogFor(db: String, user: Option[Auth.User])
      : Map[String, InfluxQL.Measurement] = {
    val snap = dbs
    val base = snap.getOrElse(db, sys.error(s"database not found: $db")).msts
    def readable(d: String) = snap.contains(d) &&
      user.forall(_.authorizeDatabase(Auth.ReadPrivilege, d))
    def rpOk(d: String, rp: String) =
      rp.isEmpty || snap.get(d).exists(_.rps.contains(rp))
    new CatalogView(base, name => {
      // at most db.rp.<rest> — the measurement itself may carry dots
      // (`db0.rp0."SmartServer.serverkits_mem_monitor"`)
      val parts = name.split("\\.", 3)
      // a qualified spelling with an unknown retention policy is the
      // reference's shard-mapper error, verbatim — statement-level
      def rpCheck(d: String, rp: String): Unit =
        if (!rpOk(d, rp))
          throw new InfluxQL.StatementError(
            s"retention policy not found: $rp")
      if (parts.length == 2) {
        rpCheck(db, parts(0))
        base.get(parts(1)) // rp.m within the request database
      } else if (parts.length == 3 && readable(parts(0))) {
        rpCheck(parts(0), parts(1))
        snap(parts(0)).msts.get(parts(2)) // db.rp.m / db..m
      } else None
    })
  }

  /** Columns a log route renders into one JSON object: when the
    * measurement's TIMESTAMP column renders under the "time" key, the
    * raw ingest-time ns `time` long is internal — emitting it too
    * would produce a duplicate key. One rule, shared by the logs,
    * consume and context renderers. */
  private def logRenderCols(cols: Seq[String], timeCol: String): Seq[String] =
    // only when the TIMESTAMP column is actually present — a projection
    // that kept the raw long but dropped the timestamp renders it as-is
    if (timeCol != "time" && cols.contains(timeCol))
      cols.filterNot(_ == "time")
    else cols

  /** DML (DELETE / DROP SERIES / DROP MEASUREMENT / DROP SHARD) changed
    * some measurement frames — propagate to every cache layer that
    * could otherwise serve the deleted rows: the range-results cache is
    * dropped wholesale, and the prom twins (metric catalog + metric
    * stores) re-point at the mutated frame / disappear with a dropped
    * measurement. Callers hold `synchronized`. */
  private def propagateDml(db: String,
                           before: Map[String, InfluxQL.Measurement],
                           after: Map[String, InfluxQL.Measurement]): Unit = {
    // null during constructor-time journal replay (the cache val
    // initializes below the restore block) — nothing cached yet anyway
    if (resultsCache != null) resultsCache.invalidateAll()
    if (db == defaultDb) {
      val dropped = before.keySet -- after.keySet
      promCat = (promCat -- dropped).map { case (m, met) =>
        after.get(m) match {
          case Some(ms) if !(met.df eq ms.df) =>
            m -> met.copy(df = ms.df, extentMs = None)
          case _ => m -> met
        }
      }
      promStores = (promStores -- dropped).map { case (s, met) =>
        after.get(s) match {
          case Some(ms) if !(met.df eq ms.df) =>
            s -> met.copy(df = ms.df, extentMs = None)
          case _ => s -> met
        }
      }
    }
  }

  // ------------------------------------------------- write durability
  /** Register a persisted measurement the way a restart does: the init
    * frame ∪ its stored tiers, and its prom metric / metric store twin
    * when its dir is marked so (at boot, and after a fold or a
    * hierarchical sweep swapped the files under the live entry). */
  private def restoreEntry(db: String, name: String): Unit = {
    val isLog = dbs.get(db).exists(_.logStores(name))
    store.flatMap(_.restore(db, name, isLog)).foreach { s =>
      val initial = if (db == defaultDb) init.get(name) else None
      setMsts(db, mstsOf(db) + (name -> (initial match {
        case Some(prev) => InfluxQL.Measurement(
          prev.df.unionByName(s.df, allowMissingColumns = true),
          (prev.tags ++ s.tags).distinct, prev.time)
        case None => InfluxQL.Measurement(s.df, s.tags, "ts",
          extentMs = s.extentMs)
      })))
      // promCat is a single namespace: a (rare) prom measurement of
      // another database re-registers under its bare metric name
      if (s.kinds(Store.Prom))
        promCat = promCat + (name -> (prom.get(name) match {
          case Some(prev) => prev.copy(
            df = prev.df.unionByName(s.df, allowMissingColumns = true),
            labels = (prev.labels ++ s.tags).distinct, extentMs = None)
          case None => PromQL.Metric(s.df, s.tags, "ts", "value")
        }))
      if (s.kinds(Store.PromStore))
        promStores = promStores +
          (name -> PromQL.Metric(s.df, s.tags, "ts", "value"))
    }
  }

  /** Drop database `db` (DROP DATABASE, and the repository route): its
    * record goes — policies, measurements, log stores, CQs, streams,
    * subscriptions, downsample policies, schemas, write extents — and
    * with it its prom twins, persisted dirs and DML journal lines, so
    * neither the running gateway nor a restart serves any of them, and a
    * database re-created under the same name starts empty. Callers hold
    * `synchronized` and commit `_databases.txt` after. */
  private def dropDb(db: String): Unit = {
    val before = mstsOf(db)
    dbs = dbs - db
    propagateDml(db, before, Map.empty)
    store.foreach(st => st.measurements.collect { case (`db`, n) => n }
      .foreach(st.delete(db, _)))
    persistLogStores()
    persistDdl()
    commitMeta("_dml.txt", metaLines("_dml.txt").filterNot(l =>
      scala.util.Try(dec(l.takeWhile(_ != '\t'))).toOption.contains(db))
      .map(_ + "\n").mkString)
  }

  // the user catalog persists beside the data — a restarted gateway
  // with auth enabled must NOT reopen the unauthenticated bootstrap
  // window (the reference's users live in its durable meta store)
  /** Committed atomically so a crash mid-write can never leave a
    * truncated catalog (an empty `_users.tsv` restores to ZERO users,
    * which with requireAuth silently reopens the unauthenticated
    * bootstrap window — the exact hole persistence exists to close).
    * Callers serialize the mutate+persist pair on the auth monitor, so
    * the snapshot on disk is never an out-of-order older state. */
  private def persistUsers(): Unit =
    commitMeta("_users.tsv", auth.snapshotTsv)

  // reload persisted measurements under the in-memory/init catalog
  store.flatMap(_.metaText("_users.tsv")).foreach { tsv =>
    auth.restoreTsv(tsv)
    // a present-but-adminless catalog with auth on means the file was
    // damaged (or bootstrap never finished): the gateway would serve
    // UNAUTHENTICATED until someone recreates the admin — say so loudly
    if (requireAuth && !auth.adminExists)
      System.err.println(
        "[gateway] WARNING: _users.tsv restored with no admin user; " +
        "requireAuth is on but the unauthenticated bootstrap window is " +
        "OPEN until an admin is created")
  }
  // the database set and the logstream (log-store measurement)
  // registry persist beside the data (meta store durability)
  private def persistLogStores(): Unit =
    store.foreach(_.commitLogStreams(
      for ((db, d) <- dbs; n <- d.logStores) yield (db, n)))
  private def persistDatabases(): Unit =
    commitMeta("_databases.txt", dbs.toSeq.sortBy(_._1).map { case (d, x) =>
      val rps = x.rps.toSeq.sortBy(_._1).map { case (n, rp) =>
          s"${enc(n)}=${rp.durationS},${rp.shardGroupS},${rp.replicaN}," +
            s"${rp.default},${rp.hotS},${rp.warmS}"
        }.mkString(";")
      s"${enc(d)}\t$rps"
    }.mkString("\n"))
  locally {
    val parsed = metaLines("_databases.txt").map { line =>
      val parts = line.split("\t", 2)
      val rps =
        if (parts.length < 2 || parts(1).isEmpty) Retention.autogen
        else parts(1).split(";").filter(_.nonEmpty).map { kv =>
          val Array(n, v) = kv.split("=", 2)
          val fs = v.split(",")
          // hot/warm fields are round-10 additions — older files lack them
          dec(n) -> Retention.Rp(fs(0).toLong, fs(1).toLong, fs(2).toLong,
            fs(3).toBoolean,
            if (fs.length > 4) fs(4).toLong else 0L,
            if (fs.length > 5) fs(5).toLong else 0L)
        }.toMap
      dec(parts(0)) -> rps
    }
    // defaultDb always survives a reload: the constructor-injected
    // catalog lives there
    if (parsed.exists(_._1 == defaultDb)) defaultDbTouched = true
    dbs = dbs ++ parsed.map { case (d, rps) =>
      d -> dbs.getOrElse(d, Db()).copy(rps = rps) }
  }
  store.foreach { st =>
    // a database with a persisted measurement or log stream is back
    // even when the database file predates multi-db support
    def known(db: String): Unit =
      if (!dbs.contains(db)) dbs = dbs + (db -> Db())
    // log stores load BEFORE the measurement scan: the scan's read-time
    // point-dedup decision needs to know which dirs are logs
    st.logStreams.foreach { case (db, n) =>
      known(db)
      updDb(db)(d => d.copy(logStores = d.logStores + n))
    }
    st.measurements.foreach { case (db, n) => known(db); restoreEntry(db, n) }
    // a log stream nobody wrote to has no dir: it comes back empty
    for ((db, d) <- dbs; n <- d.logStores if !d.msts.contains(n))
      setMsts(db, mstsOf(db) + (n -> emptyLogStream))
  }
  // Replay the DDL journal AFTER databases/RPs and measurement data
  // loaded: validation sees restored state, and a declared measurement
  // that also has persisted data keeps its data frame (registerMst only
  // installs the empty typed frame when no data exists).
  metaLines("_ddl.txt").foreach { line =>
    val Array(kind, dbE, extra, textE) = line.split("\t", 4)
    val db = dec(dbE); val text = dec(textE)
    try kind match {
      case "cq" => registerCq(db, StreamDDL.parse(text), text)
      case "stream" =>
        registerStream(db, StreamDDL.parse(text), text, extra.toLong)
      case "sub" => registerSub(StreamDDL.parseSubscription(text))
      case "ds" => registerDs(db, DownSample.parseCreate(text))
      case "mst" => registerMst(db, MeasurementDDL.parseCreate(text))
      case _ =>
    } catch { case e: Exception =>
      // one corrupt line must not block startup — skip loudly
      System.err.println(
        s"[gateway] DDL restore skipped: $line (${e.getMessage})")
    }
  }
  // Replay the DML journal LAST: tombstones filter the fully-restored
  // catalog in issue order, with each statement's original now() pinned
  // so time-relative deletes remove the same rows they removed live.
  replayDmlJournal()
  metaLines("_fences.txt").foreach { line =>
    try {
      val Array(idE, geoE) = line.split("\t", 2)
      fences = fences + (dec(idE) -> Fence.parse(dec(idE), dec(geoE)))
    } catch { case e: Exception =>
      System.err.println(
        s"[gateway] fence restore skipped: $line (${e.getMessage})")
    }
  }

  /** Compute `df` once, at write time: at most `defaultParallelism`
    * partitions (a union of many batches, or a shuffle's output, would
    * otherwise give every later read one task per partition), held as
    * an eager local checkpoint, so no read re-runs its lineage — the
    * in-memory analogue of the reference's memtable holding decoded
    * rows (SURVEY §3.3). */
  private def materialize(df: DataFrame): DataFrame =
    df.coalesce(spark.sparkContext.defaultParallelism).localCheckpoint(true)

  // Each write path grows its measurement by one unionByName of a
  // materialized batch per request; left unchecked the logical plan
  // (and every query's analysis and task count) grows linearly with
  // write count. Every `CompactEvery` unions the accumulated plan is
  // materialized — the in-memory analogue of the /write path's parquet
  // [[graft.sources.Compaction]]. A point merge (`merged`) is
  // materialized when it is made, so it counts as a compaction.
  // Guarded by the same `synchronized` the write paths already hold.
  private def maybeCompact(db: String, lineage: String, df: DataFrame,
                           merged: Boolean = false): DataFrame = {
    val d = dbs.get(db).flatMap(_.depths.get(lineage)).getOrElse(0) + 1
    val full = merged || d >= HttpGateway.CompactEvery
    updDb(db)(x =>
      x.copy(depths = x.depths + (lineage -> (if (full) 0 else d))))
    if (full) materialize(df) else df
  }

  /** The one write path: materialize `batch` (time column `ts`) once,
    * persist that frame as measurement `name` of database `db`, then
    * grow the live entry with the same rows — a point-merge when
    * `pointMerge` (the batch overlaps the known extent), else a union —
    * and, for the prom kinds, the metric or metric-store twin. Returns
    * the materialized batch. Callers hold `synchronized`. */
  private def append(db: String, name: String, batch: DataFrame,
                     tagKeys: Seq[String], kind: Store.Kind = Store.Plain,
                     pointMerge: Boolean = false): DataFrame = {
    dbNamed(db)
    val rows = materialize(batch)
    store.foreach(_.append(db, name, rows, tagKeys, kind))
    val grown = mstsOf(db).get(name) match {
      case Some(prev) =>
        val tags = (prev.tags ++ tagKeys).distinct
        InfluxQL.Measurement(maybeCompact(db, name,
          if (pointMerge) HttpGateway.mergePoints(prev.df, rows, tags)
          else prev.df.unionByName(rows, allowMissingColumns = true),
          merged = pointMerge),
          tags, prev.time)
      case None => InfluxQL.Measurement(rows, tagKeys, "ts")
    }
    setMsts(db, mstsOf(db) + (name -> grown))
    // prom writes land in the default database only, so `name` is the
    // metric / store name
    def grow(twins: Map[String, PromQL.Metric], lineage: String) =
      twins + (name -> (twins.get(name) match {
        case Some(prev) => prev.copy(
          df = maybeCompact(db, lineage,
            prev.df.unionByName(rows, allowMissingColumns = true)),
          labels = (prev.labels ++ tagKeys).distinct, extentMs = None)
        case None => PromQL.Metric(rows, tagKeys, "ts", "value")
      }))
    kind match {
      case Store.Prom => promCat = grow(promCat, s"prom:$name")
      case Store.PromStore => promStores = grow(promStores, s"promstore:$name")
      case _ =>
    }
    rows
  }
  // extent-splitting PromQL range results cache (results_cache.go);
  // invalidated whenever the prom catalog changes (remote write)
  private val resultsCache =
    new ResultsCache[Sample](_.evalMs)
  // hot-reloadable per-tenant prom limits (services/runtimecfg +
  // lib/validation) — the tenant key is the metric store / mst, like
  // FilterInvalidTimeSeries(mst, …); file lives beside the data
  private val runtimeOverrides = new Validation.Overrides(
    persistDir.map(d => java.nio.file.Paths.get(d, "_runtimecfg.yaml")))

  /** handler_prom.go:99 FilterInvalidTimeSeries + servePromWriteBase's
    * partial semantics: invalid series are dropped, valid ones write,
    * and ANY invalid series turns the final status into a 400 carrying
    * the FIRST validation error (after the valid data landed). Returns
    * (valid series, first error). */
  private def filterInvalidSeries(tenant: String,
                                  series: Seq[PromRemoteWrite.Series]):
      (Seq[PromRemoteWrite.Series], Option[String]) = {
    val limits = runtimeOverrides.limitsFor(tenant)
    if (!limits.promLimitEnabled) return (series, None)
    var firstErr: Option[String] = None
    val valid = series.filter { s =>
      Validation.validateSeries(limits, s.labels,
          s.samples.map(_._1)) match {
        case Some(err) => if (firstErr.isEmpty) firstErr = Some(err); false
        case None => true
      }
    }
    (valid, firstErr)
  }
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // concurrent handlers: without an executor the JDK server serializes
  // requests on its dispatcher thread, and a KILL QUERY could never be
  // served while the query it targets is running
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())

  // ---------------------------------------------- live query registry
  // The reference's TaskManager (`query/task_manager.go:152,266`): every
  // /query request is attached under a qid for its lifetime; SHOW
  // QUERIES lists them, KILL QUERY cancels one. Cancellation rides
  // Spark's job groups — each request's Spark actions run in group
  // `query-<qid>`, and cancelJobGroup interrupts them mid-stage.
  private final class RunningQuery(val qid: Long, val query: String,
                                   val db: String, val startNs: Long) {
    @volatile var status: String = "running"
    def group: String = s"query-$qid"
  }
  private val qidCounter = new java.util.concurrent.atomic.AtomicLong(0)
  // syscontrol switches + failpoint registry (/debug/ctrl, /failpoint)
  @volatile private var writesDisabled = false
  @volatile private var readsDisabled = false
  private val failpoints =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val stats = new Routes.Stats

  /** `/debug/vars` (handler.go:1806 serveExpvar): the handler module,
    * the results cache and the runtime. */
  private def statsJson: String = {
    val rt = Runtime.getRuntime
    val (hits, evals) = resultsCache.stats
    "{\"handler\":{" +
      "\"req\":" + stats.req.get + ",\"queryReq\":" + stats.queryReq.get +
      ",\"writeReq\":" + stats.writeReq.get +
      ",\"pointsWrittenOK\":" + stats.pointsWrittenOK.get +
      ",\"write400ErrReq\":" + stats.write400ErrReq.get +
      ",\"pingReq\":" + stats.pingReq.get +
      ",\"statusReq\":" + stats.statusReq.get +
      ",\"authFail\":" + stats.authFail.get +
      ",\"clientError\":" + stats.clientError.get +
      ",\"serverError\":" + stats.serverError.get +
      ",\"queryReqDurationNs\":" + stats.queryReqDurationNs.get +
      ",\"writeReqDurationNs\":" + stats.writeReqDurationNs.get +
      "},\"resultsCache\":{\"hits\":" + hits +
      ",\"evals\":" + evals +
      "},\"runtime\":{\"totalMemory\":" + rt.totalMemory +
      ",\"freeMemory\":" + rt.freeMemory +
      ",\"availableProcessors\":" + rt.availableProcessors + "}}"
  }
  private val running =
    scala.collection.mutable.LinkedHashMap.empty[Long, RunningQuery]

  private def attachQuery(q: String, db: String): RunningQuery = {
    val rq = new RunningQuery(qidCounter.incrementAndGet(), q, db,
      System.nanoTime())
    running.synchronized { running(rq.qid) = rq }
    spark.sparkContext.setJobGroup(rq.group, q, interruptOnCancel = true)
    rq
  }

  private def detachQuery(rq: RunningQuery): Unit = {
    spark.sparkContext.clearJobGroup()
    running.synchronized { running.remove(rq.qid) }
  }

  /** `task_manager.go:266` KillQuery: error on unknown qid, else cancel
    * the query's job group and mark it killed. */
  private def killQuery(qid: Long): Unit = {
    val rq = running.synchronized(running.get(qid))
      .getOrElse(sys.error(s"no such query id: $qid"))
    rq.status = "killed"
    spark.sparkContext.cancelJobGroup(rq.group)
  }

  /** Go-style duration rendering for SHOW QUERIES (second/ms/µs
    * truncation per `task_manager.go:161-169`). */
  private def fmtDur(ns: Long): String =
    if (ns >= 1000000000L) s"${ns / 1000000000L}s"
    else if (ns >= 1000000L) s"${ns / 1000000L}ms"
    else s"${ns / 1000L}µs"

  // ------------------------------------------------------------- routes
  // One declaration per route (see [[Routes]]); the handlers below take
  // the matched request.
  server.createContext("/", new Router({
    val read = Priv(Auth.ReadPrivilege)
    val write = Priv(Auth.WritePrivilege)
    val readStore = Priv(Auth.ReadPrivilege, _("store"))
    val readRepo = Priv(Auth.ReadPrivilege, _("repo"))
    val writeRepo = Priv(Auth.WritePrivilege, _("repo"))
    val queryMeter = Some(Meter(stats.queryReq, stats.queryReqDurationNs))
    val writeMeter = Some(Meter(stats.writeReq, stats.writeReqDurationNs,
      Some(stats.write400ErrReq)))
    val logstream = "/repo/{repo}/logstreams/{stream}"
    Seq(
      route("GET HEAD", "/ping", Open) { r =>
        stats.pingReq.incrementAndGet()
        r.ex.getResponseHeaders.set("X-Gemini-Compat", "graft")
        r.empty(204)
      },
      // deprecated alias for /ping (handler.go:1711 serveStatus)
      route("GET HEAD", "/status", Open) { r =>
        stats.statusReq.incrementAndGet(); r.empty(204)
      },
      route("GET", "/metrics", Open)(metricsText),
      route("GET", "/api/v1/status/buildinfo", Open)(buildInfo),
      // Flux is not served, exactly like a default-config reference node
      // (handler.go:240 AddFluxAPIRoute with FluxEnabled=false → 403)
      route("POST", "/api/v2/query", Open)(_.respond(403,
        "{\"error\":\"Flux query service disabled. Verify flux-enabled=" +
          "true in the [http] section of the InfluxDB config.\"}")),
      route("GET", "/debug/vars", Admin)(_.respond(200, statsJson)),
      route("GET", "/debug/query", Admin)(debugQuery),
      route("POST", "/debug/ctrl", Admin)(debugCtrl),
      route("POST", "/failpoint", Admin, form = true)(failpoint),
      route("POST", "/backup/run", Admin)(backupRun),
      route("POST", "/backup/status", Admin)(_.respond(200,
        backupJob.map(_.renderJson).getOrElse("{\"status\":\"idle\"}"))),
      route("POST", "/backup/abort", Admin)(backupAbort),
      // fences are one gateway-wide registry, not a database's: any
      // authenticated user may match against them, only an admin delete
      route("GET", "/fence/match_batch", Authed)(fenceMatch),
      route("POST", "/fence/delete_fence", Admin)(fenceDelete),
      route("GET POST", "/query", Authed, form = true,
        meter = queryMeter)(handleQuery),
      route("POST", "/write", write, meter = writeMeter)(
        handleWrite(_, v2 = false)),
      // influxdb-2.x write compat (handler.go:1470 serveWriteV2): the v2
      // `bucket` maps onto the v1 database[/rp]
      route("POST", "/api/v2/write", Priv(Auth.WritePrivilege, bucketDb),
        meter = writeMeter)(handleWrite(_, v2 = true)),
      route("POST", "/api/v1/arrow/doput", write)(handleArrowDoPut),
      route("GET POST", "/api/v1/arrow/doget", Authed, form = true)(
        handleArrowDoGet),
      // OTLP metrics remote write (handler.go:316, handler_otlp.go:109)
      route("POST", "/api/v1/otlp/metrics", write)(handleOtlp(_) { body =>
        val samples = OtlpMetrics.decode(body)
        if (samples.isEmpty) sys.error("no metric data points in request")
        OtlpMetrics.toMeasurements(spark, samples)
      }),
      // OTLP logs remote write (handler.go:320 -> the `logs` measurement)
      route("POST", "/api/v1/otlp/logs", write)(handleOtlp(_) { body =>
        val samples = OtlpLogs.decode(body)
        if (samples.isEmpty) sys.error("no log records in request")
        Map(OtlpLogs.Measurement -> OtlpLogs.toMeasurement(spark, samples))
      }),
      // OTLP traces remote write (handler.go:312 -> the `spans` measurement)
      route("POST", "/api/v1/otlp/traces", write)(handleOtlp(_) { body =>
        val samples = OtlpTraces.decode(body)
        if (samples.isEmpty) sys.error("no spans in request")
        Map(OtlpTraces.Measurement -> OtlpTraces.toMeasurement(spark, samples))
      }),
      // Prometheus remote write and read; the reference serves write at
      // both `/api/v1/write` (handler.go:333) and `/api/v1/prom/write`
      // (handler.go:637)
      route("POST", "/api/v1/write", write)(handlePromWrite),
      route("POST", "/api/v1/prom/write", write)(handlePromWrite),
      route("POST", "/api/v1/read", read)(handlePromRead),
      route("GET", "/api/v1/metadata", read, Prom)(promMetadata),
      route("GET POST", "/api/v1/series", read, Prom, form = true)(
        handleSeries),
      route("GET POST", "/api/v1/labels", read, Prom) { r =>
        val cat = promCatOf(r)
        labels(r, cat.values, Some(cat.keys))
      },
      route("GET", "/api/v1/label/{label}/values", read, Prom) { r =>
        val cat = promCatOf(r)
        labelValues(r, cat.values, Some(cat.keys))
      },
      // the reference also serves the PromQL evaluator at /api/v1/prom/*
      // (handler.go:633 route table) — same handler, second mount
      route("GET POST", "/api/v1/query", read, Prom, form = true)(
        promQuery(range = false)),
      route("GET POST", "/api/v1/query_range", read, Prom, form = true)(
        promQuery(range = true)),
      route("GET POST", "/api/v1/prom/query", read, Prom, form = true)(
        promQuery(range = false)),
      route("GET POST", "/api/v1/prom/query_range", read, Prom, form = true)(
        promQuery(range = true)),
      route("POST", "/api/v1/tsdb/{tsdb}",
        Priv(Auth.WritePrivilege, _("tsdb")))(createTsdb),
      // metric-store-scoped prom API (handler.go:397-433): the store is
      // one measurement holding all its series (__name__ as a label).
      // read/series remain on the default-namespace routes — store
      // queries address the mst.
      route("POST", "/prometheus/{store}/api/v1/write",
        Priv(Auth.WritePrivilege, _("store")))(handlePromStoreWrite),
      route("GET POST", "/prometheus/{store}/api/v1/query", readStore, Prom,
        form = true)(storeQuery(range = false)),
      route("GET POST", "/prometheus/{store}/api/v1/query_range", readStore,
        Prom, form = true)(storeQuery(range = true)),
      route("GET POST", "/prometheus/{store}/api/v1/labels", readStore, Prom)(
        r => labels(r, promStores.get(storeOf(r)), None)),
      route("GET", "/prometheus/{store}/api/v1/label/{label}/values",
        readStore, Prom)(r => labelValues(r, promStores.get(storeOf(r)), None)),
      // Logkeeper CRUD (handler.go:483-512, handler_logstore.go): a
      // REPOSITORY is a database and a LOGSTREAM is a measurement in it
      // only the repositories the caller may read (all of them for an
      // admin, or with auth off)
      route("GET", "/api/v1/repository", Authed)(r => r.respond(200,
        dbs.keys.toSeq.sorted.filter(db => r.principal.forall(
          _.authorizeDatabase(Auth.ReadPrivilege, db)))
          .map(jsonStr).mkString("[", ",", "]"))),
      route("POST", "/api/v1/repository/{repo}", writeRepo)(createRepository),
      route("DELETE", "/api/v1/repository/{repo}", writeRepo)(dropRepository),
      route("GET", "/api/v1/logstream/{repo}", readRepo)(r => r.respond(200,
        repoNamed(r("repo")).msts.keys.toSeq.sorted.map(jsonStr)
          .mkString("[", ",", "]"))),
      route("POST", "/api/v1/logstream/{repo}/{stream}", writeRepo)(
        createLogstream),
      route("DELETE", "/api/v1/logstream/{repo}/{stream}", writeRepo)(
        dropLogstream),
      route("POST", s"$logstream/stream-task", writeRepo, Logkeeper)(
        createStreamTask),
      route("DELETE", s"$logstream/stream-task/{task}", writeRepo, Logkeeper)(
        dropStreamTask)
    ) ++
      // Logkeeper pipe-syntax queries (handler.go:532-560 route table)
      Seq("logs", "histogram", "analytics").map(a =>
        route("GET POST", s"$logstream/$a", readRepo, Logkeeper, form = true)(
          logQuery(a))) ++
      Seq("consume/cursors", "consume/logs", "consume/cursor-time",
          "context").map(a =>
        route("GET POST", s"$logstream/$a", readRepo, Logkeeper)(consume(a))) ++
      // empty handlers in the reference (serveQueryLogByCursor :57,
      // serveGetCursor / servePullLog :1006-1008): authed 200, no body
      Seq("logbycursor", "cursor", "cursor/{cursor}").map(a =>
        route("GET POST", s"$logstream/$a", readRepo, Logkeeper)(
          _.respond(200, ""))) ++
      Seq("records", "upload", "recalldata").map(a =>
        route("POST", s"$logstream/$a", writeRepo, Logkeeper)(logIngest(a)))
  }, auth, requireAuth, stats))

  // GET /metrics (handler.go:329 serveMetrics): Prometheus text
  // exposition of the serving counters. The reference mounts promhttp
  // over its statistics collectors and — like /ping — does NOT require
  // auth on this route (route table auth flag false); the counter set
  // here is the same handler-module set /debug/vars renders as JSON.
  private def metricsText(r: Request): Unit = {
    val rt = Runtime.getRuntime
    val (hits, evals) = resultsCache.stats
    val counters = Seq(
      "handler_req_total" -> stats.req.get,
      "handler_query_req_total" -> stats.queryReq.get,
      "handler_write_req_total" -> stats.writeReq.get,
      "handler_points_written_ok_total" -> stats.pointsWrittenOK.get,
      "handler_write_400_err_req_total" -> stats.write400ErrReq.get,
      "handler_ping_req_total" -> stats.pingReq.get,
      "handler_status_req_total" -> stats.statusReq.get,
      "handler_auth_fail_total" -> stats.authFail.get,
      "handler_client_error_total" -> stats.clientError.get,
      "handler_server_error_total" -> stats.serverError.get,
      "handler_query_req_duration_ns_total" ->
        stats.queryReqDurationNs.get,
      "handler_write_req_duration_ns_total" ->
        stats.writeReqDurationNs.get,
      "results_cache_hits_total" -> hits,
      "results_cache_evals_total" -> evals)
    val gauges = Seq(
      "runtime_total_memory_bytes" -> rt.totalMemory,
      "runtime_free_memory_bytes" -> rt.freeMemory,
      "runtime_available_processors" -> rt.availableProcessors.toLong)
    val body = new StringBuilder
    counters.foreach { case (n, v) =>
      body.append(s"# TYPE graft_$n counter\n")
      body.append(s"graft_$n $v\n")
    }
    gauges.foreach { case (n, v) =>
      body.append(s"# TYPE graft_$n gauge\n")
      body.append(s"graft_$n $v\n")
    }
    r.respond(200, body.toString, "text/plain; version=0.0.4; charset=utf-8")
  }

  // Grafana probes buildinfo on datasource connect and falls back to
  // legacy behavior on 404 — answer with a prom-compatible version body
  private def buildInfo(r: Request): Unit =
    r.respond(200, """{"status":"success","data":{"version":"2.45.0",""" +
      """"application":"graft","features":{}}}""")

  // /debug/query?mod=shards&db=… (syscontrol.go:15 serveDebugQuery):
  // empty/unknown mod is a 400, mod=shards returns the db's derived
  // shard-group status
  private def debugQuery(r: Request): Unit = r.params.get("mod") match {
    case None | Some("") =>
      r.respond(400, "{\"error\":\"invalid mod\"}")
    case Some("shards") =>
      val db = r.params.getOrElse("db", defaultDb)
      val rows = shardGroupsOf(db).map { case (rp, g, s0, e0, x0) =>
        "{\"id\":" + g + ",\"rp\":" + jsonStr(rp) +
          ",\"start\":" + jsonStr(rfc3339(s0)) +
          ",\"end\":" + jsonStr(rfc3339(e0)) +
          ",\"expiry\":" + jsonStr(rfc3339(x0)) + "}"
      }
      r.respond(200, "{\"db\":" + jsonStr(db) +
        ",\"shards\":[" + rows.mkString(",") + "]}")
    case Some(m) =>
      r.respond(400, "{\"error\":\"process query request error: " +
        "unknown mod: " + m + "\"}")
  }

  // POST /debug/ctrl?mod=…&switchon=… (handler.go:462 serveSysCtrl →
  // syscontrol.go:53 serveDebug): admin-only runtime toggles. The mods
  // that map to real switches in this engine flip them (disableWrite /
  // disableRead gate the write/read paths); the remaining documented
  // syscontrol mods are accepted as no-ops on a single-node Spark
  // engine (their effect is a store/cluster knob we don't have);
  // unknown mods are the reference's "unknown sysctrl mod" 400.
  private def debugCtrl(r: Request): Unit = r.params.get("mod") match {
    case None | Some("") =>
      r.respond(400, "{\"error\":\"invalid mod\"}")
    case Some(mod) =>
      val on = r.params.get("switchon").exists(_.equalsIgnoreCase("true"))
      val known = Set("flush", "compen", "merge", "snapshot",
        "downsample_in_order", "verifynode", "memusagelimit",
        "backgroundReadLimiter", "readonly", "chunk_reader_parallel",
        "binary_tree_merge", "print_logical_plan",
        "sliding_window_push_up", "log_rows", "force_broadcast_query",
        "time_filter_protection", "interruptquery", "uppermemusepct",
        "parallelbatch", "write_stream_points_enable")
      mod match {
        case "disablewrite" =>
          writesDisabled = on
          r.respond(200, "{\n\t\"success\"\n}\n")
        case "disableread" =>
          readsDisabled = on
          r.respond(200, "{\n\t\"success\"\n}\n")
        case m if known.contains(m) =>
          r.respond(200, "{\n\t\"success\"\n}\n")
        case m => r.respond(400,
          s"""{"error":"sysctrl execute error: unknown sysctrl mod: $m"}""")
      }
  }

  // POST /failpoint?point=…&flag=enable|disable (handler.go:1717
  // failPoint): a fault-injection registry for tests. Enabled points
  // carry their `term`; the wired point `graft/query-error` makes
  // /query fail with the term as the error. DIVERGENCE: the reference
  // route is unauthenticated but only exists in failpoint test builds;
  // here the registry is always live, so the route requires admin —
  // an anonymous enable would be a one-request denial of service.
  private def failpoint(r: Request): Unit =
    (r.params.get("point").filter(_.nonEmpty),
        r.params.getOrElse("flag", "")) match {
      case (Some(pt), "enable") =>
        failpoints.put(pt, r.params.getOrElse("term", "injected"))
        r.respond(200, "{\n\t\"success\"\n}\n")
      case (Some(pt), "disable") =>
        failpoints.remove(pt)
        r.respond(200, "{\n\t\"success\"\n}\n")
      case _ => r.respond(400, "{\"error\":\"invalid failpoint\"}")
    }

  // backup service routes (handler.go:466-474 → syscontrol Backup/
  // AbortBackup/BackupStatus, lib/backup/backup.go): run copies the
  // persisted store to backupPath/data_backup on its own thread
  // (isInc=true = manifest-diff incremental), status polls the job,
  // abort stops it between files
  @volatile private var backupJob: Option[Backup.Job] = None
  private def backupRun(r: Request): Unit =
    if (persistDir.isEmpty)
      r.respond(400, "{\"error\":\"backup execute error: no persisted store\"}")
    else r.params.get("backupPath").filter(_.nonEmpty) match {
      case None => r.respond(400,
        "{\"error\":\"backup execute error: backupPath required\"}")
      case Some(bp) => synchronized {
        if (backupJob.exists(_.status == "running"))
          r.respond(400,
            "{\"error\":\"backup execute error: backup already running\"}")
        else {
          val job = new Backup.Job(bp, r.params.get("isInc").contains("true"))
          backupJob = Some(job)
          val t = new Thread(() => Backup.run(persistDir.get, job),
            "graft-backup")
          t.setDaemon(true); t.start()
          r.respond(200, "{\"status\":\"started\",\"backupPath\":" +
            jsonStr(bp) + "}")
        }
      }
    }

  private def backupAbort(r: Request): Unit = backupJob match {
    case Some(j) if j.status == "running" =>
      j.abort.set(true)
      r.respond(200, "{\"status\":\"aborting\"}")
    case _ => r.respond(400,
      "{\"error\":\"backup execute error: no backup running\"}")
  }

  // fence routes (handler.go:288,292 → handler_fence.go): GET
  // match_batch takes a JSON float array [lat,lon,…] and answers the
  // BatchFenceMatchResponse shape; POST delete_fence removes by id
  private def fenceMatch(r: Request): Unit = {
    val parsed: Option[Seq[Double]] =
      try {
        val t = r.params.getOrElse("points", "").trim
        if (!t.startsWith("[") || !t.endsWith("]")) None
        else {
          val inner = t.substring(1, t.length - 1).trim
          if (inner.isEmpty) Some(Nil)
          else Some(inner.split(",").toSeq.map(_.trim.toDouble))
        }
      } catch { case _: Exception => None }
    parsed.filter(_.size % 2 == 0) match {
      case None =>
        r.respond(200,
          "{\"code\":-1,\"error\":\"invalid points\",\"result\":null}")
      case Some(flat) =>
        val fs = fences.values.toSeq
        val results = flat.grouped(2).zipWithIndex.map { case (pt, i) =>
          val ids = fs.filter(_.contains(pt(0), pt(1))).map(_.id).sorted
          val fid =
            if (ids.isEmpty) "null"
            else ids.map(jsonStr).mkString("[", ",", "]")
          "{\"seq\":" + i + ",\"fence_id\":" + fid + "}"
        }.mkString(",")
        r.respond(200,
          "{\"code\":0,\"error\":\"\",\"result\":[" + results + "]}")
    }
  }

  private def fenceDelete(r: Request): Unit = {
    val id = r.params.getOrElse("fenceId", "")
    synchronized {
      if (fences.contains(id)) {
        fences = fences - id
        persistFences()
        r.respond(200, "{\"code\":0,\"error\":\"\",\"result\":null}")
      } else r.respond(200,
        "{\"code\":-1,\"error\":\"remove fence file err\",\"result\":null}")
    }
  }

  // POST /api/v1/tsdb/{tsdb} (handler.go:393 servePromCreateTSDB):
  // creates a metric-store namespace ahead of writes. Name rules are
  // the reference's (meta ValidMeasurementName: printable, none of
  // `,;/\`, not "." or ".."); the optional OBS-options body is
  // storage-backend config with no analogue here (persistDir IS the
  // store) — accepted and ignored. Registers an empty store frame so
  // the scoped query routes answer empty-success immediately.
  private def createTsdb(r: Request): Unit = {
    val name = r("tsdb")
    if (name.isEmpty)
      r.respond(400, "{\"error\":\"tsdb name should not be none\"}")
    else if (name == "." || name == ".." ||
        name.exists(c => ",;/\\".contains(c) || !(c >= ' ')))
      r.respond(400, "{\"error\":\"invalid tsdb name\"}")
    else {
      synchronized {
        if (!promStores.contains(name))
          promStores = promStores + (name -> emptyStore)
      }
      r.respond(200, "")
    }
  }

  def start(): Int = { server.start(); boundPort }
  def stop(): Unit = {
    if (kafka != null) kafka.stop()
    server.stop(0)
  }
  def boundPort: Int = server.getAddress.getPort

  @volatile private var kafka: KafkaConsume = _

  /** Start the Kafka wire-protocol consume listener (reference:
    * `services/consume/` — a separate TCP service sharing the engine).
    * The fetch topic is an InfluxQL query compiled against the default
    * database's live catalog (`processor.go:56-66` resolves the
    * measurement from the query's FROM), row-capped like every other
    * serving surface. Each Fetch message's payload is the reference's
    * `lib/record` columnar ConsumeRecord codec ([[RecordCodec]]) — one
    * record batch per series, tag columns as Tags, fields sorted by
    * name with epoch-ns time last — so a consumer built against the
    * reference's payload decoder parses ours unchanged. Returns the
    * bound port. */
  def startKafkaConsume(port: Int = 0): Int = {
    if (kafka != null) kafka.stop() // re-start replaces, never leaks
    kafka = new KafkaConsume(sql => {
      val cat = mstsOf(defaultDb)
      val out = InfluxQL.execute(cat, sql)
      // Tag columns come from the QUERY'S OWN measurement(s) — the
      // reference derives TagAux from the fetched measurement
      // (`services/consume/processor.go:56-66`), so a selected field
      // whose name collides with ANOTHER measurement's tag stays a
      // field. Union-of-all-tags only as a parse-failure fallback.
      def meas(q: InfluxQL.Query): Set[String] = {
        val own = q.fromSub.map(meas).getOrElse(
          Set(q.fromBare.getOrElse(q.from)) ++ q.fromMore)
        own ++ q.join.toSeq.flatMap(j =>
          j.rightSub.map(meas).getOrElse(Set(j.right))).toSet
      }
      val tagCols =
        try meas(InfluxQL.parse(sql))
          .flatMap(n => cat.get(n).map(_.tags.toSet).getOrElse(Set.empty))
        catch { case _: Exception => cat.values.flatMap(_.tags).toSet }
      RecordCodec.payloadsFromResult(out.limit(maxRowLimit),
        tagCols = tagCols, maxRows = maxRowLimit)
    })
    kafka.start(port)
  }

  /** The default database's measurements (grow via /write and SELECT
    * INTO). */
  def measurements: Map[String, InfluxQL.Measurement] = mstsOf(defaultDb)

  /** (cached samples served, gap evaluations run) — results cache. */
  def resultsCacheStats: (Long, Long) = resultsCache.stats

  /** Whole-query pre-authorization, the reference's shape
    * (`authorizer.go:92` AuthorizeQuery loops statements before any
    * executes): each classified statement's privilege against `db`.
    * Returns the first denial message. */
  private def authorizeStatements(user: Auth.User, db: String,
      statements: Seq[(String, Statement)]): Option[String] =
    statements.iterator.flatMap { case (text, st) =>
      st.privilege.denial(user, db, text.trim) }.nextOption()

  /** Gateway-state rows (SHOW USERS/GRANTS/QUERIES) → a small DataFrame
    * so the response flows through the same [[ResultShaper]] as every
    * other series. */
  private def gatewayRowsDf(cols: Seq[String],
                            rows: Seq[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(cols.map {
      case c @ ("admin" | "rwuser" | "default") =>
        StructField(c, BooleanType)
      case c @ ("qid" | "replicaN" | "ReplicaN" | "SHARD_GROUP" | "id" |
                "shard_group" | "downSample_level") =>
        StructField(c, LongType)
      case c @ ("destinations" | "SHARD_KEY" | "PRIMARY_KEY" | "SORT_KEY" |
                "PROPERTY_KEY" | "PROPERTY_VALUE") =>
        StructField(c, ArrayType(StringType))
      case c => StructField(c, StringType)
    })
    spark.createDataFrame(
      rows.map(r => Row(r: _*)).asJava, schema)
  }

  // ------------------------------------------------------------- /query
  /** Split `q` on top-level semicolons (quotes respected) — the
    * reference accepts multiple statements per request and emits one
    * result object per statement. */
  private def splitStatements(q: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (quote != 0) {
        // `\'` inside a single-quoted string is an escaped quote, not
        // a terminator (matches InfluxQL.lex) — an escape-blind
        // tracker here would let a bound value close the literal and
        // run an injected second statement
        if (quote == '\'' && c == '\\' && i + 1 < q.length) {
          cur += c += q.charAt(i + 1); i += 1
        } else { cur += c; if (c == quote) quote = 0 }
      }
      else if (c == '\'' || c == '"') { quote = c; cur += c }
      else if (c == ';') { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Bind `$name` placeholders from the request's `params` JSON object
    * (`handler.go:854` — clients send `params={"h":"server01","n":3}`).
    * Substitution is quote-aware: `$` inside single-quoted strings is
    * literal. Strings render as escaped InfluxQL strings, numbers and
    * booleans as bare literals. */
  private def bindParams(q: String, paramsJson: String): String = {
    import org.json4s._
    val JObject(fields) =
      org.json4s.jackson.JsonMethods.parse(paramsJson): @unchecked
    val binds: Map[String, String] = fields.map {
      // escape backslashes FIRST, then quotes — a value ending in `\`
      // must not escape the closing quote we add around it
      case (k, JString(s)) =>
        k -> ("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case (k, JInt(n)) => k -> n.toString
      case (k, JDouble(d)) => k -> d.toString
      case (k, JDecimal(d)) => k -> d.toString
      case (k, JBool(b)) => k -> b.toString
      case (k, v) => sys.error(s"unsupported bind parameter $k: $v")
    }.toMap
    val out = new StringBuilder
    var i = 0; var inStr = false
    while (i < q.length) {
      val c = q.charAt(i)
      if (inStr && c == '\\' && i + 1 < q.length) {
        // escaped char inside a string (incl. \') — not a terminator
        out += c += q.charAt(i + 1); i += 2
      }
      else if (c == '\'') { inStr = !inStr; out += c; i += 1 }
      else if (c == '$' && !inStr) {
        val j0 = i + 1
        var j = j0
        while (j < q.length && (q.charAt(j).isLetterOrDigit ||
            q.charAt(j) == '_')) j += 1
        if (j == j0) { out += c; i += 1 }
        else {
          val name = q.substring(j0, j)
          out ++= binds.getOrElse(name,
            sys.error(s"missing parameter value for $$$name"))
          i = j
        }
      } else { out += c; i += 1 }
    }
    out.result()
  }

  private def handleQuery(req: Request): Unit = {
    // syscontrol disableRead (syscontrol.go:526 case disableRead) and
    // the failpoint registry (handler.go:1717) both gate the read path
    if (readsDisabled) {
      req.respond(400, "{\"error\":\"disable read!\"}"); return
    }
    val fpTerm = failpoints.get("graft/query-error")
    if (fpTerm != null) {
      req.respond(500, s"""{"error":${jsonStr(fpTerm)}}"""); return
    }
    val p = req.params
    val principal = req.principal
    val q = p.getOrElse("q",
      sys.error("missing required parameter \"q\""))
    val bound0 = p.get("params").map(bindParams(q, _)).getOrElse(q)
    // plain comments strip here; optimizer-hint comments (`SELECT
    // /*+ full_series */ …`) stay — the engine reads them off the
    // statement text (Query.hints) and the lexer skips them for
    // parsing. Quote-aware (a literal "/*" is content, not a comment).
    val bound = InfluxQL.stripComments(bound0, keepHints = true)
    // no epoch param → the reference's default RFC3339 rendering
    val epoch = p.getOrElse("epoch", "rfc3339")
    val statements =
      splitStatements(bound).map(s => s -> Statement.classify(s))
    require(statements.nonEmpty, "empty query")
    val denial = principal.flatMap(user =>
      authorizeStatements(user, p.getOrElse("db", ""), statements))
    denial match {
      case Some(msg) =>
        req.respond(403, s"""{"error":${jsonStr(msg)}}""")
        return
      case None => ()
    }
    // attach to the live registry for SHOW QUERIES / KILL QUERY;
    // detach when the request finishes, success or failure
    val rq = attachQuery(bound, p.getOrElse("db", ""))
    // request database: empty/missing db param targets the default
    // database; existence is checked per data statement, so
    // CREATE DATABASE / user statements still run against a fresh name
    val reqDb = p.get("db").filter(_.nonEmpty).getOrElse(defaultDb)
    def reqCat(db: String = reqDb) = catalogFor(db, principal)
    try {

    /** A gateway-built series as its own result object. */
    def rowsObj(name: String, cols: Seq[String], rows: Seq[Seq[Any]],
                id: Int): String =
      ResultShaper.toResultObj(gatewayRowsDf(cols, rows), name, Nil, cols,
        epoch, id)
    /** The `"series":[…]` members of a [[rowsObj]]. */
    def seriesOf(name: String, cols: Seq[String], rows: Seq[Seq[Any]],
                 id: Int): String = {
      val o = rowsObj(name, cols, rows, id)
      val i = o.indexOf("\"series\":[")
      if (i < 0) "" else o.substring(i + 10, o.length - 2)
    }
    /** Commit a DDL registry change under the gateway monitor. */
    def ddl(id: Int)(change: => Unit): String = {
      synchronized { change; persistDdl() }
      s"""{"statement_id":$id}"""
    }

    /** Statement `stmt`'s result object; a data statement's reply
      * frame renders through `data`. `SHOW … ON <db>` kinds scope to
      * that database (the ON clause wins over the request's db param,
      * like the reference's statement rewrite). */
    def resultObj(stmt: String, kind: Statement, id: Int)(
        data: DataReply => String): String = kind match {
      case Statement.Invalid(e, _) => throw e
      case Statement.ShowQueries =>
        // the live registry, not the library's empty frame
        // (statement_executor.go:2127 column set incl. host)
        val nowNs = System.nanoTime()
        val rows = running.synchronized(running.values.toSeq)
          .map(r => Seq[Any](r.qid, r.query, r.db,
            fmtDur(nowNs - r.startNs), r.status,
            s"127.0.0.1:$boundPort"))
        rowsObj("queries", Seq("qid", "query", "database", "duration",
          "status", "host"), rows, id)
      case Statement.KillQuery(qid) =>
        killQuery(qid)
        s"""{"statement_id":$id}"""
      case Statement.Users(_) =>
        // mutate+persist as one unit on the auth monitor: concurrent
        // user statements can't interleave a stale snapshot over a
        // newer one (lost update)
        auth.synchronized {
          auth.execute(stmt) match {
            case None =>
              persistUsers() // user catalog mutated — journal it
              s"""{"statement_id":$id}"""
            case Some((name, cols, rows)) => rowsObj(name, cols, rows, id)
          }
        }
      case Statement.ShowDatabases(detail) =>
        // the gateway's real database set (the library's constant is
        // its single-db standalone answer). The implicit default
        // database lists only once it holds anything or was created
        // explicitly — a fresh server shows none (DefaultDBAndRP exp
        // lists db0 alone).
        val listed = dbs.keys.toSeq.sorted
          .filter(db => db != defaultDb || defaultDbTouched)
        if (detail)
          // SHOW DATABASES DETAIL: ReplicaN + tag-attribute columns
          // (statement_executor.go executeShowDatabasesDetail)
          rowsObj("databases", Seq("name", "ReplicaN", "Tag Attribute"),
            listed.map(db => Seq[Any](db, 1L, "default")), id)
        else if (listed.isEmpty)
          // zero databases still render the column-only series
          // (DatabaseCommands "show database should have no results")
          s"""{"statement_id":$id,"series":[{"name":"databases","columns":["name"]}]}"""
        else rowsObj("databases", Seq("name"), listed.map(Seq(_)), id)
      case Statement.CreateDatabase(name, named, withDurS) =>
        // real database DDL (meta/database.go CreateDatabase); name
        // validation (meta validation: "." names are invalid) is
        // statement-level (DatabaseCommands "invalid name" goldens)
        def validName(n: String): Unit =
          if (n == "." || n == ".." || n.contains("/"))
            throw new InfluxQL.StatementError("invalid name")
        synchronized {
          validName(name)
          // WITH … NAME <rp> names the born-default retention policy
          // (parser.go parseCreateDatabaseStatement — `CREATE DATABASE
          // db4 WITH SHARD DURATION 12h … NAME rp3`)
          named.foreach(validName)
          // WITH DURATION on an EXISTING database must agree with the
          // default policy (meta CreateDatabaseWithRetentionPolicy
          // conflict — DatabaseCommands golden); shard/index/hot/warm
          // duration options don't constrain it (PreAgg_OutOfOrderData
          // re-creates db3 WITH SHARD DURATION … without conflict)
          if (dbs.contains(name) && withDurS.isDefined) {
            val existing = dbs(name).rps.values.find(_.default)
            if (!existing.exists(_.durationS == withDurS.get))
              throw new InfluxQL.StatementError(
                "retention policy conflicts with an existing policy")
          }
          if (name == defaultDb) defaultDbTouched = true
          if (!dbs.contains(name)) {
            val rp0 = Retention.autogen.head._2
              .copy(durationS = withDurS.getOrElse(0L))
            dbs = dbs +
              (name -> Db(rps = Map(named.getOrElse("autogen") -> rp0)))
          }
          persistDatabases()
        }
        s"""{"statement_id":$id}"""
      case Statement.DropDatabase(name) =>
        synchronized { dropDb(name); persistDatabases() }
        s"""{"statement_id":$id}"""
      case Statement.RetentionDdl(st) =>
        if (!dbs.contains(st.db)) {
          // DROP on a missing database is a silent no-op; CREATE/ALTER
          // carry the error INSIDE the result
          // (RetentionPolicyCommands goldens)
          if (st.verb == "drop") return s"""{"statement_id":$id}"""
          throw new InfluxQL.StatementError(
            s"database not found: ${st.db}")
        }
        synchronized {
          val rps = dbNamed(st.db).rps
          def setRps(to: Map[String, Retention.Rp]): Unit =
            updDb(st.db)(_.copy(rps = to))
          st.verb match {
            case "create" =>
              if (st.rp == "." || st.rp == ".." || st.rp.contains("/"))
                throw new InfluxQL.StatementError("invalid name")
              val d = st.durationS.getOrElse(0L)
              // meta validation: 0 = infinite, else ≥ 1h
              // (RetentionPolicyCommands golden, verbatim)
              if (d > 0L && d < 3600L)
                throw new InfluxQL.StatementError(
                  "retention policy duration must be at least 1h0m0s")
              val rp = Retention.Rp(d,
                st.shardGroupS.getOrElse(Retention.shardGroupFor(d)),
                st.replicaN.getOrElse(1L), st.default,
                st.hotS.getOrElse(0L), st.warmS.getOrElse(0L))
              if (rps.contains(st.rp)) {
                // idempotent when identical; a differing spec is the
                // reference's conflict error
                val prev = rps(st.rp)
                if (prev.durationS == rp.durationS &&
                    prev.replicaN == rp.replicaN &&
                    prev.default == rp.default)
                  return s"""{"statement_id":$id}"""
                throw new InfluxQL.StatementError(
                  "retention policy conflicts with an existing policy")
              }
              val cleared = if (st.default)
                rps.view.mapValues(_.copy(default = false)).toMap else rps
              setRps(cleared + (st.rp -> rp))
            case "alter" =>
              val prev = rps.getOrElse(st.rp,
                sys.error(s"retention policy not found: ${st.rp}"))
              val d = st.durationS.getOrElse(prev.durationS)
              val rp = prev.copy(durationS = d,
                shardGroupS = st.shardGroupS.getOrElse(
                  if (st.durationS.isDefined) Retention.shardGroupFor(d)
                  else prev.shardGroupS),
                replicaN = st.replicaN.getOrElse(prev.replicaN),
                default = prev.default || st.default,
                hotS = st.hotS.getOrElse(prev.hotS),
                warmS = st.warmS.getOrElse(prev.warmS))
              val cleared = if (st.default)
                rps.view.mapValues(_.copy(default = false)).toMap else rps
              setRps(cleared + (st.rp -> rp))
            case "drop" =>
              // dropping the default policy is allowed (the reference
              // drops it and the database keeps no default —
              // RetentionPolicyCommands "drop rp0" golden); a missing
              // policy is a silent no-op like a missing database
              if (rps.contains(st.rp)) setRps(rps - st.rp)
            case v => sys.error(s"unsupported retention verb $v")
          }
          persistDatabases()
        }
        s"""{"statement_id":$id}"""
      case Statement.ShowRetentionPolicies(on) =>
        // full reference column set (meta/data.go:2061) — hot/warm
        // are the hierarchical tier bounds; index duration is meta
        // the engine does not organize by (0s)
        val rows = dbNamed(on.getOrElse(reqDb)).rps.toSeq
          .sortBy(_._1).map { case (n, rp) => Seq[Any](n,
            Retention.renderDuration(rp.durationS),
            Retention.renderDuration(rp.shardGroupS),
            Retention.renderDuration(rp.hotS),
            Retention.renderDuration(rp.warmS),
            // index group duration defaults to the shard group
            // duration (meta/data.go; DefaultDBAndRP golden)
            Retention.renderDuration(rp.shardGroupS),
            rp.replicaN, rp.default) }
        // models.Row name,omitempty: SHOW RETENTION POLICIES series
        // are UNNAMED (DefaultDBAndRP golden)
        rowsObj("", Seq("name", "duration", "shardGroupDuration",
          "hot duration", "warm duration", "index duration",
          "replicaN", "default"), rows, id)
      case Statement.CreateCq(cq) => ddl(id)(registerCq(reqDb, cq, stmt.trim))
      case Statement.DropCq(name, on) =>
        ddl(id)(updDb(on.getOrElse(reqDb))(x => x.copy(cqs = x.cqs - name)))
      case Statement.ShowCqs =>
        val rows = dbs.get(reqDb).toSeq.flatMap(_.cqs)
          .map { case (name, e) => Seq[Any](name, e.text) }
          .sortBy(_.head.toString)
        rowsObj(reqDb, Seq("name", "query"), rows, id)
      case Statement.CreateMeasurement(sc) => ddl(id)(registerMst(reqDb, sc))
      case Statement.AlterShardKey(dbOpt, name, key, tpe) =>
        val db = dbOpt.getOrElse(reqDb)
        ddl(id) {
          val sc = dbs.get(db).flatMap(_.schemas.get(name)).getOrElse(
            if (mstsOf(db).contains(name))
              MeasurementDDL.Schema(Some(db), None, name, Nil, Nil,
                Nil, "hash", "tsstore", Nil, Nil, Nil)
            else sys.error(s"measurement not found: $name"))
          updDb(db)(x => x.copy(schemas =
            x.schemas + (name -> sc.copy(shardKey = key, shardType = tpe))))
        }
      case Statement.ShowMeasurementInfo(kind, dbOpt, name) =>
        val db = dbOpt.getOrElse(reqDb)
        val sc = dbs.get(db).flatMap(_.schemas.get(name))
          .getOrElse(sys.error("measurement not found"))
        val colstoreOnly = Set("primarykey", "sortkey", "property",
          "compact")
        if (colstoreOnly(kind) && sc.engineType != "columnstore")
          sys.error("only support for COLUMNSTORE engine")
        // statement_executor.go:1366-1432 row shapes
        def section(kind: String): String = {
          val (cols, rows) = kind match {
            case "shardkey" => (Seq("SHARD_KEY", "TYPE", "SHARD_GROUP"),
              if (sc.shardKey.isEmpty) Nil
              else Seq(Seq[Any](sc.shardKey, sc.shardType, 0L)))
            case "enginetype" =>
              (Seq("ENGINETYPE"), Seq(Seq[Any](sc.engineType)))
            case "indexes" => (Seq("INDEXES"),
              sc.indexes.map { case (n, cols) =>
                Seq[Any](s"${n.toUpperCase}(${cols.mkString(",")})") })
            case "primarykey" =>
              (Seq("PRIMARY_KEY"), Seq(Seq[Any](sc.primaryKey)))
            case "sortkey" =>
              (Seq("SORT_KEY"), Seq(Seq[Any](sc.sortKey)))
            case "property" =>
              (Seq("PROPERTY_KEY", "PROPERTY_VALUE"),
                Seq(Seq[Any](Seq.empty[String], Seq.empty[String])))
            case "compact" =>
              (Seq("COMPACTION_TYPE"), Seq(Seq[Any]("row")))
            case other => sys.error(s"$other is not support")
          }
          seriesOf("", cols, rows, id)
        }
        val kinds =
          if (kind != "schema") Seq(kind)
          else if (sc.engineType == "columnstore")
            Seq("shardkey", "enginetype", "indexes", "primarykey",
              "sortkey", "compact")
          else Seq("shardkey", "enginetype", "indexes")
        val series = kinds.map(section).filter(_.nonEmpty).mkString(",")
        s"""{"statement_id":$id,"series":[$series]}"""
      case Statement.CreateSubscription(sub) => ddl(id)(registerSub(sub))
      case Statement.DropSubscription(name, db, rp) =>
        ddl(id) {
          if (!dbs.get(db).exists(_.subs.contains((rp, name))))
            sys.error(s"subscription not found: $name")
          updDb(db)(x => x.copy(subs = x.subs - ((rp, name))))
        }
      case Statement.ShowShards =>
        // meta/data.go:1974 ShowShards: one series per database,
        // 10-column set; 1 shard per group, single-node owner
        val cols = Seq("id", "database", "retention_policy",
          "shard_group", "start_time", "end_time", "expiry_time",
          "owners", "tier", "downSample_level")
        val nowTier = System.currentTimeMillis()
        val series = dbs.keys.toSeq.sorted.map { db =>
          val rows = shardGroupsOf(db).map { case (rp, g, s0, e0, x0) =>
            Seq[Any](g, db, rp, g, rfc3339(s0), rfc3339(e0),
              rfc3339(x0), "0", tierOf(db, e0, nowTier), 0L) }
          if (rows.isEmpty) "" else seriesOf(db, cols, rows, id)
        }.filter(_.nonEmpty)
        s"""{"statement_id":$id,"series":[${series.mkString(",")}]}"""
      case Statement.ShowShardGroups =>
        // meta/data.go:2015: one series "shard groups", all databases
        val rows = dbs.keys.toSeq.sorted.flatMap { db =>
          shardGroupsOf(db).map { case (rp, g, s0, e0, x0) =>
            Seq[Any](g, db, rp, rfc3339(s0), rfc3339(e0), rfc3339(x0)) }
        }
        rowsObj("shard groups", Seq("id", "database", "retention_policy",
          "start_time", "end_time", "expiry_time"), rows, id)
      case Statement.DropShard(sid) =>
        // data.go:2271 DropShard(id) — scoped here to the request
        // database (ids are per-db group indexes, not a global counter)
        synchronized {
          val before = mstsOf(reqDb)
          if (!dropShardData(reqDb, sid))
            sys.error(s"shard not found: $sid")
          journalDml(reqDb, stmt.trim, System.currentTimeMillis())
          propagateDml(reqDb, before, mstsOf(reqDb))
        }
        s"""{"statement_id":$id}"""
      case Statement.ShowSubscriptions =>
        // one series per database (meta SHOW SUBSCRIPTIONS shape);
        // the gateway's single-db request view renders reqDb's series
        val rows = dbs.get(reqDb).toSeq.flatMap(_.subs)
          .map { case ((rp, name), s) =>
            Seq[Any](rp, name, s.mode, s.destinations) }
          .sortBy(r => (r.head.toString, r(1).toString))
        rowsObj(reqDb, Seq("retention_policy", "name", "mode",
          "destinations"), rows, id)
      case Statement.CreateStream(st) =>
        ddl(id)(registerStream(reqDb, st, stmt.trim, Long.MinValue))
      case Statement.DropStream(name) =>
        // DROP STREAM 'name' (sql.y DROP STREAM STRING_TYPE)
        ddl(id) {
          if (!dbs.get(reqDb).exists(_.streams.contains(name)))
            sys.error(s"stream not found: $name")
          updDb(reqDb)(x => x.copy(streams = x.streams - name))
        }
      case Statement.ShowStreams(on) =>
        val db = on.getOrElse(reqDb)
        // meta/data.go:3918 ShowStreams column set
        val rows = dbs.get(db).toSeq.flatMap(_.streams)
          .map { case (name, e) =>
            val st = e.stmt
            Seq[Any](db, "autogen", st.target, name,
              s"$db.autogen.${st.from}",
              st.tags.mkString(","),
              st.calls.map { case (fn, f) => s"$fn($f)" }.mkString(","),
              Retention.renderDuration(st.intervalNs / 1000000000L),
              Retention.renderDuration(st.delayNs / 1000000000L),
              "") }
          .sortBy(_(3).toString)
        rowsObj("streams", Seq("database", "retention", "measurement",
          "Name", "source measurement", "dimensions", "calls", "interval",
          "delay", "condition"), rows, id)
      case Statement.CreateDownsample(ds) => ddl(id)(registerDs(reqDb, ds))
      case Statement.DropDownsample(dbOpt, None) =>
        // DROP DOWNSAMPLES [ON db]
        ddl(id)(
          updDb(dbOpt.getOrElse(reqDb))(_.copy(downsamples = Map.empty)))
      case Statement.DropDownsample(dbOpt, Some(rp)) =>
        // DROP DOWNSAMPLE ON [db.]rp
        val db = dbOpt.getOrElse(reqDb)
        ddl(id) {
          if (!dbs.get(db).exists(_.downsamples.contains(rp)))
            sys.error(s"downsample policy not found on $db.$rp")
          updDb(db)(x => x.copy(downsamples = x.downsamples - rp))
        }
      case Statement.ShowDownsamples(on) =>
        // meta/data.go:3827 ShowDownSamplePolicies column set
        val rows = dbs.get(on.getOrElse(reqDb)).toSeq.flatMap(_.downsamples)
          .map { case (rp, p) =>
            Seq[Any](rp, p.fieldOperator,
              Retention.renderDuration(p.durationS),
              p.sampleS.map(Retention.renderDuration).mkString(","),
              p.timeS.map(Retention.renderDuration).mkString(",")) }
          .sortBy(_.head.toString)
        rowsObj("downsamples", Seq("rpName", "field_operator", "duration",
          "sampleInterval", "timeInterval"), rows, id)
      case Statement.SetConfig(component, key, rawVal, isString) =>
        // The executor accepts only the sql component's logging.level
        // with a string value (statement_executor.go:2572); a non-
        // string there is "illegal type of logging level input", any
        // other component/key is "unsupported config command".
        if (!(component == "sql" && key == "logging.level"))
          throw new InfluxQL.StatementError("unsupported config command")
        if (!isString)
          throw new InfluxQL.StatementError(
            "illegal type of logging level input")
        val lvl = rawVal.stripPrefix("'").stripSuffix("'").toLowerCase
        // the reference delegates to its zap-backed logger.SetLevel;
        // mirror zap's accepted level atoms
        if (!Set("debug", "info", "warn", "error", "dpanic", "panic",
            "fatal").contains(lvl))
          throw new InfluxQL.StatementError(
            s"""unrecognized level: "$rawVal"""")
        loggingLevel = lvl
        s"""{"statement_id":$id}"""
      case Statement.ShowConfigs =>
        // the gateway's ACTUAL effective knobs in the reference's
        // 4-column shape (executeShowConfigs,
        // statement_executor.go:2560: component, instance, name,
        // value — names sorted, instance = bind address). Reference
        // names where a knob maps onto one of its config keys;
        // graft-specific knobs keep their own dotted namespace.
        val lim = Validation.defaults
        val knobs: Seq[(String, Any)] = Seq(
          "http.auth-enabled" -> requireAuth,
          "http.bind-address" -> s"127.0.0.1:$boundPort",
          "http.max-row-limit" -> maxRowLimit,
          "limits.enforce-metadata-metric-name" -> lim.enforceMetricName,
          "limits.max-label-name-length" -> lim.maxLabelNameLength,
          "limits.max-label-names-per-series" ->
            lim.maxLabelNamesPerSeries,
          "limits.max-label-value-length" -> lim.maxLabelValueLength,
          "limits.prom-limit-enabled" -> lim.promLimitEnabled,
          "limits.reject-old-samples" -> lim.rejectOldSamples,
          "logging.level" -> loggingLevel,
          "storage.hot-tier-max-bytes" -> spark.conf.get(
            graft.Tables.hotTierConfKey,
            graft.Tables.hotTierDefaultMaxBytes.toString),
          "spark.sql.shuffle.partitions" -> spark.conf
            .get("spark.sql.shuffle.partitions"))
        // values keep their native JSON types (the reference emits
        // bools/numbers unquoted in the config table) — rendered
        // directly, the row set is driver-known and tiny
        def jval(v: Any): String = v match {
          case b: Boolean => b.toString
          case n: Int => n.toString
          case n: Long => n.toString
          case s => jsonStr(String.valueOf(s))
        }
        val inst = jsonStr(s"127.0.0.1:$boundPort")
        val values = knobs.sortBy(_._1).map { case (k, v) =>
          s"""["sql",$inst,${jsonStr(k)},${jval(v)}]""" }.mkString(",")
        s"""{"statement_id":$id,"series":[{"columns":""" +
          s"""["component","instance","name","value"],""" +
          s""""values":[$values]}]}"""        case Statement.Unsupported =>
        // parsed but rejected, the reference's exact error
        // (statement_executor.go:409-416 returns
        // meta2.ErrUnsupportCommand for PrepareSnapshot/
        // EndPrepareSnapshot/GetRuntimeInfo)
        throw new InfluxQL.StatementError("unsupported command")
      case Statement.Manage =>
        synchronized {
          val before = mstsOf(reqDb)
          val nowMs = System.currentTimeMillis()
          val after = Map.empty ++
            InfluxQL.executeManage(reqCat(), stmt, nowMs)
          setMsts(reqDb, after)
          // journal only statements that actually changed data — the
          // accepted-no-op meta statements (CREATE DATABASE, GRANT …)
          // return the catalog's own entries untouched
          val changed = before.keySet != after.keySet ||
            after.exists { case (k, m) => !before.get(k).exists(_ eq m) }
          if (changed) {
            journalDml(reqDb, stmt.trim, nowMs)
            propagateDml(reqDb, before, after)
          }
        }
        s"""{"statement_id":$id}"""
      case Statement.SelectInto =>
        val cat = reqCat()
        val (cat2, df) = InfluxQL.executeInto(cat, stmt, materialize)
        val written = df.count()
        // only the INTO target changed; writes that landed meanwhile
        // in other measurements stay
        synchronized {
          setMsts(reqDb, mstsOf(reqDb) ++ cat2.filter { case (k, m) =>
            !cat.get(k).exists(_ eq m) })
        }
        s"""{"statement_id":$id,"series":[{"name":"result","columns":["time","written"],"values":[[0,$written]]}]}"""
      case Statement.Data(on, pruneNullCols) =>
        val cat = reqCat(on.getOrElse(reqDb))
        val (name, tags, df0, desc) = InfluxQL.executeShapedOrd(cat, stmt)
        val (df, timeNs) = HttpGateway.edgeTime(df0)
        // `__series_name` names each row's series (per-measurement
        // SHOW output)
        val nameCol =
          if (df.columns.contains("__series_name")) Some("__series_name")
          else None
        // a group tag the statement explicitly projects (or a grouped
        // field dimension under a star) renders as a COLUMN too
        val alsoCols = InfluxQL.alsoColumnTags(cat, stmt)
          .filter(df.columns.contains).toSet
        val valueCols = HttpGateway.shapedValueCols(
          df.columns.toIndexedSeq.filterNot(nameCol.contains),
          tags.filterNot(alsoCols.contains))
        data(DataReply(df, name, tags, valueCols, timeNs, desc, nameCol,
          pruneNullCols))
    }

    // statement-level errors land INSIDE the statement's result
    // object with a 200 (the reference's compile-error contract, e.g.
    // "mixing aggregate and non-aggregate queries" —
    // tests/server_test.go:5401); parse and transport errors still 400
    // at the request level below
    def answer(stmt: (String, Statement), id: Int)(
        data: DataReply => String): String =
      try resultObj(stmt._1, stmt._2, id)(data)
      catch { case e: InfluxQL.StatementError =>
        s"""{"statement_id":$id,"error":${jsonStr(e.getMessage)}}"""
      }

    val chunked = p.get("chunked").contains("true")
    val lines: Iterator[String] =
      if (chunked) {
        // chunked emission is per-series-batch within ONE statement
        require(statements.size == 1,
          "chunked=true supports a single statement")
        // a non-positive chunk_size takes the default, like the
        // reference's handler
        val n = p.get("chunk_size").map(_.toInt).filter(_ > 0)
          .getOrElse(10000)
        // a data statement streams chunk documents as they come off
        // toLocalIterator — driver heap stays bounded by one partition
        // + one chunk no matter how many rows the statement returns
        // (the reference's httpsender streams the same way), exempt
        // from max-row-limit like the reference's; a statement the
        // gateway answers itself is one chunk
        var streamed: Option[Iterator[String]] = None
        val obj = answer(statements.head, 0) { r =>
          streamed = Some(ResultShaper.streamSeriesJsonChunked(
            r.df, r.name, r.tags, r.valueCols, n, epoch,
            timeNs = r.timeNs, seriesDesc = r.desc, nameCol = r.nameCol))
          ""
        }
        streamed.getOrElse(Iterator(s"""{"results":[$obj]}"""))
      } else {
        val objs = statements.zipWithIndex.map { case (s, i) =>
          // non-chunked responses are bounded by http.max-row-limit
          // (config.go:37) — over-limit series are truncated and marked
          // partial; use chunked=true to stream past the limit
          answer(s, i)(r => ResultShaper.toResultObj(r.df, r.name, r.tags,
            r.valueCols, epoch, i, maxRowLimit, timeNs = r.timeNs,
            seriesDesc = r.desc, nameCol = r.nameCol,
            pruneNullCols = r.pruneNullCols))
        }
        Iterator(s"""{"results":[${objs.mkString(",")}]}""")
      }
    // a KILL that landed before this query's job was submitted cancels
    // nothing (cancelJobGroup hits active jobs only) — the killed flag
    // closes that window: results are discarded
    if (rq.status == "killed")
      sys.error(s"query ${rq.qid} was killed")
    if (chunked) {
      req.ex.getResponseHeaders.set("Content-Type", "application/json")
      req.ex.sendResponseHeaders(200, 0)
      val os = req.ex.getResponseBody
      try lines.foreach { l => os.write(l.getBytes(UTF_8)); os.write('\n') }
      finally { os.close(); req.ex.close() }
    } else req.respond(200, lines.next())

    } finally detachQuery(rq)
  }

  /** A data statement's reply frame as the HTTP edge shapes it. */
  private case class DataReply(df: DataFrame, name: String, tags: Seq[String],
                               valueCols: Seq[String], timeNs: Boolean,
                               desc: Boolean, nameCol: Option[String],
                               pruneNullCols: Boolean)

  // ------------------------------------------------------------- /write
  private val TimeUnset = Long.MinValue

  /** `/write`, or with `v2` influxdb-2.x's `/api/v2/write`, whose
    * `bucket` names the database. */
  private def handleWrite(r: Request, v2: Boolean): Unit = {
    // syscontrol disableWrite (syscontrol.go:518): reject before parse
    if (writesDisabled) {
      r.respond(400, "{\"error\":\"disable write!\"}"); return
    }
    // v2: bucket → database (`bucket2dbrp`); missing bucket is a 404
    if (v2 && r.params.get("bucket").forall(_.isEmpty))
      throw new Routes.Status(404, "bucket name is required")
    val wdb = writeDb(if (v2) Some(bucketDb(r)) else r.params.get("db"))
    val mult = r.params.getOrElse("precision", "ns") match {
      case "ns" | "n" => 1L
      case "u" | "µ" => 1000L
      case "ms" => 1000000L
      case "s" => 1000000000L
      case "m" => 60L * 1000000000L
      case "h" => 3600L * 1000000000L
      case x => sys.error(s"invalid precision $x")
    }
    val nowNs = System.currentTimeMillis() * 1000000L
    val body = new String(r.body(), UTF_8)
    val parsed = body.split('\n').toSeq
      .map(l => LineProtocol.parseLineFanned(l, TimeUnset))
    // tag-array fan-out writes DISTINCT rows even at one ns
    // (server_test.go:13187 keeps the plain tv9 point and the
    // array's tv9 point side by side) — skip the point merge for
    // the measurements a fanned line touched
    val fannedMsts = parsed.filter(_.size > 1)
      .flatMap(_.map(_.measurement)).toSet
    val pts = parsed.flatten
      .map(pt => pt.copy(
        time = if (pt.time == TimeUnset) nowNs else pt.time * mult))
    ingestPoints(wdb, pts, noMergeMsts = fannedMsts)
    r.empty(204)
  }

  /** The database of a v2 write's `bucket` (database[/rp]). */
  private def bucketDb(r: Request): String =
    r.params.getOrElse("bucket", "").split("/", 2)(0)

  /** Shared ingest core for the write-family routes (/write, /api/v2/
    * write, logkeeper /records and /upload): fence registration, the
    * batch-level schema conflict gate, per-measurement table build +
    * persist + catalog merge. Callers respond; this throws on error. */
  private def ingestPoints(wdb: String,
                           pts: Seq[LineProtocol.Point],
                           mergeSameTime: Boolean = true,
                           noMergeMsts: Set[String] = Set.empty): Unit = {
    if (wdb == defaultDb) defaultDbTouched = true
    if (pts.isEmpty) sys.error("no points parsed")
    // fence registration rides the write path (fence.go:37
    // RewriteRows): rows in the `fence` measurement with an `id` tag
    // and a string `geometry` field register a fence (existing ids
    // are skipped, like the reference); the rows also land as
    // ordinary measurement data below
    val fenceRows = pts.filter(_.measurement == "fence")
    if (fenceRows.nonEmpty) synchronized {
      fenceRows.foreach { pt =>
        (pt.tags.get("id"), pt.stringFields.get("geometry")) match {
          case (Some(id), Some(geo)) if !fences.contains(id) =>
            try fences = fences + (id -> Fence.parse(id, geo))
            catch { case e: Exception =>
              System.err.println(
                s"[gateway] fence parse failed: ${e.getMessage}") }
          case _ =>
        }
      }
      persistFences()
    }
    // batch-level schema-on-write conflict gate (write_helper.go:463)
    val conflicts = pts.flatMap { pt =>
      (pt.floatFields.keys.map((pt.measurement, _, "float")) ++
        pt.intFields.keys.map((pt.measurement, _, "integer")) ++
        pt.boolFields.keys.map((pt.measurement, _, "boolean")) ++
        pt.stringFields.keys.map((pt.measurement, _, "string")))
    }.distinct.groupBy(t => (t._1, t._2)).filter(_._2.size > 1)
    if (conflicts.nonEmpty) {
      val (m, f) = conflicts.head._1
      sys.error(s"partial write: field type conflict: $m.$f")
    }
    synchronized {
      pts.groupBy(_.measurement).foreach { case (m, ps) =>
        val tagKeys = ps.flatMap(_.tags.keys).distinct.sorted
        val tbl = HttpGateway.pointsTable(spark, m, ps)
        val d = dbNamed(wdb)
        // log stores (logkeeper logstreams) append: same-ns rows are
        // distinct log records, never one point
        val doMerge = mergeSameTime && !d.logStores(m) &&
          !noMergeMsts.contains(m)
        if (doMerge) {
          // intra-batch LWW resolved once; the persisted batch is the
          // canonical merged frame, so a restart's read-time dedup
          // (ordered by the per-batch __wseq stamp) reproduces exactly
          // the live catalog's point semantics
          val mtbl = HttpGateway.mergeBatch(tbl, tagKeys)
          val lo = ps.iterator.map(_.time).min
          val hi = ps.iterator.map(_.time).max
          // A batch that cannot collide with any existing point (its ns
          // window is disjoint from the measurement's KNOWN extent)
          // appends with a plain union — O(batch) per write, which is
          // the dominant TS ingest shape; only overlapping batches pay
          // the point-merge groupBy (the cluster-scale analogue is the
          // LSM compaction merging only overlapping shard groups).
          // Unknown extent (e.g. an init-catalog frame) merges — the
          // safe direction.
          val known: Option[(Long, Long)] = d.extents.get(m)
            .orElse(d.msts.get(m).flatMap(_.extentMs).map {
              case (a, b) => (a * 1000000L, (b + 1) * 1000000L) })
          val overlaps = known.forall { case (sLo, sHi) =>
            lo <= sHi && hi >= sLo }
          val seen = known match {
            case Some((sLo, sHi)) =>
              Some((math.min(sLo, lo), math.max(sHi, hi)))
            // fresh measurement: every point came from writes, so the
            // tracked window IS the full extent
            case None if !d.msts.contains(m) => Some((lo, hi))
            case None => None // unknown-extent frame present: stay
              // unknown — every write keeps merging (safe direction);
              // a too-small "known" extent would skip a needed merge
          }
          seen.foreach(e =>
            updDb(wdb)(x => x.copy(extents = x.extents + (m -> e))))
          append(wdb, m, mtbl, tagKeys, Store.Points, pointMerge = overlaps)
        } else append(wdb, m, tbl, tagKeys)
      }
    }
    stats.pointsWrittenOK.addAndGet(pts.size)
  }

  /** Resolve the ingest database for a write-family route: missing/
    * empty db targets the default database; an uncreated one is the
    * reference's HTTP 404 (errno.HttpDatabaseNotFound). */
  private def writeDb(db: Option[String]): String = {
    val wdb = db.filter(_.nonEmpty).getOrElse(defaultDb)
    if (!dbs.contains(wdb))
      throw new Routes.Status(404, "write error: database not found!")
    wdb
  }

  /** Arrow do-put (`services/arrowflight/service.go:291` DoPut): the
    * Flight descriptor's `{db, rp, mst}` arrive as query params
    * (`mst` required), the body is an Arrow IPC stream of record
    * batches — the same payload Flight carries, minus the gRPC
    * transport Spark's jar set does not ship ([[ArrowIngest]] header
    * documents the divergence). Batches append to the measurement
    * under the request database, write-privilege checked like every
    * other ingest route. */
  private def handleArrowDoPut(r: Request): Unit = {
    val wdb = writeDb(r.params.get("db"))
    val mst = r.params.getOrElse("mst", sys.error("missing measurement (mst)"))
    val (df, tagKeys) = graft.sources.ArrowIngest.decode(spark, r.body())
    val rows = synchronized { append(wdb, mst, df, tagKeys) }
    r.respond(200, s"""{"rows":${rows.count()}}""")
  }

  /** Arrow do-get (`services/arrowflight/service.go:349` DoGet →
    * HandleQuery): run an InfluxQL statement and stream the result
    * back as Arrow IPC record batches. READ-guarded like /query;
    * `db`/`q` params mirror the Flight ticket; rows stream off
    * `toLocalIterator` capped at `http.max-row-limit` (the non-chunked
    * truncation contract). */
  private def handleArrowDoGet(r: Request): Unit = {
    val p = r.params
    val q = p.getOrElse("q", sys.error("missing required parameter \"q\""))
    val reqDb = p.get("db").filter(_.nonEmpty).getOrElse(defaultDb)
    r.principal.foreach { user =>
      authorizeStatements(user, p.getOrElse("db", ""),
          Seq(q -> Statement.classify(q))).foreach {
        msg => r.respond(403, s"""{"error":${jsonStr(msg)}}"""); return
      }
    }
    val (_, _, df) = InfluxQL.executeShaped(
      catalogFor(reqDb, r.principal), q)
    r.ex.getResponseHeaders.set("Content-Type",
      "application/vnd.apache.arrow.stream")
    r.ex.sendResponseHeaders(200, 0)
    val os = r.ex.getResponseBody
    try graft.sources.ArrowIngest.writeStream(df, os,
      maxRows = maxRowLimit.toLong)
    finally { os.close(); r.ex.close() }
  }

  /** Metric-store remote write (`handler_prom.go:91`
    * servePromWriteWithMetricStore): every series in the body lands in
    * the ONE measurement named by the URL's {metric_store}, `__name__`
    * kept as an ordinary label. The store is immediately queryable on
    * the scoped prom routes AND as an InfluxQL measurement. */
  private def handlePromStoreWrite(r: Request): Unit = {
    val store = storeOf(r)
    val series0 = PromRemoteWrite.decode(r.body())
    if (series0.isEmpty) sys.error("no timeseries in write request")
    // per-tenant write limits, tenant = the metric store (mst)
    val (series, partialErr) = filterInvalidSeries(store, series0)
    if (series.isEmpty)
      sys.error(partialErr.getOrElse("timeseries have no sample"))
    val (df, tagKeys) =
      PromRemoteWrite.toStoreMeasurement(spark, series, store)
    synchronized {
      append(defaultDb, store, df, tagKeys, Store.PromStore)
    }
    resultsCache.invalidateAll()
    // the valid series landed; a 400 carrying the first validation
    // error reports the dropped ones (servePromWriteBase:203)
    partialErr.foreach(sys.error)
    r.empty(204)
  }

  /** Prometheus remote write (`handler_prom.go:86` servePromWrite): a
    * snappy+protobuf `WriteRequest` body ingested via
    * [[PromRemoteWrite]]. Series land in BOTH catalogs — as InfluxQL
    * measurements (tags + `value` field, like `timeSeries2Rows` rows)
    * and as PromQL metrics, immediately queryable from `/query` and
    * `/api/v1/query_range` alike. */
  private def handlePromWrite(r: Request): Unit = {
    val wdb = writeDb(r.params.get("db"))
    val series0 = PromRemoteWrite.decode(r.body())
    if (series0.isEmpty) sys.error("no timeseries in write request")
    // plain route: tenant = EmptyPromMst (servePromWrite passes "")
    val (series, promPartialErr) = filterInvalidSeries("", series0)
    if (series.isEmpty)
      sys.error(promPartialErr.getOrElse("timeseries have no sample"))
    synchronized {
      PromRemoteWrite.toMeasurements(spark, series).foreach {
        case (metric, (df, tagKeys)) =>
          // the prom query surface is one namespace = the default
          // database; other dbs' series stay InfluxQL-queryable only
          append(wdb, metric, df, tagKeys,
            if (wdb == defaultDb) Store.Prom else Store.Plain)
      }
    }
    resultsCache.invalidateAll()
    promPartialErr.foreach(sys.error)
    r.empty(204)
  }

  /** OTLP writes (`handler_otlp.go:104-114`): `batches` decodes the
    * body into frames (with tag keys) per measurement. Metric data
    * points land in measurements named after their instrumentation
    * scope, one field per metric, attributes as tags
    * (otlp_metrics_writer.go schema); spans in `spans` (trace_id/
    * span_id tags, duration_nano and friends as fields); log records
    * in `logs` (severity/body fields, attrs as tags). Success is an
    * empty Export*ServiceResponse. */
  private def handleOtlp(r: Request)(
      batches: Array[Byte] => Map[String, (DataFrame, Seq[String])]): Unit = {
    val wdb = writeDb(r.params.get("db"))
    val bs = batches(r.body())
    synchronized {
      bs.foreach { case (m, (df, tagKeys)) =>
        append(wdb, m, df, tagKeys) }
    }
    r.ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
    r.empty(200)
  }

  /** Prometheus remote read (`handler_prom.go:303` servePromReadBase):
    * each decoded Query becomes a Spark range+matcher filter over the
    * matching metrics; raw samples come back as a snappy+protobuf
    * `ReadResponse`. Missing labels match the empty string, Prometheus
    * matcher semantics. */
  private def handlePromRead(r: Request): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, unix_millis}
    val queries = PromRemoteRead.decodeRequest(r.body())
    if (queries.isEmpty) sys.error("no queries in read request")
    val cat = promCatOf(r)
    val results = queries.map { q =>
      val nameM = q.matchers.filter(_.name == PromRemoteWrite.MetricLabel)
      val labelM = q.matchers.filterNot(_.name == PromRemoteWrite.MetricLabel)
      cat.toSeq.filter { case (name, _) => nameM.forall(_.matches(name)) }
        .sortBy(_._1)
        .flatMap { case (name, mt) =>
          val tus = unix_millis(col(mt.time))
          var df = mt.df.filter(tus >= q.startMs && tus <= q.endMs)
          labelM.foreach { m =>
            val c =
              if (df.columns.contains(m.name))
                coalesce(col(m.name).cast("string"), lit(""))
              else lit("")
            df = df.filter(m.typ match {
              case 0 => c === m.value
              case 1 => c =!= m.value
              case 2 => c.rlike("^(?:" + m.value + ")$")
              case 3 => !c.rlike("^(?:" + m.value + ")$")
              case t => sys.error(s"unknown matcher type $t")
            })
          }
          // http.max-row-limit (config.go:37 DefaultMaxRowNum): bound
          // the driver-side collect like the reference bounds its
          // result emission — a wide-open read errs, not OOMs
          val rows = df.select(
            mt.labels.map(l =>
              coalesce(col(l).cast("string"), lit("")).as(l)) ++
              Seq(tus.as("_t"), col(mt.value).cast("double").as("_v")): _*)
            .limit(maxRowLimit + 1).collect()
          if (rows.length > maxRowLimit)
            sys.error(s"remote read exceeds max-row-limit ($maxRowLimit); " +
              "narrow the time range or matchers")
          rows.groupBy(r => mt.labels.map(l => r.getAs[String](l)))
            .toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering)
            .map { case (lv, rs) =>
              val labels = mt.labels.zip(lv).filter(_._2.nonEmpty).toMap +
                (PromRemoteWrite.MetricLabel -> name)
              PromRemoteWrite.Series(labels,
                rs.map(r => (r.getAs[Long]("_t"), r.getAs[Double]("_v")))
                  .sortBy(_._1).toSeq)
            }
        }
    }
    val body = PromRemoteRead.encodeResponse(results)
    r.ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
    r.ex.getResponseHeaders.set("Content-Encoding", "snappy")
    r.ex.sendResponseHeaders(200, body.length.toLong)
    r.ex.getResponseBody.write(body); r.ex.close()
  }

  // ---------------------------------------------------------- /api/v1/…
  private val StepRx = """^(\d+)(ms|s|m|h|d)?$""".r
  /** `15s` / `1m` / bare seconds → engine duration string. */
  private def stepOf(s: String): String = {
    val m = StepRx.findFirstMatchIn(s.trim)
      .getOrElse(sys.error(s"bad step: $s"))
    val n = m.group(1).toLong
    Option(m.group(2)).getOrElse("s") match {
      case "ms" => s"$n milliseconds"
      case "s" => s"$n seconds"
      case "m" => s"${n * 60} seconds"
      case "h" => s"${n * 3600} seconds"
      case "d" => s"${n * 86400} seconds"
    }
  }

  /** Prom time param: unix seconds (possibly fractional) or RFC3339. */
  private def promTimeMs(s: String): Long =
    try (s.toDouble * 1000.0).round
    catch {
      case _: NumberFormatException =>
        java.time.OffsetDateTime.parse(s.trim).toInstant.toEpochMilli
    }

  /** Go-style shortest float for sample values ("1" not "1.0"). */
  private def fmtVal(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else if (v == v.toLong && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def fmtSec(ms: Long): String =
    if (ms % 1000 == 0) (ms / 1000).toString
    else (ms / 1000.0).toString

  // ------------------------------------------- prom metadata endpoints
  // (`httpd/handler.go:361-377`: servePromQueryLabels / LabelValues /
  // Series). Label names come from catalog metadata — no data pass;
  // label values and series run column-pruned distincts.

  private def promSuccess(r: Request, dataJson: String): Unit =
    r.respond(200, s"""{"status":"success","data":$dataJson}""")

  /** Logkeeper repository CRUD (`handler_logstore.go:199-290`): a
    * repository IS a database. GET lists (raw sorted JSON array, the
    * reference's exact body shape); POST/DELETE create/drop. */
  private def createRepository(r: Request): Unit = {
    val repo = r("repo")
    require(Store.persistableDb(repo), s"invalid repository name: $repo")
    synchronized {
      if (dbs.contains(repo)) sys.error("repository already exists")
      dbs = dbs + (repo -> Db())
      persistDatabases()
    }
    r.respond(200, "{}")
  }

  private def dropRepository(r: Request): Unit = {
    synchronized {
      if (!dbs.contains(r("repo"))) sys.error("repository not found")
      dropDb(r("repo"))
      persistDatabases()
    }
    r.respond(200, "{}")
  }

  private def repoNamed(repo: String): Db =
    dbs.getOrElse(repo, sys.error("repository not found"))

  /** Logstream `stream` of repository `repo`, or the route's error. */
  private def logStream(repo: String, stream: String): InfluxQL.Measurement =
    repoNamed(repo).msts.getOrElse(stream, sys.error("logstream not found"))

  /** A logstream before its first write: the ingest time axis only. */
  private def emptyLogStream: InfluxQL.Measurement = {
    import org.apache.spark.sql.types._
    InfluxQL.Measurement(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("time", LongType),
        StructField("ts", TimestampType)))), Nil, "ts")
  }

  /** Logkeeper logstream CRUD (`handler_logstore.go:351+`): a logstream
    * IS a measurement of its repository. Ingest/query ride the normal
    * /write and /query paths. */
  private def createLogstream(r: Request): Unit = {
    val (repo, stream) = (r("repo"), r("stream"))
    synchronized {
      if (repoNamed(repo).msts.contains(stream))
        sys.error("logstream already exists")
      updDb(repo)(d => d.copy(msts = d.msts + (stream -> emptyLogStream),
        logStores = d.logStores + stream))
      persistLogStores()
    }
    r.respond(200, "{}")
  }

  private def dropLogstream(r: Request): Unit = {
    val (repo, stream) = (r("repo"), r("stream"))
    synchronized {
      logStream(repo, stream)
      updDb(repo)(d => d.copy(msts = d.msts - stream,
        logStores = d.logStores - stream))
      store.foreach(_.delete(repo, stream))
      persistLogStores()
    }
    r.respond(200, "{}")
  }

  /** Logkeeper pipe-syntax queries (`handler.go:532-560` routes,
    * `handler_logstore_query.go` serveQueryLog / serveAggLogQuery /
    * serveAnalytics). The `query` param is `Ppl0 | Ppl1 | … [| SELECT …]`
    * ([[LogPipe.splitPplSql]]); PPL compiles onto the logstream frame
    * (extract columns + ANDed filter), the optional SELECT tail runs
    * through the InfluxQL executor with its FROM pinned to the stream —
    * the reference's rewriteStatementForLogStore source replacement.
    * Params mirror getQueryLogRequest: `from`/`to` epoch-ms (half-open),
    * `limit` (default 10, max 1000 — MaxLogLimit), `reverse` (default
    * true = newest first), `query`. All collects are limit-capped. */
  private def logQuery(action: String)(r: Request): Unit = {
    val t0 = System.nanoTime()
    val (p, stream) = (r.params, r("stream"))
    val meas = logStream(r("repo"), stream)
    val fromMs = p.get("from").filter(_.nonEmpty).map(_.toLong)
      .getOrElse(0L)
    val toMs = p.get("to").filter(_.nonEmpty).map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    require(fromMs <= toMs, "from value larger than to")
    val limit = math.min(
      p.get("limit").filter(_.nonEmpty).map(_.toInt).getOrElse(10), 1000)
    val reverse = p.get("reverse").filter(_.nonEmpty)
      .forall(_.toBoolean)
    val query = p.getOrElse("query", "")

    import org.apache.spark.sql.functions._
    val timeBound = meas.df.filter(
      unix_millis(col(meas.time)) >= fromMs &&
      unix_millis(col(meas.time)) < toMs)
    val (frame, sqlTail) = logPipeFrame(timeBound, query)
    def tookMs = (System.nanoTime() - t0) / 1000000L

    action match {
      case "logs" =>
        val ordered = frame.orderBy(
          if (reverse) col(meas.time).desc else col(meas.time).asc)
        logsReply(r, ordered.limit(limit).collect(),
          logRenderCols(frame.columns.toSeq, meas.time), meas.time, tookMs,
          if (reverse) toMs else fromMs)
      case "histogram" =>
        // serveAggLogQuery: the pipe query + `select count(time)` per
        // adaptive bucket, zero-filled across [from, to) and edge
        // buckets clamped to the request range (GenZeroHistogram)
        val widthMs = LogPipe.adaptiveBucketMs(fromMs, toMs)
        val counts = frame
          .groupBy((floor(unix_millis(col(meas.time)) / widthMs)
            * widthMs).cast("long").as("_b"))
          .agg(count(lit(1)).as("_n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val b0 = Math.floorDiv(fromMs, widthMs) * widthMs
        val hist = Iterator.iterate(b0)(_ + widthMs)
          .takeWhile(_ < toMs).map { b =>
            val from = math.max(b, fromMs)
            val to = math.min(b + widthMs, toMs)
            s"""{"from":$from,"to":$to,"count":${counts.getOrElse(b, 0L)}}"""
          }.mkString("[", ",", "]")
        val total = counts.valuesIterator.sum
        logkeeperOk(r,
          s""""count":$total,"progress":"1.000000","histograms":$hist,""" +
          s""""took_ms":$tookMs,"scroll_id":""""")
      case "analytics" =>
        // serveAnalytics: no SELECT tail → the nil-request empty body
        sqlTail match {
          case None =>
            logkeeperOk(r,
              s""""total_size":0,"progress":"Complete","took_ms":$tookMs,""" +
              s""""scroll_id":""""")
          case Some(sql) =>
            // rewriteStatementForLogStore pins the statement's source
            // to the logstream regardless of any FROM in the text —
            // execute against a one-measurement catalog of the
            // PPL-filtered frame, inserting the FROM when omitted
            val cat = Map(stream -> meas.copy(df = frame, extentMs = None))
            val out = InfluxQL.execute(cat, withFrom(sql, stream))
            val cols = out.columns.toSeq
            val dataCols = cols.filterNot(_ == "time") ++
              (if (cols.contains("time")) Seq("time") else Nil)
            val rows = out.limit(maxRowLimit + 1).collect()
            val header = dataCols.map(jsonStr).mkString("[", ",", "]")
            val body = rows.take(maxRowLimit).map { r =>
              dataCols.map { c =>
                r.get(r.fieldIndex(c)) match {
                  case null => "\"\""
                  case ts: java.sql.Timestamp => jsonStr(ts.getTime.toString)
                  case d: Double => jsonStr(
                    if (d == d.floor && !d.isInfinite) d.toLong.toString
                    else d.toString)
                  case v => jsonStr(v.toString)
                }
              }.mkString("[", ",", "]")
            }
            logkeeperOk(r,
              s""""total_size":${math.min(rows.length, maxRowLimit)},""" +
              s""""progress":"Complete","took_ms":$tookMs,"scroll_id":"",""" +
              s""""groupInfo":[],"dataset":${(header +: body).mkString("[", ",", "]")}""")
        }
    }
  }

  /** A logkeeper query's PPL stage over `df`, and the SQL tail after
    * the pipe. `__log___` resolves to the stream's content column (the
    * logkeeper write schema's log field), else its first string field. */
  private def logPipeFrame(df: DataFrame, query: String)
      : (DataFrame, Option[String]) = {
    val fullText =
      if (df.columns.contains("content")) "content"
      else df.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name).getOrElse("content")
    val (ppl, sqlTail) = LogPipe.splitPplSql(query)
    val stmt =
      if (ppl.trim.nonEmpty) LogPipe.parse(ppl)
      else LogPipe.Statement(None, None)
    (LogPipe.compile(df, stmt, fullText), sqlTail)
  }

  /** One logkeeper JSON cell; timestamps render as epoch ms. */
  private def logCell(v: Any): String = v match {
    case null => "null"
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case ts: java.sql.Timestamp => ts.getTime.toString
    case n => n.toString
  }

  /** A logkeeper success reply: the reference's envelope around
    * `fields`. */
  private def logkeeperOk(r: Request, fields: String): Unit =
    r.respond(200, s"""{"success":true,"code":"200","message":"",""" +
      s""""request_id":${jsonStr(java.util.UUID.randomUUID.toString)},""" +
      fields + "}")

  /** The `logs` and `context` reply: `rows` rendered over `cols`, the
    * time column keyed `time`. */
  private def logsReply(r: Request,
                        rows: Array[org.apache.spark.sql.Row],
                        cols: Seq[String], time: String, tookMs: Long,
                        cursorMs: Long): Unit = {
    def key(c: String) = jsonStr(if (c == time) "time" else c)
    val logs = rows.map(r => cols.map(c =>
      s"${key(c)}:${logCell(r.get(r.fieldIndex(c)))}").mkString("{", ",", "}"))
    logkeeperOk(r, s""""count":${rows.length},"progress":"Complete",""" +
      s""""logs":${logs.mkString("[", ",", "]")},""" +
      s""""keys":${cols.map(key).mkString("[", ",", "]")},""" +
      s""""took_ms":$tookMs,"cursor_time":$cursorMs,""" +
      s""""complete_progress":1.0,"scroll_id":""""")
  }

  /** Logkeeper ingest routes (`handler_logstore.go`): POST /records
    * (serveRecord :1653 — NDJSON or jsonArray log objects, `precision`
    * ns/us/ms/s with the reference's ms default, `mapping` JSON
    * renaming the timestamp key, `log-tags` header tags, gzip bodies;
    * rows that fail to parse land as fail-log rows tagged
    * `failLog=true` with the raw line as `content`, the reference's
    * fail-record stream), POST /upload (serveUpload :1833 — raw lines,
    * each becoming a `content` row stamped at request time) and POST
    * /recalldata (serveRecallData :3207 — revert a pending
    * retention-delete; deletion is immediate in this engine so a valid
    * target is an idempotent 200). All three reuse [[ingestPoints]],
    * so fence registration / schema conflict / persistence behave
    * exactly like /write. */
  private def logIngest(action: String)(r: Request): Unit = {
    val (p, repo, stream) = (r.params, r("repo"), r("stream"))
    logStream(repo, stream)
    if (action == "recalldata") { r.respond(200, ""); return }
    val rawBody = r.body()
    val body =
      if (r.header("x-log-compresstype").contains("gzip")) {
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(rawBody))
        try new String(gz.readAllBytes(), UTF_8) finally gz.close()
      } else new String(rawBody, UTF_8)
    val nowNs = System.currentTimeMillis() * 1000000L
    val logTags: Map[String, String] =
      r.header("log-tags").filter(_.nonEmpty)
        .map(MiniJson.parseObject(_).map { case (k, v) =>
          k -> String.valueOf(v) })
        .getOrElse(Map.empty)
    val pts: Seq[LineProtocol.Point] = action match {
      case "upload" =>
        body.split('\n').toSeq.filter(_.nonEmpty).map { line =>
          LineProtocol.Point(stream, logTags, Map.empty, Map.empty,
            Map.empty, Map("content" -> line), nowNs)
        }
      case _ => // records
        val mult = p.getOrElse("precision", "ms") match {
          case "ns" => 1L
          case "us" => 1000L
          case "ms" => 1000000L
          case "s" => 1000000000L
          case x => sys.error(s"invalid precision $x")
        }
        val mapping = p.get("mapping").filter(_.nonEmpty)
          .map(MiniJson.parseObject).getOrElse(Map.empty)
        val tsKey = mapping.get("timestamp")
          .map(String.valueOf(_)).getOrElse("time")
        def toPoint(m: Map[String, Any]): LineProtocol.Point = {
          var fl = Map.empty[String, Double]
          var st = Map.empty[String, String]
          var bo = Map.empty[String, Boolean]
          var t = nowNs
          m.foreach { case (k, v) =>
            if (k == tsKey) v match {
              case l2: java.lang.Long => t = l2 * mult // ns-exact
              case d: Double => t = d.toLong * mult
              case sStr: String => t = sStr.trim.toLong * mult
              case _ => ()
            } else v match {
              case sStr: String => st += k -> sStr
              case d: Double => fl += k -> d
              case l2: java.lang.Long => fl += k -> l2.toDouble
              case b: Boolean => bo += k -> b
              case null => ()
              case other => st += k -> MiniJson.render(other)
            }
          }
          LineProtocol.Point(stream, logTags, fl, Map.empty, bo, st, t)
        }
        def failPoint(raw: String): LineProtocol.Point =
          LineProtocol.Point(stream, logTags + ("failLog" -> "true"),
            Map.empty, Map.empty, Map.empty,
            Map("content" -> raw), nowNs)
        p.getOrElse("type", "json").toLowerCase match {
          case "" | "json" =>
            body.split('\n').toSeq.filter(_.trim.nonEmpty).map { line =>
              try toPoint(MiniJson.parseObject(line))
              catch { case _: Exception => failPoint(line) }
            }
          case "jsonarray" =>
            (MiniJson.parse(body) match {
              case xs: Vector[_] => xs
              case _ => sys.error("invalid log data type")
            }).map {
              case m: Map[_, _] =>
                // same per-record fallback as the NDJSON arm: one bad
                // record becomes a fail-log row, not a batch 400
                try toPoint(m.asInstanceOf[Map[String, Any]])
                catch { case _: Exception =>
                  failPoint(MiniJson.render(m)) }
              case other => failPoint(MiniJson.render(other))
            }
          case _ => sys.error("invalid log data type")
        }
    }
    if (pts.isEmpty) sys.error("no logs parsed")
    // logkeeper streams are LOG stores: rows at the same ns are
    // distinct records, never merged into one point
    ingestPoints(repo, pts, mergeSameTime = false)
    r.respond(200, "")
  }

  /** Logkeeper stream tasks (`handler_logstore_stream.go`): POST
    * creates a continuous stream view over the logstream — body
    * `{"query": "<ppl|sql>", "id": "<taskId>"}`, aggregations limited
    * to min/max/sum/count (streamSupportMap :31, StreamCheck), the
    * view measurement named `view-<logStream>-<id>`
    * (rewriteLogStream :146). Re-expressed on the engine's existing
    * stream registry: the task compiles to a canonical CREATE STREAM
    * statement, journals like every other stream, and flushes under
    * the same sweep. DELETE /stream-task/{taskId} drops it. */
  private def createStreamTask(r: Request): Unit = {
    val (repo, stream) = (r("repo"), r("stream"))
    logStream(repo, stream)
    val body = new String(r.body(), UTF_8)
    val cfg = MiniJson.parseObject(body)
    val id = cfg.get("id").map(String.valueOf(_))
      .filter(_.nonEmpty).getOrElse(sys.error("id is required"))
    val query = cfg.get("query").map(String.valueOf(_))
      .filter(_.nonEmpty).getOrElse(sys.error("query is required"))
    // a pipe-less `select …` is pure SQL (getPureSqlQuery arm);
    // otherwise the SELECT is the query's last pipe segment
    val (_, sqlTail) = LogPipe.splitPplSql(query)
    val sql = sqlTail.getOrElse {
      if (query.trim.toLowerCase.startsWith("select")) query.trim
      else sys.error("query needs a SELECT")
    }
    val view = s"view-$stream-$id"
    val ddl = s"CREATE STREAM '$id' INTO '$view' ON " +
      withFrom(sql.trim, stream)
    // StreamCheck: only min/max/sum/count stream-aggregate
    val st = StreamDDL.parse(ddl)
    val bad = st.calls.map(_._1)
      .filterNot(Set("min", "max", "sum", "count"))
    require(bad.isEmpty,
      s"unsupported call in stream task: ${bad.mkString(",")}")
    require(st.from == stream, "stream task must read its logstream")
    synchronized { registerStream(repo, st, ddl, Long.MinValue)
      persistDdl() }
    r.respond(200, s"""{"query":${jsonStr(ddl)},""" +
      s""""repo":${jsonStr(repo)},"logStream":${jsonStr(view)}}""")
  }

  /** DELETE /stream-task/{taskId} drops a stream task. */
  private def dropStreamTask(r: Request): Unit = {
    val (repo, id) = (r("repo"), r("task"))
    logStream(repo, r("stream"))
    synchronized {
      if (!dbs.get(repo).exists(_.streams.contains(id)))
        sys.error(s"stream task not found: $id")
      updDb(repo)(x => x.copy(streams = x.streams - id))
      persistDdl()
    }
    r.respond(200, "{}")
  }

  /** Logkeeper consume surface (`handler_logstore_consume.go`): the
    * Kafka-like cursor consumption API. Cursor wire format replicated
    * exactly ([[Consume]]); positions re-expressed as
    * (timestamp ns, rows-consumed-at-timestamp) over the time-ordered
    * measurement frame — ties inside a timestamp ordered by a
    * deterministic row hash so repeated polls are stable regardless of
    * scan parallelism. `logbycursor` / `cursor[/x]` are EMPTY handlers
    * in the reference (serveQueryLogByCursor :57, serveGetCursor /
    * servePullLog :1006-1008) and mirror that here: authed 200, no body.
    * All collects are (skip + count + 1)-bounded with skip capped at
    * maxRowLimit. */
  private def consume(action: String)(r: Request): Unit = {
    val t0 = System.nanoTime()
    val (p, stream) = (r.params, r("stream"))
    val meas = logStream(r("repo"), stream)
    import org.apache.spark.sql.functions._
    def tookMs = (System.nanoTime() - t0) / 1000000L
    def jnum(l: Long) = l.toString
    // ns-exact epoch for a logstream frame: prefer the raw ingest-time
    // `time` long column (exact ns) over unix_millis(ts) (ms-floored)
    def nsEpochExpr(m: graft.query.InfluxQL.Measurement) =
      if (m.time != "time" && m.df.columns.contains("time") &&
          m.df.schema("time").dataType ==
            org.apache.spark.sql.types.LongType) col("time")
      else unix_millis(col(m.time)) * 1000000L
    def renderCols(m: graft.query.InfluxQL.Measurement): Seq[String] =
      logRenderCols(m.df.columns.toSeq, m.time)

    action match {
      case "consume/cursors" =>
        // getQueryConsumeCursorsRequest: from/end in epoch-ns, end
        // optional (hasEnd), task_num capped at the pt count (= 1 here)
        val fromNs = p.get("from").filter(_.nonEmpty).map(_.toLong)
          .getOrElse(0L)
        val endOpt = p.get("end").filter(_.nonEmpty).map(_.toLong)
        require(endOpt.forall(fromNs < _),
          "from value must be lower than end value")
        val taskNum = math.max(1,
          p.get("task_num").filter(_.nonEmpty).map(_.toInt).getOrElse(1))
        val fromCur = Consume.mint(fromNs, stream, reverse = false,
          taskNum = taskNum)
        val endPart = endOpt.map { e =>
          s""","end_cursor":${jsonStr(
            Consume.mint(e - 1, stream, reverse = true,
              taskNum = taskNum).encode)}"""
        }.getOrElse(",\"end_cursor\":\"\"")
        r.respond(200,
          s"""[{"from_cursor":${jsonStr(fromCur.encode)}${endPart}}]""")

      case "consume/cursor-time" =>
        // serveConsumeCursorTime: min/max task timestamps, ns -> ms
        val cur = Consume.decode(p.get("cursor").filter(_.nonEmpty)
          .getOrElse(sys.error("cursor is illegal")))
        val ts = cur.tasks.map(_.curr.timestamp)
        val (t, maxT) =
          if (ts.isEmpty) (cur.time, cur.time)
          else if (cur.reverse) (ts.max, ts.min)
          else (ts.min, ts.max)
        r.respond(200, s"""{"cursor_time":${jnum(t / 1000000L)},""" +
          s""""max_cursor_time":${jnum(maxT / 1000000L)}}""")

      case "consume/logs" =>
        val fromCur = Consume.decode(p.get("from_cursor")
          .filter(_.nonEmpty)
          .getOrElse(sys.error("from_cursor is illegal")))
        val endRaw = p.get("end_cursor").filter(_.nonEmpty)
        val endCur = endRaw.map(Consume.decode)
        val count = p.get("count").filter(_.nonEmpty).map(_.toInt)
          .getOrElse(10)
        require(count > 0 && count <= 100, "count value is illegal")
        val task = fromCur.tasks.headOption
          .getOrElse(sys.error("cursor task num is not illegal"))
        val tNs = task.curr.timestamp
        val skip = task.curr.blockId
        require(skip >= 0 && skip <= maxRowLimit, "cursor is illegal")
        val endNs = endCur.map(_.time + 1).getOrElse(Long.MaxValue)
        // Ingested frames carry the exact ns epoch in the raw `time`
        // long (ingestPoints → toMeasurementTable); `ts` is µs-rounded.
        // Use it for _ns so an ns-precision from-cursor never skips the
        // partial-millisecond rows, and drop it from the rendered row
        // (meas.time is renamed to "time" there — two keys otherwise).
        val frameNs = nsEpochExpr(meas)
        val srcCols = renderCols(meas)
        val frame = meas.df
          .withColumn("_ns", frameNs)
          .withColumn("_h",
            xxhash64(to_json(struct(srcCols.map(col): _*))))
          .filter(col("_ns") >= tNs && col("_ns") < endNs)
          .orderBy(col("_ns").asc, col("_h").asc)
        val rows0 = frame.limit((skip + count + 1).toInt).collect()
        val nsIdx = rows0.headOption.map(_.fieldIndex("_ns")).getOrElse(0)
        // skip = rows already consumed at exactly the cursor timestamp
        var toSkip = skip
        val afterSkip = rows0.dropWhile { r =>
          val more = toSkip > 0 && r.getLong(nsIdx) == tNs
          if (more) toSkip -= 1
          more
        }
        val skipped = skip - toSkip
        val batch = afterSkip.take(count)
        val isComplete = afterSkip.length <= count
        val logs = batch.map { r =>
          srcCols.map { c =>
            if (c == meas.time)
              s""""time":${r.getLong(nsIdx)}"""
            else s"${jsonStr(c)}:${logCell(r.get(r.fieldIndex(c)))}"
          }.mkString("{", ",", "}")
        }.mkString("[", ",", "]")
        val newCur = batch.lastOption.map { last =>
          val lastNs = last.getLong(nsIdx)
          val atLast = batch.count(_.getLong(nsIdx) == lastNs) +
            (if (lastNs == tNs) skipped else 0L)
          fromCur.copy(time = lastNs, tasks = Seq(task.copy(
            curr = task.curr.copy(timestamp = lastNs, blockId = atLast))))
        }.getOrElse(fromCur)
        val maxLog = batch.lastOption.map(_.getLong(nsIdx)).getOrElse(0L)
        r.respond(200,
          s"""{"is_complete":$isComplete,"total_count":${batch.length},""" +
          s""""max_log_time":$maxLog,"took_ms":$tookMs,"logs":$logs,""" +
          s""""from_cursor":${jsonStr(newCur.encode)}""" +
          endRaw.map(e => s""","end_cursor":${jsonStr(e)}""").getOrElse("") +
          "}")

      case "context" =>
        // serveContextQueryLog: the logs query re-bounded at a scroll
        // cursor pivot (parseScrollID's simple `^^<ns>` / `ns|x|seq^…`
        // forms), direction forward|backward
        val direction = p.getOrElse("direction", "")
        val reverse = direction match {
          case "backward" => true
          case "forward" | "" => false
          case _ => sys.error("direction value is illegal")
        }
        val rawCur = p.get("cursor").filter(_.nonEmpty)
          .getOrElse(sys.error("no cursor"))
        val dec = new String(
          java.util.Base64.getDecoder.decode(rawCur), "UTF-8")
        val parts = dec.split("\\^", 3)
        require(parts.length == 3, "wrong scroll_id")
        // "^^<ns>" splits to ["", "", ns]; "<ns|x|seq>^a^b" carries the
        // pivot in the first component (parseScrollID's two arms)
        val pivotNs =
          if (parts(0).isEmpty)
            (if (parts(1).nonEmpty) parts(1) else parts(2)).toLong
          else parts(0).split("\\|")(0).toLong
        val fromMs = p.get("from").filter(_.nonEmpty).map(_.toLong)
          .getOrElse(0L)
        val toMs = p.get("to").filter(_.nonEmpty).map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        require(fromMs <= toMs, "from value larger than to")
        val limit = math.min(p.get("limit").filter(_.nonEmpty)
          .map(_.toInt).getOrElse(10), 1000)
        val query = p.getOrElse("query", "")
        val base = meas.df
          .withColumn("_ns", nsEpochExpr(meas))
        val bounded =
          if (reverse)
            base.filter(col("_ns") >= fromMs * 1000000L &&
              col("_ns") < math.min(toMs * 1000000L, pivotNs))
          else
            base.filter(col("_ns") >= math.max(fromMs * 1000000L, pivotNs)
              && col("_ns") < toMs * 1000000L)
        val frame = logPipeFrame(bounded, query)._1
          .orderBy(if (reverse) col(meas.time).desc else col(meas.time).asc)
        logsReply(r, frame.limit(limit).collect(), logRenderCols(
          frame.columns.toSeq.filterNot(_ == "_ns"), meas.time), meas.time,
          tookMs, pivotNs / 1000000L)
    }
  }

  /** Insert `FROM "stream"` into a SELECT that omitted it — the analytics
    * tail usually reads `select count(time)` and relies on the handler
    * pinning the source (rewriteStatementForLogStore). */
  private def withFrom(sql: String, stream: String): String = {
    val lower = sql.toLowerCase
    if (lower.matches("(?s).*\\bfrom\\b.*")) sql
    else {
      val cut = Seq(" group by", " order by", " where", " limit",
          " offset", " slimit", " soffset")
        .map(k => lower.indexOf(k)).filter(_ >= 0)
        .reduceOption(math.min).getOrElse(sql.length)
      sql.substring(0, cut) + s""" FROM "$stream"""" + sql.substring(cut)
    }
  }

  /** The database a plain prom read names: `db`, else the default. */
  private def promDb(r: Request): String =
    r.params.get("db").filter(_.nonEmpty).getOrElse(defaultDb)

  /** The prom catalog of a plain prom read: the default database's
    * metrics, or none for another database — prom series live in the
    * default database only. */
  private def promCatOf(r: Request): Map[String, PromQL.Metric] =
    if (promDb(r) == defaultDb) promCat else Map.empty

  /** The `{store}` of a metric-store route; an empty one is the
    * reference's InvalidPromMstName 404. */
  private def storeOf(r: Request): String = {
    val s = r("store")
    if (s.isEmpty) throw new Routes.Status(404, "invalid the metric store")
    s
  }

  private def promQuery(range: Boolean)(r: Request): Unit =
    handleProm(r, range, promCatOf(r), s"db:${promDb(r)}|")

  /** A store query resolves each selector inside the store; a store
    * nobody created reads as an empty one. */
  private def storeQuery(range: Boolean)(r: Request): Unit = {
    val s = storeOf(r)
    handleProm(r, range, new StoreCatView(promStores.getOrElse(s, emptyStore)),
      s"store:$s|", tenant = s)
  }

  /** The label names of a prom namespace: its metric frames' labels, and
    * `__name__` when `names` lists the metrics (a store's metric names
    * are its own `__name__` label). */
  private def labels(r: Request, frames: Iterable[PromQL.Metric],
                     names: Option[Iterable[String]]): Unit =
    promSuccess(r, (names.map(_ => "__name__") ++ frames.flatMap(_.labels))
      .toSeq.distinct.sorted.map(jsonStr).mkString("[", ",", "]"))

  /** The first [[MaxLabelValues]] values of label `{label}` in a prom
    * namespace (see [[labels]]). */
  private def labelValues(r: Request, frames: Iterable[PromQL.Metric],
                          names: Option[Iterable[String]]): Unit = {
    import org.apache.spark.sql.functions.col
    val label = r("label")
    val values = names.filter(_ => label == "__name__").map(_.toSeq)
      .getOrElse(frames.toSeq.filter(_.labels.contains(label)).flatMap { m =>
        m.df.select(col(label).cast("string").as("v")).distinct()
          .orderBy("v").limit(MaxLabelValues).collect()
          .flatMap(row => Option(row.getString(0)))
      })
    promSuccess(r, values.filter(_.nonEmpty).distinct.sorted
      .take(MaxLabelValues).map(jsonStr).mkString("[", ",", "]"))
  }
  private val MaxLabelValues = 1000

  // Prom metric metadata (handler.go:385 servePromQueryMetaData):
  // every known metric reported untyped with empty help/unit — the
  // engine's catalog carries no HELP/TYPE declarations
  private def promMetadata(r: Request): Unit = {
    val entries = promCatOf(r).keys.toSeq.sorted.map(m =>
      s"${jsonStr(m)}:[{\"type\":\"unknown\",\"help\":\"\",\"unit\":\"\"}]")
    promSuccess(r, entries.mkString("{", ",", "}"))
  }

  private def handleSeries(r: Request): Unit = {
    val sel = r.params.getOrElse("match[]",
      sys.error("""missing required parameter "match[]""""))
    PromQL.parse(sel) match {
      case s: PromQL.Sel =>
        val mt = promCatOf(r).getOrElse(s.name,
          sys.error(s"unknown metric ${s.name}"))
        var df = mt.df
        s.matchers.foreach { case (label, op, v) =>
          import org.apache.spark.sql.functions.{col, lit}
          val c = if (df.columns.contains(label)) col(label) else lit("")
          df = df.filter(op match {
            case "=" => c === v
            case "!=" => c =!= v
            case "=~" => c.rlike("^(?:" + v + ")$")
            case "!~" => !c.rlike("^(?:" + v + ")$")
          })
        }
        val rows = df
          .select(mt.labels.map(org.apache.spark.sql.functions.col): _*)
          .distinct().limit(1000).collect()
        val sets = rows.map { r =>
          val pairs = (s"""${jsonStr("__name__")}:${jsonStr(s.name)}""" +:
            mt.labels.zipWithIndex.collect {
              case (l, i) if r.get(i) != null &&
                  String.valueOf(r.get(i)).nonEmpty =>
                s"${jsonStr(l)}:${jsonStr(String.valueOf(r.get(i)))}"
            })
          pairs.mkString("{", ",", "}")
        }
        promSuccess(r, sets.sorted.mkString("[", ",", "]"))
      case other => sys.error(s"match[] must be a selector, got $other")
    }
  }

  /** One collected (series, step) sample — the results-cache payload. */
  private case class Sample(labels: Seq[(String, String)], evalMs: Long,
                            value: Double)

  /** Evaluate `query` over `[loMs, hiMs]` and collect its samples —
    * `evaluate` returns only the steps in that range. */
  private def collectSamples(cat: Map[String, PromQL.Metric],
                             query: String, step: String,
                             loMs: Long, hiMs: Long): Seq[Sample] = {
    val df = PromQL.evaluate(cat, query, step,
      boundsMs = Some((loMs, hiMs)))
    val labelCols = df.columns.filterNot(Set("eval_ms", "value")).toSeq
    // driver-protection cap, like every other gateway collect
    // (`http.max-row-limit`, handler.go getResultRowsCnt): a hostile
    // step/range combination must error, not materialize unbounded
    // rows on the driver — Prometheus's own "too many samples" refusal
    val rows = graft.ExecProfile.takeAll(df, maxRowLimit + 1)
    if (rows.length > maxRowLimit) sys.error(
      s"query processing would load too many samples into memory: " +
        s"more than max-row-limit ($maxRowLimit) — reduce the range " +
        s"or increase the step")
    rows.toSeq
      .map(r => Sample(labelCols.map(c => c -> r.getAs[String](c)),
        r.getAs[Long]("eval_ms"), r.getAs[Double]("value")))
  }

  /** A PromQL instant or range query over `cat`; its range results
    * cache under `cacheKeyPrefix`, and `tenant`'s limits apply. */
  private def handleProm(r: Request, range: Boolean,
                       cat: Map[String, PromQL.Metric],
                       cacheKeyPrefix: String,
                       tenant: String = ""): Unit = {
    val p = r.params
    val query = p.getOrElse("query",
      sys.error("missing required parameter \"query\""))
    // instant queries evaluate the last 5m of buckets ending at `time`
    // and report the freshest one — Prometheus's instant-vector
    // lookback (its staleness delta), over this engine's step-bucketed
    // evaluation.
    val lookbackMs = 300000L
    val (loMs, hiMs, step) =
      if (range) {
        val lo = promTimeMs(p.getOrElse("start", sys.error("missing start")))
        val hi = promTimeMs(p.getOrElse("end", sys.error("missing end")))
        (lo, hi, stepOf(p.getOrElse("step", sys.error("missing step"))))
      } else {
        val t = promTimeMs(p.getOrElse("time", sys.error("missing time")))
        (t - lookbackMs, t, "1 seconds")
      }
    // per-tenant max query length (validate.go:172, enforced at the
    // prom query entry like handler_prom_util.go:498) — RANGE queries
    // only: an instant query's (lo, hi) is the synthesized 5-minute
    // lookback, not a user-requested range, and must not trip a
    // sub-5-minute limit
    val rangeErr =
      if (range) Validation.validateQueryTimeRange(
        runtimeOverrides.limitsFor(tenant), loMs, hiMs)
      else None
    rangeErr.foreach(sys.error)
    // range queries flow through the extent-splitting results cache
    // (`results_cache.go`); `Cache-Control: no-store` opts out like
    // the reference's shouldCache. Queries pinned with `@ start()`/
    // `@ end()` bypass it entirely (Cortex isAtModifierCachable):
    // their pins resolve from the request bounds, so cached extents
    // are not reusable across requests and gap evaluation with gap
    // sub-range bounds would silently shift the pin.
    val noStore =
      r.header("Cache-Control").exists(_.contains("no-store"))
    // a job group like /query's: listed by SHOW QUERIES, killable
    val rq = attachQuery(query, "")
    val samples =
      try {
        if (range && !noStore && !PromQL.usesBoundRelativeAt(query))
          resultsCache.fetch(s"$cacheKeyPrefix$query|$step", loMs, hiMs,
            System.currentTimeMillis())(
            collectSamples(cat, query, step, _, _))
        else collectSamples(cat, query, step, loMs, hiMs)
      } finally detachQuery(rq)
    val grouped = samples.groupBy(_.labels)
      .toSeq.sortBy(_._1.map(_._2).mkString(" "))
    val result = grouped.flatMap { case (labels, rs) =>
      val metric = labels.filter(_._2 != null).filter(_._2.nonEmpty)
        .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
        .mkString("{", ",", "}")
      val inWindow = rs.sortBy(_.evalMs)
      if (range) {
        val vals = inWindow.map(s =>
          s"[${fmtSec(s.evalMs)},${jsonStr(fmtVal(s.value))}]")
        Some(s"""{"metric":$metric,"values":${
          vals.mkString("[", ",", "]")}}""")
      } else inWindow.lastOption.map { s =>
        val v = s"[${fmtSec(hiMs)},${jsonStr(fmtVal(s.value))}]"
        s"""{"metric":$metric,"value":$v}"""
      }
    }.mkString("[", ",", "]")
    val rt = if (range) "matrix" else "vector"
    r.respond(200,
      s"""{"status":"success","data":{"resultType":"$rt","result":$result}}""")
  }
}

object HttpGateway {
  /** The database a request without `db` reads and writes. */
  val DefaultDb = "graft"

  /** Unions a live write lineage takes before it is compacted. */
  private[graft] val CompactEvery = 32

  /** Measurement `m`'s points of one write batch as its ingest table
    * ([[LineProtocol.toMeasurementTable]]): the batch's tag keys and
    * its fields of each type, each set in sorted order. */
  private[graft] def pointsTable(spark: SparkSession, m: String,
                                 ps: Seq[LineProtocol.Point]): DataFrame =
    LineProtocol.toMeasurementTable(
      spark.createDataset(ps)(Encoders.product[LineProtocol.Point]).toDF(),
      m, ps.flatMap(_.tags.keys).distinct.sorted,
      ps.flatMap(_.floatFields.keys).distinct.sorted,
      ps.flatMap(_.intFields.keys).distinct.sorted,
      ps.flatMap(_.boolFields.keys).distinct.sorted,
      ps.flatMap(_.stringFields.keys).distinct.sorted)

  /** A statement's frame with its `time` column as the HTTP edge renders
    * it (epoch=/RFC3339), and whether that axis is epoch ns. The engine's
    * `time` output is epoch ms (LONG) — or the exact epoch-ns `__tns`
    * axis for raw rows off an LP-ingested frame. */
  def edgeTime(df: DataFrame): (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (df.columns.contains("__tns"))
      (df.withColumn("time", col("__tns")).drop("__tns"), true)
    else df.schema.find(_.name == "time").map(_.dataType) match {
      case Some(LongType | IntegerType) =>
        (df.withColumn("time", timestamp_millis(col("time"))), false)
      case _ => (df, false)
    }
  }

  /** Series value-column order: `time` first, then non-tag columns in
    * plan order — the reference's models.Rows column contract. */
  def shapedValueCols(cols: Seq[String], tags: Seq[String]): Seq[String] =
    (if (cols.contains("time")) Seq("time") else Nil) ++
      cols.filterNot(c => tags.contains(c) || c == "time")

  /** InfluxDB point identity: one row per (series, ns-timestamp). A
    * later write to the same point MERGES field-by-field, last write
    * winning per field (the reference's storage dedups on read —
    * `tsreader/iterator.go` newest-wins; e2e Where_Fields writes
    * alert_id and tenant_id as separate lines at one ns and reads ONE
    * row). At cluster scale this is the LSM compaction's job; the
    * resident gateway frames stay canonical by merging at write time,
    * so every read path gets point semantics for free. */
  /** NOTE: references `prev` exactly ONCE — a caller must never split
    * prev into two subtrees per write (filter-in ∪ merge(filter-out)
    * doubles the logical plan per write: 33 writes = 2^33 analysis
    * nodes). The append-vs-overwrite decision lives in the caller
    * (ingestPoints tracks each measurement's known ns extent and skips
    * the merge entirely for non-overlapping batches). */
  private[graft] def mergePoints(prev: org.apache.spark.sql.DataFrame,
                                 fresh: org.apache.spark.sql.DataFrame,
                                 tagKeys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // prev is already one-row-per-point; any fresh row outranks it —
    // and REPLACES the point wholly (a field absent from the newest
    // write reads null afterwards: NilColumn re-writes (china,ada)
    // without address and count_address drops to 1)
    val all = prev.withColumn("__ds_seq", lit(0L)).unionByName(
      fresh.withColumn("__ds_seq", monotonically_increasing_id() + 1),
      allowMissingColumns = true)
    dedupPoints(all, tagKeys, fieldUnion = false)
  }

  /** [[mergePoints]] for a single batch (line order = write order). */
  private[graft] def mergeBatch(tbl: org.apache.spark.sql.DataFrame,
                                tagKeys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    dedupPoints(tbl.withColumn("__ds_seq", monotonically_increasing_id()),
      tagKeys, fieldUnion = true)
  }

  /** `fieldUnion = true` merges same-point rows field-wise (lines of
    * ONE batch union their fields, newest line winning per field);
    * `false` is the cross-batch rule — the newest ROW replaces the
    * point wholly, absent fields read null (the reference's read-time
    * dedup takes the newest row, `tsreader/iterator.go`). */
  private[server] def dedupPoints(all: org.apache.spark.sql.DataFrame,
                          tagKeys: Seq[String],
                          fieldUnion: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // field/tag names may contain dots (`foo.bar.baz` — LP escaped
    // names); always backtick-quote
    def qc(c: String) = col(s"`$c`")
    val keys = tagKeys :+ "time"
    val fields = all.columns
      .filterNot(c => keys.contains(c) || c == "ts" || c == "__ds_seq")
    if (fields.isEmpty)
      return all.dropDuplicates(keys).drop("__ds_seq")
    val aggs = fields.map(f =>
      if (fieldUnion)
        max_by(qc(f), when(qc(f).isNotNull, col("__ds_seq"))).as(f)
      else max_by(qc(f), col("__ds_seq")).as(f))
    val merged = all.groupBy(keys.map(qc): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ts", timestamp_micros(expr("time div 1000")))
    // restore the ingest column order (tags, fields, time, ts)
    merged.select((tagKeys ++ fields ++ Seq("time", "ts")).map(qc): _*)
  }
}
