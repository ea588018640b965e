package graft.server

import graft.query.InfluxQL
import graft.query.InfluxQL.{TIdent, TNum, TStr}

/** Retention-policy metadata — the reference's per-database RP catalog
  * (`meta/retentionpolicy.go:33` RetentionPolicyInfo: name, duration,
  * shard-group duration, replicaN, default flag; statement executors in
  * `coordinator/statement_executor.go` CreateRetentionPolicy /
  * AlterRetentionPolicy / DropRetentionPolicy).
  *
  * The engine's storage is not sharded per RP — an RP here is REAL
  * metadata (created, altered, dropped, listed, validated in qualified
  * `db.rp.m` refs) over the shared per-database measurement namespace;
  * duration-based expiry is [[graft.streaming.Streams]]' retention
  * job's concern. Error strings mirror `meta/errors.go`. */
object Retention {

  /** One policy (`retentionpolicy.go:33`). Durations kept in seconds;
    * 0 = infinite. `hotS`/`warmS` are the hierarchical-storage tier
    * bounds (HOT DURATION / WARM DURATION, sql.y:2253 — data older
    * than hot goes warm; older than warm goes to the cold tier by the
    * hierarchical sweep). 0 = tier disabled. */
  case class Rp(durationS: Long, shardGroupS: Long, replicaN: Long,
                default: Boolean, hotS: Long = 0L, warmS: Long = 0L)

  /** Every database is born with the implicit `autogen` policy. */
  def autogen: Map[String, Rp] = Map("autogen" -> Rp(0L, 604800L, 1L, true))

  /** Influx duration literal → seconds. `INF`/`0s` → 0 (infinite).
    * Units: s/m/h/d/w, compounds like `1h30m`. */
  def parseDuration(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t == "inf" || t == "0") return 0L
    val rx = """(\d+)([smhdw])""".r
    val parts = rx.findAllMatchIn(t).toSeq
    require(parts.nonEmpty && parts.map(_.matched).mkString == t,
      s"invalid duration: $s")
    parts.map { m =>
      m.group(1).toLong * (m.group(2) match {
        case "s" => 1L; case "m" => 60L; case "h" => 3600L
        case "d" => 86400L; case "w" => 604800L
      })
    }.sum
  }

  /** Go `time.Duration.String()`-style rendering, the form the
    * reference's SHOW RETENTION POLICIES emits (168h0m0s, 0s). */
  def renderDuration(seconds: Long): String = {
    if (seconds == 0) return "0s"
    val h = seconds / 3600
    val m = (seconds % 3600) / 60
    val s = seconds % 60
    if (h > 0) s"${h}h${m}m${s}s"
    else if (m > 0) s"${m}m${s}s"
    else s"${s}s"
  }

  /** `meta.shardGroupDuration(d)`: infinite → 7d groups, short → 1h,
    * mid → 1d, long → 7d. */
  def shardGroupFor(durationS: Long): Long =
    if (durationS == 0) 604800L
    else if (durationS < 2 * 86400L) 3600L
    else if (durationS < 180 * 86400L) 86400L
    else 604800L

  /** Parsed CREATE/ALTER/DROP RETENTION POLICY statement. */
  case class RpStatement(verb: String, rp: String, db: String,
                         durationS: Option[Long], replicaN: Option[Long],
                         shardGroupS: Option[Long], default: Boolean,
                         hotS: Option[Long] = None,
                         warmS: Option[Long] = None)

  /** `CREATE|ALTER RETENTION POLICY <rp> ON <db> [DURATION d]
    * [REPLICATION n] [SHARD DURATION d] [DEFAULT]` /
    * `DROP RETENTION POLICY <rp> ON <db>` (parser.go
    * parseCreateRetentionPolicyStatement shape). */
  def parse(sql: String): RpStatement = {
    val c = new InfluxQL.Cursor(sql)
    val verb = c.ident().toLowerCase
    c.expectIdent("retention"); c.expectIdent("policy")
    val rp = c.ident()
    c.expectIdent("on")
    val db = c.ident()
    var dur: Option[Long] = None
    var repl: Option[Long] = None
    var shard: Option[Long] = None
    var hot: Option[Long] = None
    var warm: Option[Long] = None
    var default = false
    // the lexer emits compound durations (1h30m) as consecutive TDur
    // tokens — absorb the whole run
    def duration(): Long = {
      var total = parseDuration(durTok(c.next()))
      while (c.peek.isInstanceOf[InfluxQL.TDur])
        total += parseDuration(durTok(c.next()))
      total
    }
    def durationAfter(): Long = { c.expectIdent("duration"); duration() }
    while (!c.atEnd) c.word() match {
      case "duration" => dur = Some(duration())
      case "replication" =>
        repl = Some(c.next() match {
          case TNum(v, _, _) => v.toLong
          case t => sys.error(s"expected replication factor, got $t")
        })
      case "shard" => shard = Some(durationAfter())
      // HOT/WARM DURATION are the hierarchical tier bounds
      // (sql.y:2253-2261); INDEX/INDEXCOLD/SHARDMERGE DURATION parse
      // and discard — index organization is Catalyst territory here
      case "hot" => hot = Some(durationAfter())
      case "warm" => warm = Some(durationAfter())
      case "index" | "indexcold" | "shardmerge" => durationAfter()
      case "default" => default = true
      case k => sys.error(s"unexpected token in retention statement: $k")
    }
    RpStatement(verb, rp, db, dur, repl, shard, default, hot, warm)
  }

  /** Duration token spellings the lexer may produce: `1h` lexes as a
    * duration-ish ident, `0` as a number, `INF` as an ident. */
  private def durTok(t: InfluxQL.Tok): String = t match {
    case TIdent(s) => s
    case TStr(s) => s
    case TNum(v, _, _) => v.toLong.toString
    case InfluxQL.TDur(ns) => s"${ns / 1000000000L}s"
    case o => sys.error(s"expected duration, got $o")
  }
}
