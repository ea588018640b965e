package graft.server

import scala.util.control.NonFatal

import graft.query.InfluxQL
import graft.query.InfluxQL.{Cursor, TIdent, TNum, TStr, TDur, Tok}
import graft.streaming.StreamDDL

/** One `/query` statement as the gateway reads it. [[Statement.classify]]
  * lexes the text once, decides the kind from its leading keywords and
  * parses the arguments through [[InfluxQL.Cursor]]; each kind carries
  * the privilege it needs, so the authorization check and the dispatch
  * read one decision — the reference's `influxql/ast.go` statement types,
  * each with its `RequiredPrivileges()`:
  *
  *  - [[Statement.Data]]: SelectStatement, ExplainStatement and the
  *    Show{Measurements,TagKeys,TagValues,FieldKeys,Series,…}Statement
  *    family the library executes; [[Statement.SelectInto]]: a
  *    SelectStatement with a Target (IntoClause), READ and WRITE;
  *  - [[Statement.Manage]]: DeleteStatement, DropMeasurementStatement,
  *    DropSeriesStatement and the meta forms the library accepts;
  *  - [[Statement.Users]]: CreateUser, DropUser, Grant, GrantAdmin,
  *    Revoke, RevokeAdmin, SetPasswordUser (the user themself or an
  *    admin), ShowUsers, ShowGrantsForUser;
  *  - [[Statement.ShowQueries]] / [[Statement.KillQuery]];
  *    [[Statement.ShowDatabases]] / [[Statement.CreateDatabase]] /
  *    [[Statement.DropDatabase]]; [[Statement.RetentionDdl]]
  *    (Create/Alter/DropRetentionPolicy) /
  *    [[Statement.ShowRetentionPolicies]];
  *  - [[Statement.CreateCq]] / [[Statement.DropCq]] / [[Statement.ShowCqs]]
  *    (Create/Drop/ShowContinuousQueries); [[Statement.CreateStream]] /
  *    [[Statement.DropStream]] / [[Statement.ShowStreams]];
  *    [[Statement.CreateSubscription]] / [[Statement.DropSubscription]] /
  *    [[Statement.ShowSubscriptions]];
  *  - [[Statement.CreateMeasurement]] / [[Statement.AlterShardKey]] /
  *    [[Statement.ShowMeasurementInfo]] (CreateMeasurement,
  *    AlterShardKey, ShowMeasurementKeys); [[Statement.CreateDownsample]]
  *    / [[Statement.DropDownsample]] / [[Statement.ShowDownsamples]];
  *  - [[Statement.ShowShards]] / [[Statement.ShowShardGroups]] /
  *    [[Statement.DropShard]]; [[Statement.SetConfig]] /
  *    [[Statement.ShowConfigs]]; [[Statement.Unsupported]]
  *    (PrepareSnapshot, EndPrepareSnapshot, GetRuntimeInfo).
  *
  * Admin kinds need the admin flag; read kinds need READ on the request
  * database. A statement whose arguments do not parse is
  * [[Statement.Invalid]] with its kind's privilege: the error surfaces
  * when it runs, where it did before authorization read statements. */
sealed trait Statement { def privilege: Statement.Privilege }

object Statement {

  sealed trait Privilege {
    /** Why `user` may not run `text` on database `db`, if not. */
    def denial(user: Auth.User, db: String, text: String): Option[String]
  }
  case object Admin extends Privilege {
    def denial(user: Auth.User, db: String, text: String): Option[String] =
      if (user.admin) None
      else Some(s"statement '$text', requires admin privilege")
  }
  /** SET PASSWORD: the named user themself, or an admin. */
  final case class AdminOrSelf(name: String) extends Privilege {
    def denial(user: Auth.User, db: String, text: String): Option[String] =
      if (user.name == name) None else Admin.denial(user, db, text)
  }
  /** READ on the request database; `write` adds WRITE (INTO). */
  final case class OnDb(write: Boolean) extends Privilege {
    def denial(user: Auth.User, db: String, text: String): Option[String] =
      if (!user.authorizeDatabase(Auth.ReadPrivilege, db))
        Some(s"""user "${user.name}" is not authorized to read from database "$db"""")
      else if (write && !user.authorizeDatabase(Auth.WritePrivilege, db))
        Some(s"""user "${user.name}" is not authorized to write to database "$db"""")
      else None
  }
  val Read: Privilege = OnDb(write = false)

  sealed abstract class AdminKind extends Statement {
    def privilege: Privilege = Admin
  }
  sealed abstract class ReadKind extends Statement {
    def privilege: Privilege = Read
  }

  /** A statement the library answers; `on` is a SHOW's `ON <db>`,
    * `pruneNullCols` its `/*+ filter_null_column */` hint. */
  final case class Data(on: Option[String], pruneNullCols: Boolean = false)
    extends ReadKind
  case object SelectInto extends Statement {
    def privilege: Privilege = OnDb(write = true)
  }
  case object Manage extends AdminKind
  /** Executed by [[Auth.execute]] from the statement text. */
  final case class Users(privilege: Privilege) extends Statement
  case object ShowQueries extends ReadKind
  final case class KillQuery(qid: Long) extends AdminKind
  final case class ShowDatabases(detail: Boolean) extends ReadKind
  /** `rp` names the born-default policy (WITH … NAME); `durationS` is
    * the plain WITH DURATION. */
  final case class CreateDatabase(name: String, rp: Option[String],
                                  durationS: Option[Long]) extends AdminKind
  final case class DropDatabase(name: String) extends AdminKind
  final case class RetentionDdl(st: Retention.RpStatement) extends AdminKind
  final case class ShowRetentionPolicies(on: Option[String]) extends ReadKind
  final case class CreateCq(cq: StreamDDL.StreamStatement) extends AdminKind
  final case class DropCq(name: String, on: Option[String]) extends AdminKind
  case object ShowCqs extends ReadKind
  final case class CreateMeasurement(schema: MeasurementDDL.Schema)
    extends AdminKind
  final case class AlterShardKey(db: Option[String], name: String,
                                 key: Seq[String], tpe: String)
    extends AdminKind
  final case class ShowMeasurementInfo(kind: String, db: Option[String],
                                       name: String) extends ReadKind
  final case class CreateSubscription(sub: StreamDDL.Subscription)
    extends AdminKind
  final case class DropSubscription(name: String, db: String, rp: String)
    extends AdminKind
  case object ShowSubscriptions extends ReadKind
  case object ShowShards extends ReadKind
  case object ShowShardGroups extends ReadKind
  final case class DropShard(id: Long) extends AdminKind
  final case class CreateStream(st: StreamDDL.StreamStatement)
    extends AdminKind
  final case class DropStream(name: String) extends AdminKind
  final case class ShowStreams(on: Option[String]) extends ReadKind
  final case class CreateDownsample(p: DownSample.Policy) extends AdminKind
  /** DROP DOWNSAMPLE ON [db.]rp (`rp` set) / DROP DOWNSAMPLES [ON db]. */
  final case class DropDownsample(db: Option[String], rp: Option[String])
    extends AdminKind
  final case class ShowDownsamples(on: Option[String]) extends ReadKind
  /** `value` is the raw value text (quotes kept); `string` whether it
    * is a string or a bare word. */
  final case class SetConfig(component: String, key: String, value: String,
                             string: Boolean) extends AdminKind
  case object ShowConfigs extends ReadKind
  case object Unsupported extends AdminKind
  final case class Invalid(error: Throwable, privilege: Privilege)
    extends Statement

  private val SetConfigArgs = ("(?is)^\\s*set\\s+config\\s+(\\S+)\\s+" +
    "(?:\"([^\"]*)\"|(\\S+))\\s*=\\s*(.+?)\\s*$").r
  private val BareWord = "^[A-Za-z_][A-Za-z0-9_.-]*$".r
  private val FilterNullColumnHint =
    "(?is).*/\\*\\+\\s*filter_null_column\\s*\\*/.*".r

  def classify(sql: String): Statement = {
    val toks = try InfluxQL.lex(sql)
      catch { case NonFatal(e) => return Invalid(e, Read) }
    def w(i: Int): String = toks.lift(i) match {
      case Some(TIdent(s)) => s.toLowerCase
      case _ => ""
    }
    val n = toks.length
    /** A cursor past the first `k` tokens. */
    def after(k: Int) = new Cursor(toks.drop(k))
    def parsed(p: Privilege)(body: => Statement): Statement =
      try body catch { case NonFatal(e) => Invalid(e, p) }
    def admin(body: => Statement) = parsed(Admin)(body)
    (w(0), w(1)) match {
      case ("select", _) => select(sql, toks)
      case ("show", "queries") => ShowQueries
      case ("kill", "query") => admin(KillQuery(toks.lift(2).flatMap(id)
        .getOrElse(sys.error("KILL QUERY expects a query id"))))
      case ("create" | "drop", "user") | ("grant" | "revoke", _) |
           ("show", "users" | "grants") => Users(Admin)
      case ("set", "password") =>
        Users(try {
          val c = after(2); c.expectIdent("for"); AdminOrSelf(c.ident())
        } catch { case NonFatal(_) => Admin })
      case ("show", "databases") => ShowDatabases(after(2).isKw("detail"))
      case ("create", "database") => admin(createDatabase(toks))
      case ("drop", "database") => admin(DropDatabase(toks.lift(2) match {
        case Some(TIdent(d)) => d
        case Some(TStr(d)) => d
        case _ => sys.error("expected database name")
      }))
      case ("create" | "alter" | "drop", "retention") if w(2) == "policy" =>
        admin(RetentionDdl(Retention.parse(sql)))
      case ("show", "retention") => ShowRetentionPolicies(onDb(toks))
      case ("create", "continuous") if w(2) == "query" =>
        admin(CreateCq(StreamDDL.parse(sql)))
      case ("drop", "continuous") if w(2) == "query" => admin {
        val c = after(3)
        val name = c.ident()
        DropCq(name, if (c.accept("on")) Some(c.ident()) else None)
      }
      case ("show", "continuous") if w(2) == "queries" && n == 3 => ShowCqs
      case ("create", "measurement") =>
        admin(CreateMeasurement(MeasurementDDL.parseCreate(sql)))
      case ("alter", "measurement") => admin {
        val (db, _, name, key, tpe) = MeasurementDDL.parseAlter(sql)
        AlterShardKey(db, name, key, tpe)
      }
      case ("show", k) if MeasurementDDL.infoKinds(k) && w(2) == "from" =>
        parsed(Read) {
          val (kind, db, _, name) = MeasurementDDL.parseShowKeys(sql)
          ShowMeasurementInfo(kind, db, name)
        }
      case ("create", "subscription") =>
        admin(CreateSubscription(StreamDDL.parseSubscription(sql)))
      case ("drop", "subscription") => admin {
        // DROP SUBSCRIPTION name ON db.rp (ast.go DropSubscription)
        val c = after(2)
        val name = c.ident()
        c.expectIdent("on")
        val db = c.ident()
        c.expect(".")
        DropSubscription(name, db, c.ident())
      }
      case ("show", "shards") if n == 2 => ShowShards
      case ("show", "shard") if w(2) == "groups" && n == 3 => ShowShardGroups
      case ("drop", "shard") if n == 3 && id(toks(2)).nonEmpty =>
        DropShard(id(toks(2)).get)
      case ("show", "subscriptions") => ShowSubscriptions
      case ("create", "stream") => admin(CreateStream(StreamDDL.parse(sql)))
      case ("drop", "stream") => admin(DropStream(after(2).ident()))
      case ("show", "streams") => ShowStreams(onDb(toks))
      case ("create", "downsample") =>
        admin(CreateDownsample(DownSample.parseCreate(sql)))
      case ("drop", "downsamples") => admin {
        val c = after(2)
        DropDownsample(if (c.accept("on")) Some(c.ident()) else None, None)
      }
      case ("drop", "downsample") => admin {
        val c = after(2)
        c.expectIdent("on")
        val a = c.ident()
        if (c.acceptPunct(".")) DropDownsample(Some(a), Some(c.ident()))
        else DropDownsample(None, Some(a))
      }
      case ("show", "downsamples") => ShowDownsamples(onDb(toks))
      case ("set", "config") => admin {
        // SET CONFIG <component> <key> = <value> (sql.y:4011; key is
        // IDENT|STRING, dots scan into bare idents — scanner.go:722)
        val m = SetConfigArgs.findFirstMatchIn(sql).getOrElse(
          throw new InfluxQL.StatementError("syntax error"))
        val raw = m.group(4).trim
        SetConfig(m.group(1), Option(m.group(2)).getOrElse(m.group(3)), raw,
          raw.startsWith("'") || BareWord.matches(raw))
      }
      case ("show", "configs") if n == 2 => ShowConfigs
      case ("prepare", "snapshot") | ("end", "snapshot" | "prepare") |
           ("get", "runtimeinfo") => Unsupported
      case ("drop" | "create" | "alter" | "delete" | "kill" | "set", _) =>
        Manage
      case ("show", _) => Data(onDb(toks), FilterNullColumnHint.matches(sql))
      case _ => Data(None, FilterNullColumnHint.matches(sql))
    }
  }

  /** A SELECT writes only when its parsed query has an INTO target; one
    * that does not parse is left to the library to report. */
  private def select(sql: String, toks: List[Tok]): Statement = {
    val mayWrite = toks.exists {
      case TIdent(s) => s.equalsIgnoreCase("into")
      case _ => false
    }
    if (mayWrite && (try InfluxQL.parseWith(sql)._2.into.isDefined
        catch { case NonFatal(_) => false })) SelectInto
    else Data(None, FilterNullColumnHint.matches(sql))
  }

  private def id(t: Tok): Option[Long] = t match {
    case TNum(_, true, exact) => exact
    case _ => None
  }

  /** `SHOW … ON <db>` scopes to that database (parser.go
    * parseShowMeasurementsStatement etc.): the first `ON <ident>`. */
  private def onDb(toks: List[Tok]): Option[String] =
    toks.sliding(2).collectFirst {
      case List(TIdent(on), TIdent(d)) if on.equalsIgnoreCase("on") => d
    }

  /** CREATE DATABASE's option checks, with the reference's yacc parse
    * errors verbatim (DatabaseCommands goldens). */
  private def createDatabase(toks: List[Tok]): CreateDatabase = {
    def yaccErr(msg: String): Nothing =
      sys.error(s"error parsing query: syntax error: $msg")
    val name = toks.lift(2) match {
      case Some(TIdent(d)) => d
      case Some(TStr(d)) => d
      case Some(_: TDur) | Some(_: TNum) =>
        yaccErr("unexpected DURATIONVAL, expecting IDENT")
      case _ => sys.error("expected database name")
    }
    val v = toks.toVector
    def kwAt(i: Int): String = v.lift(i) match {
      case Some(TIdent(k)) => k.toLowerCase
      case _ => ""
    }
    var rp: Option[String] = None
    var durationS: Option[Long] = None
    for (i <- 3 until v.length) (kwAt(i), v.lift(i + 1)) match {
      case ("duration", arg) =>
        val plain = !Set("shard", "index", "hot", "warm")(kwAt(i - 1))
        arg match {
          case Some(TDur(ns)) =>
            if (plain && durationS.isEmpty) durationS = Some(ns / 1000000000L)
          case Some(_: TNum) =>
            if (plain && durationS.isEmpty) durationS = Some(0L)
          case Some(TIdent(x)) if x.equalsIgnoreCase("inf") =>
            if (plain && durationS.isEmpty) durationS = Some(0L)
          case _ => yaccErr("unexpected IDENT, expecting DURATIONVAL")
        }
      case ("replication", Some(_: TNum)) =>
      case ("replication", _) =>
        yaccErr("unexpected IDENT, expecting INTEGER")
      case ("name", Some(TIdent(r))) => if (rp.isEmpty) rp = Some(r)
      case ("name", Some(TStr(r))) => if (rp.isEmpty) rp = Some(r)
      case ("name", None) => yaccErr("unexpected $end, expecting IDENT")
      case ("name", _) => yaccErr("unexpected IDENT, expecting IDENT")
      case _ =>
    }
    CreateDatabase(name, rp, durationS)
  }
}
