package graft.query

import org.apache.spark.sql.{Column, DataFrame, SessionShim, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Fill, SeriesOps, WindowedAgg}

/** A compact InfluxQL SELECT frontend: tokenizer + recursive-descent parser
  * + DataFrame compiler.
  *
  * Reference lifecycle (SURVEY §3.1): parse (`influxql/sql.y`,
  * `parser.go`) → compile/validate (`query/compile.go`) → the fixed
  * operator ladder `buildNodes` (`engine/executor/select.go:654`):
  * agg → interval → project → filterBlank → fill → sort → limit. Here the
  * whole ladder emits one declarative DataFrame and Catalyst plans it; the
  * reference's exchanges/cursors/transforms have no analogue by design.
  *
  * Grammar subset (the shapes the reference's e2e corpus exercises most):
  *   SELECT <proj> [, <proj>…] FROM <measurement>
  *     [WHERE <cond> [AND|OR <cond>]…]
  *     [GROUP BY <tag|time(<dur>)> [, …]] [fill(null|none|previous|linear|<n>)]
  *     [ORDER BY time [ASC|DESC]] [LIMIT n] [OFFSET n] [SLIMIT n]
  *   proj  := agg(field) | field | * ;  agg ∈ {count,sum,mean,min,max,
  *            first,last,spread,stddev,median,distinct,percentile(f,p)}
  *   cond  := ident (=|!=|<|<=|>|>=|=~|!~) literal | time cmp ts/dur
  */
object InfluxQL {

  /** A statement-level compile/execute error: the HTTP layer reports it
    * INSIDE the statement's result object (`{"statement_id":i,
    * "error":…}`, status 200) rather than as a request-level 400 — the
    * reference's split between `error parsing query` (top-level) and
    * compile errors like "mixing aggregate and non-aggregate queries"
    * (`tests/server_test.go:5401`). */
  final class StatementError(msg: String) extends RuntimeException(msg)

  /** Parse an InfluxQL time literal as UTC epoch microseconds. Accepts
    * RFC3339 ('T' or ' ' separator, optional fractional seconds, optional
    * trailing 'Z' — the formats ast.go time literals allow) and date-only.
    * Always UTC — never the JVM default timezone. */
  private[graft] def parseTimeUtc(s: String): Long = {
    val raw = s.trim.replace(' ', 'T')
    // RFC3339Nano (ast.go:8219) accepts explicit offsets: try the
    // offset-aware form first, fall back to naive-at-UTC
    val inst =
      try java.time.OffsetDateTime.parse(raw).toInstant
      catch { case _: java.time.format.DateTimeParseException =>
        val t0 = raw.stripSuffix("Z")
        val ldt =
          if (t0.contains('T')) java.time.LocalDateTime.parse(t0)
          else java.time.LocalDate.parse(t0).atStartOfDay()
        ldt.toInstant(java.time.ZoneOffset.UTC)
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** [[parseTimeUtc]] at NANOSECOND precision — time predicates against
    * an ns-resolution source must not truncate
    * (`WHERE time = '...T06:32:46.558082073Z'`, ExactTimeRange). */
  private[graft] def parseTimeUtcNs(s: String): Long = {
    val raw = s.trim.replace(' ', 'T')
    val inst =
      try java.time.OffsetDateTime.parse(raw).toInstant
      catch { case _: java.time.format.DateTimeParseException =>
        val t0 = raw.stripSuffix("Z")
        val ldt =
          if (t0.contains('T')) java.time.LocalDateTime.parse(t0)
          else java.time.LocalDate.parse(t0).atStartOfDay()
        ldt.toInstant(java.time.ZoneOffset.UTC)
      }
    inst.getEpochSecond * 1000000000L + inst.getNano
  }

  // ---------------------------------------------------------------- lexer
  sealed trait Tok
  case class TIdent(s: String) extends Tok
  /** `exact` carries integral literals losslessly — an epoch-ns time
    * literal (~1.7e18 today) is beyond double's 2^53 integer range. */
  case class TNum(v: Double, integral: Boolean = false,
                  exact: Option[Long] = None) extends Tok
  case class TStr(s: String) extends Tok
  case class TRegex(s: String) extends Tok
  case class TDur(ns: Long) extends Tok
  case class TOp(s: String) extends Tok
  case class TPunct(s: String) extends Tok

  private val durUnits = Map("ns" -> 1L, "u" -> 1000L, "µ" -> 1000L,
    "ms" -> 1000000L, "s" -> 1000000000L, "m" -> 60000000000L,
    "h" -> 3600000000000L, "d" -> 86400000000000L, "w" -> 604800000000000L)

  def lex(q: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    val n = q.length
    def peek(k: Int) = if (i + k < n) q.charAt(i + k) else '\u0000'
    var prev: Tok = TPunct("")
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        // single-quoted string with backslash escapes (the reference
        // scanner's ScanString: `\'` and `\\` round-trip). An
        // escape-blind scan would let a bound parameter containing a
        // quote terminate the literal early and smuggle extra
        // statements past parameter binding.
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val cj = q.charAt(j)
          if (cj == '\\' && j + 1 < n) {
            q.charAt(j + 1) match {
              case '\'' => sb += '\''
              case '\\' => sb += '\\'
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case other => sb += '\\' += other // lenient on unknown escapes
            }
            j += 2
          } else if (cj == '\'') { closed = true; j += 1 }
          else { sb += cj; j += 1 }
        }
        require(closed, s"unterminated string at $i")
        out += TStr(sb.result()); prev = TStr(""); i = j
      } else if (c == '"') {
        // double-quoted identifier (InfluxQL `"a measurement"` — the
        // reference's scanner QuotedIdent); keeps spaces/keywords intact
        val j = q.indexOf('"', i + 1)
        require(j > 0, s"unterminated quoted identifier at $i")
        val t = TIdent(q.substring(i + 1, j)); out += t; prev = t; i = j + 1
      } else if (c == '/' && i + 1 < n && q.charAt(i + 1) == '*') {
        // `/* comment */` and `/*+ hint */` (reference scanner.go:131 —
        // hint comments carry optimizer hints like filter_null_column /
        // exact_statistic_query; the behaviors they toggle are index/
        // statistics internals subsumed by Catalyst, so hints lex away
        // cleanly instead of poisoning the token stream as a regex)
        val j = q.indexOf("*/", i + 2)
        require(j > 0, s"unterminated comment at $i")
        i = j + 2
      } else if (c == '/' && (prev match {
        case TOp(_) | TPunct("(") | TPunct(",") | TPunct("") => true
        case TIdent(s) => s.equalsIgnoreCase("from") // FROM /regex/
        case _ => false
      })) {
        val j = q.indexOf('/', i + 1)
        require(j > 0, s"unterminated regex at $i")
        out += TRegex(q.substring(i + 1, j)); prev = TRegex(""); i = j + 1
      } else if (c.isDigit) {
        var j = i
        while (j < n && (q.charAt(j).isDigit || q.charAt(j) == '.')) j += 1
        // duration suffix?
        var k = j
        while (k < n && (q.charAt(k).isLetter || q.charAt(k) == 'µ')) k += 1
        val unit = q.substring(j, k).toLowerCase
        if (j > i && durUnits.contains(unit) && !q.substring(i, j).contains('.')) {
          val t = TDur(q.substring(i, j).toLong * durUnits(unit))
          out += t; prev = t; i = k
        } else {
          val text = q.substring(i, j)
          val intg = !text.contains('.')
          val exact = if (intg) scala.util.Try(text.toLong).toOption else None
          val t = TNum(text.toDouble, intg, exact)
          out += t; prev = t; i = j
        }
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (q.charAt(j).isLetterOrDigit || q.charAt(j) == '_')) j += 1
        val t = TIdent(q.substring(i, j)); out += t; prev = t; i = j
      } else if ("=!<>~".contains(c)) {
        val two = "" + c + peek(1)
        val op = Seq("=~", "!~", "!=", "<=", ">=", "<>").find(_ == two)
          .getOrElse(c.toString)
        out += TOp(op); prev = TOp(op); i += op.length
      } else if (c == ':' && i + 1 < n && q.charAt(i + 1) == ':') {
        // `ident::type` selector (reference VarRef::Type, sql.y)
        out += TPunct("::"); prev = TPunct("::"); i += 2
      } else if ("(),*.+-/".contains(c)) {
        out += TPunct(c.toString); prev = TPunct(c.toString); i += 1
      } else sys.error(s"unexpected char '$c' at $i")
    }
    out.result()
  }

  // ------------------------------------------------------------------ AST
  sealed trait Proj
  case class PField(name: String) extends Proj
  /** `argExpr` carries an aggregate-over-expression argument
    * (`mean(abs(v))`, `sum(v * 2)`); `field` is then "". */
  case class PCall(fn: String, field: String, extra: Option[Double] = None,
                   argExpr: Option[Expr] = None,
                   tagArgs: Seq[String] = Nil,
                   extra2: Option[Double] = None,
                   extra3: Option[Double] = None,
                   alias: Option[String] = None)
    extends Proj
  /** Analytic over an aggregated series, e.g. derivative(mean(value)):
    * reference ladder runs these after the interval aggregation
    * (`select.go:654` agg → interval → … ). */
  case class PAnalytic(fn: String, inner: PCall, n: Option[Double],
                       n2: Option[Double] = None,
                       mode: Option[String] = None,
                       alias: Option[String] = None)
    extends Proj
  case object PStar extends Proj
  /** `*::tag` / `*::field` — star restricted to one column class. */
  case object PStarTag extends Proj
  case object PStarField extends Proj

  /** Arithmetic expression projection ("materialize" — reference
    * `materialize_transform.go`): `value * 2 + core`,
    * `mean(value) / 100 AS pct`. */
  sealed trait Expr
  /** `integral` preserves InfluxQL integer-literal typing (ast.go integer
    * arithmetic): `count(v) * 2 + 1` stays BIGINT, matching the reference
    * and the SQL oracle; any float literal or `/` promotes to double.
    * `longV` carries the exact Long for values a Double can't hold
    * (durations > 2^53 ns, e.g. 365d). */
  case class ENum(v: Double, integral: Boolean = false,
                  longV: Option[Long] = None) extends Expr
  case class EField(name: String) extends Expr
  /** String literal projection (`SELECT 'x' AS name, f`) — reference
    * ast.go StringLiteral fields; aliasless literals are the compile
    * error FieldIsLiteral (errno/message.go:269). */
  case class EStr(s: String) extends Expr
  case class ECall(call: PCall) extends Expr
  case class EBin(op: Char, l: Expr, r: Expr) extends Expr
  /** Scalar math call (reference `lib/util/lifted/influx/query/math.go`:
    * abs sin cos tan asin acos atan atan2 exp log ln log2 log10 sqrt pow
    * floor ceil round). Composes freely: `sqrt(abs(v))`,
    * `abs(min(v))`, `mean(abs(v))`. */
  case class EMath(fn: String, args: Seq[Expr]) extends Expr
  /** `ref::type` (reference VarRef::Type): `field`/`tag` disambiguate
    * (a no-op in the unified-column model), data types cast. */
  case class ECast(e: Expr, typ: String) extends Expr
  case class PExpr(e: Expr, alias: String) extends Proj

  /** The scalar math surface of `query/math.go` (validated there by
    * `validateMathFunction`). */
  /** Text-frontend smoothing calls → the Smoothing output column each
    * produces (compile.go:441-445,810-816 validated set). */
  private val smoothingFnCol = Map(
    "exponential_moving_average" -> "ema",
    "double_exponential_moving_average" -> "dema",
    "triple_exponential_moving_average" -> "tema",
    "kaufmans_adaptive_moving_average" -> "kama",
    "kaufmans_efficiency_ratio" -> "kaufmans_efficiency_ratio",
    "triple_exponential_derivative" -> "trix",
    "relative_strength_index" -> "rsi",
    "chande_momentum_oscillator" -> "cmo",
    "holt_winters" -> "hw",
    "holt_winters_with_fit" -> "hw")

  private val mathFnNames = Set("abs", "sin", "cos", "tan", "asin",
    "acos", "atan", "atan2", "exp", "log", "ln", "log2", "log10",
    "sqrt", "pow", "floor", "ceil", "round")

  /** Scalar "materialize" functions (string_functions.go / math.go cast
    * family): row functions, parsed like math calls (full expression
    * args, string literals allowed) and evaluated without the
    * all-args-to-double coercion. */
  private val scalarFnNames = Set(
    "str", "strlen", "substr", "position", "strpos", "typeof",
    "levenshtein_distance", "lpad", "rpad", "regexp_extract",
    "regexp_like", "replace", "reverse", "split", "split_part",
    "split_to_map",
    "cast_int64", "cast_float64", "cast_bool", "cast_string",
    "json_object", "json_extract", "json_extract_scalar",
    "url_decode", "url_encode", "url_extract_host", "url_extract_path",
    "url_extract_protocol", "url_extract_query", "url_extract_fragment",
    "url_extract_parameter", "url_extract_port",
    "ip_mask", "ip_prefix", "ip_to_domain", "is_subnet_of",
    "ip_subnet_min", "ip_subnet_max", "ip_subnet_range")

  sealed trait CondV
  case class CNum(v: Double) extends CondV
  /** Integral literal kept EXACT: a bare integer against `time` is an
    * epoch-NANOSECOND instant (influxql time literal semantics) — a
    * double would lose ns precision past 2^53 and the old CNum path
    * compared the raw ns value against the µs axis (1000x off). */
  case class CInt(l: Long) extends CondV
  case class CStr(s: String) extends CondV
  case class CRegex(s: String) extends CondV
  case class CDur(ns: Long) extends CondV
  /** Boolean literal (`WHERE local = true` / t / F — influxql lexer
    * booleans). */
  case class CBool(b: Boolean) extends CondV
  /** `now() [± duration]` — evaluated at compile time (ast.go nowValuer). */
  case class CNow(deltaNs: Long) extends CondV

  case class Cond(field: String, op: String, v: CondV)

  /** WHERE boolean tree: AND binds tighter than OR; parens group. */
  sealed trait WExpr
  case class WCond(c: Cond) extends WExpr
  case class WAnd(l: WExpr, r: WExpr) extends WExpr
  case class WOr(l: WExpr, r: WExpr) extends WExpr
  /** `field [NOT] IN (SELECT …)` — reference `sql.y:753-769`,
    * `ast.go:7677` (InCondition). Compiled to a semi/anti join; only
    * valid at AND-positions of the WHERE tree. */
  case class WIn(field: String, sub: Query, negated: Boolean) extends WExpr
  /** General expression comparison in WHERE (`abs(v) > 10`,
    * `v * 2 > 100`) — the reference allows arbitrary scalar expressions
    * in conditions (ast.go binary eval). Plain field-op-literal conds
    * stay [[Cond]] so time/tag pruning keeps its fast path. */
  case class WCmp(l: Expr, op: String, r: Expr) extends WExpr

  sealed trait FillMode
  case object FillNone extends FillMode
  case object FillNull extends FillMode
  case object FillPrevious extends FillMode
  case object FillLinear extends FillMode
  case class FillValue(v: Double) extends FillMode

  /** joinType ∈ inner/left_outer/right_outer/full_outer (reference join
    * types `influxql/ast.go:7423-7440`), ON = tag-equality key list
    * (`JoinKeyPair` ast.go:4136 — equi-joins only). The right operand is
    * a measurement name OR a subquery (`sql_test.go:205-218` joins two
    * `(SELECT…) AS t` sources); `rightAlias` is the `AS t2` name used to
    * suffix colliding columns and resolve `t2.f` qualified refs. */
  case class JoinClause(joinType: String, right: String, onTags: Seq[String],
                        // the LHS qualifier of each ON key ("" = bare):
                        // `table1.t1 = table3.t1` binds table1's ORIGINAL
                        // column, null on rows table1 didn't match
                        onQuals: Seq[String] = Nil,
                        rightSub: Option[Query] = None,
                        rightAlias: Option[String] = None,
                        // `FULL JOIN` renders the missing side as Go
                        // zero values; the `OUTER JOIN` spelling keeps
                        // nulls (server_test.go:14029 full vs outer)
                        zeroFill: Boolean = false)

  case class Query(
      projs: Seq[Proj], from: String, where: Option[WExpr],
      groupTags: Seq[String], intervalNs: Option[Long], fill: FillMode,
      orderDesc: Boolean, limit: Option[Int], offset: Int, slimit: Option[Int],
      join: Option[JoinClause] = None,
      // cascading `a join b on … join c on …` (server_test.go:14029
      // Cascading_Join_Table): clauses after the first
      joinMore: Seq[JoinClause] = Nil,
      fromSub: Option[Query] = None,
      // FROM (sub1), (sub2), … — additional parenthesized subqueries,
      // sort-appended like FROM m1, m2 (server_test.go:14129 multi-mst
      // constant columns; the series name joins the inner names)
      fromSubMore: Seq[Query] = Nil,
      soffset: Int = 0,
      intervalOffsetNs: Option[Long] = None,
      tz: Option[String] = None,
      into: Option[String] = None,
      fromMore: Seq[String] = Nil,
      // bare measurement of a dot-QUALIFIED `from` (the output series
      // name); None when `from` was a single (possibly quoted) ident
      fromBare: Option[String] = None,
      // GROUP BY … EXCEPT t1, t2 (sql.y:1258 EXCEPT_CLAUSE;
      // select.go:382 drops the listed dims from the group set — the
      // InfluxQL spelling of PromQL's `without`)
      exceptTags: Seq[String] = Nil,
      // `FROM src AS t1` alias (sql.y alias_clause); qualifies refs
      fromAlias: Option[String] = None,
      // `t1.f` qualified field refs seen anywhere in this query —
      // resolved post-join against the side aliases (ast.go VarRef with
      // a Segments-qualified name)
      qualRefs: Seq[(String, String)] = Nil,
      // whether ORDER BY was written out (validates subquery direction:
      // an explicit inner direction differing from the outer's is the
      // reference's compile error, TSSubQueryHasDifferentAscending)
      orderExplicit: Boolean = false,
      // `/*+ … */` optimizer hints from the statement text (lexed away
      // before parse; attached post-parse). Semantic ones: full_series
      // (the WHERE names the COMPLETE series key — unmentioned tags
      // must be absent, Query_FullSeries)
      hints: Set[String] = Set.empty)

  /** One UNION arm: `UNION [ALL] [BY NAME] <select>` — reference
    * `influxql/sql.y:656-699` (union_clause). */
  case class UnionArm(all: Boolean, byName: Boolean, q: Query,
                      nested: Seq[UnionArm] = Nil)

  // --------------------------------------------------------------- parser
  def parse(q: String): Query = new Parser(lex(q)).parseQuery()

  /** Parse a statement with optional WITH-clause CTEs. */
  def parseWith(q: String): (Seq[(String, Query)], Query) = {
    val (ctes, q0) = new Parser(lex(q)).parseStatement()
    (ctes.map { case (n, s0, _) => (n, s0) }, q0)
  }

  /** Token cursor over [[lex]] output: the one reader of statement
    * text. The query [[Parser]] extends it; the management, user, DDL
    * and gateway statement parsers read through it. */
  class Cursor(var toks: List[Tok]) {
    def this(sql: String) = this(lex(sql))
    def peek: Tok = toks.headOption.getOrElse(TPunct("<eof>"))
    def peek2: Tok = toks.drop(1).headOption.getOrElse(TPunct("<eof>"))
    def next(): Tok = { val t = peek; toks = toks.drop(1); t }
    def atEnd: Boolean = toks.isEmpty
    def end(): Unit = require(toks.isEmpty, s"trailing tokens: $toks")
    def isKw(kw: String): Boolean = peek match {
      case TIdent(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    /** Consume keyword `kw` when it is next. */
    def accept(kw: String): Boolean = isKw(kw) && { next(); true }
    def expectIdent(kw: String): Unit = next() match {
      case TIdent(s) if s.equalsIgnoreCase(kw) =>
      case t => sys.error(s"expected $kw, got $t")
    }
    /** Consume punctuation `p` when it is next. */
    def acceptPunct(p: String): Boolean = peek == TPunct(p) && { next(); true }
    def expect(p: String): Unit = next() match {
      case TPunct(`p`) =>
      case t => sys.error(s"expected '$p', got $t")
    }
    def op(o: String): Unit = next() match {
      case TOp(`o`) =>
      case t => sys.error(s"expected $o, got $t")
    }
    /** A bare or quoted identifier, or a string literal naming one. */
    def ident(): String = next() match {
      case TIdent(s) => s
      case TStr(s) => s
      case t => sys.error(s"expected identifier, got $t")
    }
    /** The next keyword, lower-cased. */
    def word(): String = next() match {
      case TIdent(s) => s.toLowerCase
      case t => sys.error(s"expected keyword, got $t")
    }
    def str(): String = next() match {
      case TStr(s) => s
      case t => sys.error(s"expected string, got $t")
    }
    /** A duration literal in ns. */
    def duration(): Long = next() match {
      case TDur(ns) => ns
      case t => sys.error(s"expected duration, got $t")
    }
    /** `name | rp.name | db.rp.name | db..name` → (db, rp, name). */
    def qualified(): (Option[String], Option[String], String) = {
      val a = ident()
      if (!acceptPunct(".")) (None, None, a)
      else if (acceptPunct(".")) (Some(a), None, ident())
      else {
        val b = ident()
        if (acceptPunct(".")) (Some(a), Some(b), ident())
        else (None, Some(a), b)
      }
    }
    /** `a, b, …` */
    def identList(): Seq[String] = {
      val b = Seq.newBuilder[String]
      b += ident()
      while (acceptPunct(",")) b += ident()
      b.result()
    }
  }

  private class Parser(toks0: List[Tok]) extends Cursor(toks0) {
    // `t1.f` qualified refs collected while parsing the CURRENT query
    // (saved/restored around subquery recursion in parseQuery)
    private var qualBuf: List[(String, String)] = Nil
    /** Consume `.ident` after an already-consumed ident `a`, recording
      * the qualified ref; returns the dotted spelling. */
    private def qualTail(a: String): String = {
      next() // '.'
      var f = next() match {
        case TIdent(s) => s
        case t => sys.error(s"expected field after '$a.', got $t")
      }
      // further segments join into one literal dotted name —
      // `cpu.total.usage` is a FIELD with dots (LP field keys carry
      // them), not a deeper qualification
      while (peek == TPunct(".") && peek2.isInstanceOf[TIdent]) {
        next()
        f = f + "." + (next() match {
          case TIdent(s) => s
          case t => sys.error(s"expected field after '.', got $t")
        })
      }
      qualBuf ::= (a, f)
      s"$a.$f"
    }
    /** WITH name AS (SELECT …) [, name2 AS (…)] SELECT … — reference
      * WithSelectStatement ast.go:12068 / LogicalCTE. */
    /** Trailing UNION arms; an arm may be parenthesized —
      * `… union all by name (select …)` (sql.y:656-699). */
    def parseUnionArms(): Seq[UnionArm] = {
      var arms = Seq.empty[UnionArm]
      while (isKw("union")) {
        next()
        val all = if (isKw("all")) { next(); true } else false
        val byName =
          if (isKw("by")) { next(); expectIdent("name"); true } else false
        val (aq, nested) =
          if (peek == TPunct("(")) {
            // a parenthesized arm may itself be a UNION chain
            next(); val a = parseQuery()
            val inner = parseUnionArms()
            expect(")")
            (a, inner)
          } else (parseQuery(), Nil)
        arms :+= UnionArm(all, byName, aq, nested)
      }
      arms
    }

    def parseStatement()
        : (Seq[(String, Query, Seq[UnionArm])], Query) = {
      var ctes = Seq.empty[(String, Query, Seq[UnionArm])]
      if (isKw("with")) {
        next()
        var more = true
        while (more) {
          val name = next() match {
            case TIdent(s) => s
            case t => sys.error(s"expected CTE name, got $t")
          }
          expectIdent("as"); expect("(")
          // a CTE body may be a GRAPH statement (sql.y:702
          // GRAPH_STATEMENT; Push_Down_Rule_Incondition
          // `WITH t1 AS (GRAPH 3 'ELB')`) — encoded as a sentinel
          // source the executor resolves to the topology sub-graph
          val (sub, subArms) =
            if (isKw("graph")) {
              next()
              val hop = next() match {
                case TNum(v, _, _) => v.toInt
                case t => sys.error(s"expected hop count, got $t")
              }
              val start = next() match {
                case TStr(s2) => s2
                case t => sys.error(s"expected start node, got $t")
              }
              if (isKw("node") || isKw("edge"))
                sys.error("GRAPH node/edge conditions are not supported " +
                  "in a CTE")
              (Query(Seq(PStar), s"\u0000graph\u0000$hop\u0000$start",
                None, Nil, None, FillNone, orderDesc = false, None, 0,
                None), Seq.empty[UnionArm])
            } else {
              val s0 = parseQuery()
              // a CTE body may itself be a UNION chain
              (s0, parseUnionArms())
            }
          expect(")")
          ctes :+= ((name, sub, subArms))
          if (peek == TPunct(",")) next() else more = false
        }
      }
      (ctes, parseQuery())
    }

    /** Statement with optional trailing UNION arms (sql.y:656-699). */
    def parseStatementFull()
        : (Seq[(String, Query, Seq[UnionArm])], Query, Seq[UnionArm]) = {
      val (ctes, q) = parseStatement()
      val arms = parseUnionArms()
      require(toks.isEmpty, s"trailing tokens: $toks")
      (ctes, q, arms)
    }

    def parseQuery(): Query = {
      val outerQual = qualBuf
      qualBuf = Nil
      expectIdent("select")
      val projs = parseProjs()
      // SELECT … INTO target FROM … (reference IntoClause ast.go)
      var into: Option[String] = None
      if (isKw("into")) {
        next()
        into = Some(next() match {
          case TIdent(s) =>
            // qualified targets `db.rp.m` / `db..m`, like FROM below
            var name = s
            while (peek == TPunct(".")) {
              next()
              name = peek match {
                case TPunct(".") => name
                case _ => next() match {
                  case TIdent(n) => n
                  case t => sys.error(s"expected INTO target after '.', got $t")
                }
              }
            }
            name
          case t => sys.error(s"expected INTO target, got $t")
        })
      }
      expectIdent("from")
      // FROM (SELECT …) — nested subquery (reference ast.go SubQuery,
      // LogicalSubQuery logic_plan.go:1839)
      var fromSub: Option[Query] = None
      // one measurement source: bare name, qualified `rp.m` / `db.rp.m`
      // / `db..m` (reference Measurement{Database, RetentionPolicy,
      // Name}), or /re/. The dotted spelling is PRESERVED as the lookup
      // key: a catalog that resolves databases (the gateway's view)
      // routes it, a plain single-db catalog falls back to the bare
      // name ([[lookupMeasurement]]).
      var lastFromBare: Option[String] = None // set when fromOne saw dots
      def fromOne(): String = next() match {
        case TIdent(s) =>
          var name = s
          lastFromBare = None
          while (peek == TPunct(".")) {
            next()
            name = peek match {
              case TPunct(".") => name + "." // `db..m` empty rp
              case _ => next() match {
                case TIdent(n) => lastFromBare = Some(n); name + "." + n
                case t => sys.error(s"expected measurement after '.', got $t")
              }
            }
          }
          name
        case TRegex(r) => "/" + r + "/"
        case t => sys.error(s"expected measurement, got $t")
      }
      var fromMore = Seq.empty[String]
      var fromSubMore = Seq.empty[Query]
      var fromBare: Option[String] = None
      val from = peek match {
        case TPunct("(") =>
          next(); fromSub = Some(parseQuery()); expect(")")
          // FROM (sub1), (sub2), … — sort-append of subqueries
          while (peek == TPunct(",")) {
            next(); expect("(")
            fromSubMore :+= parseQuery()
            expect(")")
          }
          "<subquery>"
        case _ =>
          val first = fromOne()
          fromBare = lastFromBare
          // FROM m1, m2, … — sort-append across sources (ast.go Sources;
          // executed like FROM /re/, a unionByName)
          while (peek == TPunct(",")) { next(); fromMore :+= fromOne() }
          first
      }
      // FROM src AS t1 — source alias (reference sql_test.go:221
      // `from t1 as a1 FULL JOIN t2 as a2 on a1.app=a2.app`)
      var fromAlias: Option[String] = None
      if (isKw("as")) {
        next()
        fromAlias = Some(next() match {
          case TIdent(a) => a
          case t => sys.error(s"expected FROM alias, got $t")
        })
      }
      // [INNER|LEFT|RIGHT|FULL|OUTER [OUTER]] JOIN (m2 | (SELECT…))
      // [AS t2] ON [(] key [AND key…] [)] where key := tag | t1.x = t2.x
      // (a bare OUTER JOIN is the reference's full join, ast.go:7439)
      var join: Option[JoinClause] = None
      var joinMore = Seq.empty[JoinClause]
      var joinZero = false
      def peekJoinType(): Option[String] = peek match {
        case TIdent(s) if Set("inner", "left", "right", "full", "outer")
            .contains(s.toLowerCase) =>
          next()
          if (isKw("outer")) next()
          joinZero = s.equalsIgnoreCase("full")
          Some(s.toLowerCase match {
            case "inner" => "inner"
            case "left" => "left_outer"
            case "right" => "right_outer"
            case "full" | "outer" => "full_outer"
          })
        case TIdent(s) if s.equalsIgnoreCase("join") =>
          joinZero = false; Some("inner")
        case _ => None
      }
      var joinType = peekJoinType()
      while (joinType.isDefined) {
        if (isKw("join")) next()
        var rightSub: Option[Query] = None
        val right = peek match {
          case TPunct("(") =>
            next(); rightSub = Some(parseQuery()); expect(")")
            "<subquery>"
          case _ => next() match {
            case TIdent(s) => s
            case t => sys.error(s"expected join measurement, got $t")
          }
        }
        var rightAlias: Option[String] = None
        if (isKw("as")) {
          next()
          rightAlias = Some(next() match {
            case TIdent(a) => a
            case t => sys.error(s"expected join alias, got $t")
          })
        }
        expectIdent("on")
        val paren = peek == TPunct("(")
        if (paren) next()
        var tags = Seq.empty[String]
        var quals = Seq.empty[String]
        var more = true
        while (more) {
          val a = next() match {
            case TIdent(s) => s
            case t => sys.error(s"expected join tag, got $t")
          }
          // qualified `t1.x = t2.x` equality — equi-join on the shared
          // name (JoinKeyPair, ast.go:4136)
          var lhsQual = ""
          val lhs = if (peek == TPunct(".")) {
            next()
            lhsQual = a
            next() match {
              case TIdent(s) => s
              case t => sys.error(s"expected join key after '$a.', got $t")
            }
          } else a
          if (peek == TOp("=")) {
            next()
            val r0 = next() match {
              case TIdent(s) => s
              case t => sys.error(s"expected join key, got $t")
            }
            val rhs = if (peek == TPunct(".")) {
              next()
              next() match {
                case TIdent(s) => s
                case t => sys.error(s"expected join key after '$r0.', got $t")
              }
            } else r0
            require(lhs == rhs,
              s"JOIN ON keys must share a name: $lhs vs $rhs")
          }
          tags :+= lhs
          quals :+= lhsQual
          if (isKw("and")) next() else more = false
        }
        if (paren) expect(")")
        val clause = JoinClause(joinType.get, right, tags, quals, rightSub,
          rightAlias, zeroFill = joinZero)
        if (join.isEmpty) join = Some(clause) else joinMore :+= clause
        joinType = peekJoinType()
      }
      var where: Option[WExpr] = None
      if (isKw("where")) { next(); where = Some(parseWhereOr()) }
      var tags = Seq.empty[String]; var interval: Option[Long] = None
      var intervalOffset: Option[Long] = None
      if (isKw("group")) {
        next(); expectIdent("by")
        var done = false
        while (!done) {
          next() match {
            case TIdent(t0) if t0.equalsIgnoreCase("time") &&
                peek == TPunct("(") =>
              expect("(")
              interval = next() match {
                case TDur(ns) => Some(ns)
                case t => sys.error(s"expected duration, got $t")
              }
              // time(d, offset) — grid shift, ast.go:2160
              if (peek == TPunct(",")) {
                next()
                intervalOffset = next() match {
                  case TDur(ns) => Some(ns)
                  case TPunct("-") => next() match {
                    case TDur(ns) => Some(-ns)
                    case t => sys.error(s"expected duration, got $t")
                  }
                  case t => sys.error(s"expected offset duration, got $t")
                }
              }
              expect(")")
            case TIdent(tag) =>
              // `host::tag` selector accepted (VarRef::Type)
              if (peek == TPunct("::")) { next(); expectIdent("tag") }
              tags :+= tag
            case TPunct("*") =>
              // `*::tag` ≡ `*` in GROUP BY (NewChunkTagCheckList)
              if (peek == TPunct("::")) { next(); expectIdent("tag") }
              tags :+= "*"
            case t => sys.error(s"bad GROUP BY: $t")
          }
          if (peek == TPunct(",")) next() else done = true
        }
        // a repeated dimension groups once (`GROUP BY region,region` —
        // TagOrder exp renders the tag a single time)
        tags = tags.distinct
      }
      // GROUP BY … EXCEPT tag[, tag…]
      var exceptTags = Seq.empty[String]
      if (isKw("except")) {
        next()
        var more = true
        while (more) {
          exceptTags :+= (next() match {
            case TIdent(t0) => t0
            case t => sys.error(s"bad EXCEPT tag: $t")
          })
          if (peek == TPunct(",")) next() else more = false
        }
      }
      // InfluxQL's DEFAULT for GROUP BY time() is fill(null) — empty
      // buckets in the query range emit null rows (count emits 0), and
      // only an explicit fill(none) drops them (influxdb fill docs;
      // e2e server_test.go:4358 count(*) spines with no fill clause).
      var fill: FillMode = if (interval.isDefined) FillNull else FillNone
      if (isKw("fill")) {
        next(); expect("(")
        fill = next() match {
          case TIdent("null") => FillNull
          case TIdent("none") => FillNone
          case TIdent("previous") => FillPrevious
          case TIdent("linear") => FillLinear
          case TNum(v, _, _) => FillValue(v)
          case t => sys.error(s"bad fill: $t")
        }
        expect(")")
      }
      var orderDesc = false
      var orderExplicit = false
      if (isKw("order")) {
        next(); expectIdent("by"); expectIdent("time")
        orderExplicit = true
        if (isKw("desc")) { next(); orderDesc = true }
        else if (isKw("asc")) next()
      }
      var limit: Option[Int] = None; var offset = 0
      var slimit: Option[Int] = None; var soffset = 0
      while (isKw("limit") || isKw("offset") || isKw("slimit") ||
             isKw("soffset")) {
        val kw = next().asInstanceOf[TIdent].s.toLowerCase
        val v = next() match {
          case TNum(x, _, _) => x.toInt
          case t => sys.error(s"expected number after $kw, got $t")
        }
        kw match {
          case "limit" => limit = Some(v)
          case "offset" => offset = v
          case "slimit" => slimit = Some(v)
          case "soffset" => soffset = v
        }
      }
      // tz('Area/City') — ast.go:2160 TimeZone clause
      var tz: Option[String] = None
      if (isKw("tz")) {
        next(); expect("(")
        tz = next() match {
          case TStr(s) => Some(s)
          case t => sys.error(s"expected zone string, got $t")
        }
        expect(")")
      }
      val myQual = qualBuf.reverse.distinct
      qualBuf = outerQual
      Query(projs, from, where, tags, interval, fill, orderDesc, limit,
        offset, slimit, join, joinMore, fromSub, fromSubMore, soffset,
        intervalOffset, tz, into, fromMore, fromBare, exceptTags, fromAlias,
        myQual, orderExplicit)
    }

    private def parseProjs(): Seq[Proj] = {
      val out = Seq.newBuilder[Proj]
      var done = false
      var exprIdx = 0
      while (!done) {
        if (peek == TPunct("*")) {
          next()
          if (peek == TPunct("::")) {
            next()
            out += (next() match {
              case TIdent(t) if t.equalsIgnoreCase("tag") => PStarTag
              case TIdent(t) if t.equalsIgnoreCase("field") => PStarField
              case t => sys.error(s"expected tag|field after *::, got $t")
            })
          } else out += PStar
        }
        // `SELECT DISTINCT field` keyword form ≡ distinct(field)
        // (reference ast.go Distinct node; sql.y DISTINCT IDENT)
        else if (isKw("distinct") && (toks.drop(1).headOption match {
          case Some(TIdent(_)) => true
          case _ => false
        })) {
          next()
          val f = next() match {
            case TIdent(x) => x
            case t => sys.error(s"expected field after DISTINCT, got $t")
          }
          out += PCall("distinct", f)
        }
        else {
          val proj = parseExpr() match {
            case Right(analytic) =>
              // `MOVING_AVERAGE(f,2) AS x` — analytic calls take
              // aliases too (For_BugList multi-analytic projections)
              if (isKw("as")) {
                next()
                next() match {
                  case TIdent(a) => analytic.copy(alias = Some(a))
                  case TStr(a) => analytic.copy(alias = Some(a))
                  case t => sys.error(s"expected alias, got $t")
                }
              } else analytic
            case Left(e) =>
              val alias = if (isKw("as")) {
                next()
                next() match {
                  case TIdent(a) =>
                    // dotted aliases join into one literal name
                    // (`sum(x) AS cpu.total.usage`)
                    var a2 = a
                    while (peek == TPunct(".") &&
                        peek2.isInstanceOf[TIdent]) {
                      next()
                      a2 = a2 + "." + (next() match {
                        case TIdent(s2) => s2
                        case t => sys.error(s"expected alias, got $t")
                      })
                    }
                    Some(a2)
                  case TStr(a) => Some(a) // AS 'name' quoted-string alias
                  case t => sys.error(s"expected alias, got $t")
                }
              } else None
              // a pure-literal field needs an alias (FieldIsLiteral,
              // errno/message.go:269)
              def hasVar(x: Expr): Boolean = x match {
                case EField(_) | ECall(_) => true
                case EBin(_, l2, r2) => hasVar(l2) || hasVar(r2)
                // a CALL is never "just a literal" — its own arg
                // contracts produce the right error (json_object(),
                // ip_mask(12,12)), not FieldIsLiteral
                case EMath(_, _) => true
                case ECast(x2, _) => hasVar(x2)
                case _ => false
              }
              if (alias.isEmpty && !hasVar(e))
                throw new StatementError(
                  "field must contain at least one variable")
              (e, alias) match {
                // an aliased bare call keeps its call identity (the
                // alias pins the output name — also what routes
                // `DISTINCT(v3) AS v3` into the distinct-rows branch)
                case (ECall(c), a) => c.copy(alias = a)
                case (EField(f), None) => PField(f)
                case _ =>
                  exprIdx += 1
                  // auto-name from the call chain: `sum(a)+sum(b)` →
                  // "sum_sum" (SubqueryForLogicalOptimize exp columns).
                  // A call-free expr names by its FIELD refs —
                  // `100 - usage_system` → "usage_system" (ast.go
                  // BinaryExpr default naming; Subqueries::16 outer
                  // min(usage_system) resolves onto it)
                  def fns(x: Expr): Seq[String] = x match {
                    case ECall(c2) => Seq(c2.fn)
                    case EBin(_, l2, r2) => fns(l2) ++ fns(r2)
                    // a scalar/math call names its output after ITSELF
                    // (`strlen(address)` → column "strlen"); nested
                    // aggregate names don't leak through
                    case EMath(f2, _) => Seq(f2)
                    case ECast(x2, _) => fns(x2)
                    case _ => Nil
                  }
                  def fieldRefs(x: Expr): Seq[String] = x match {
                    case EField(f2) => Seq(f2)
                    case EBin(_, l2, r2) => fieldRefs(l2) ++ fieldRefs(r2)
                    case ECast(x2, _) => fieldRefs(x2)
                    case _ => Nil
                  }
                  val auto = fns(e) match {
                    case Nil => fieldRefs(e) match {
                      case Nil => s"expr_$exprIdx"
                      case fs2 => fs2.mkString("_")
                    }
                    case cs => cs.mkString("_")
                  }
                  PExpr(e, alias.getOrElse(auto))
              }
          }
          out += proj
        }
        if (peek == TPunct(",")) next() else done = true
      }
      out.result()
    }

    // expression grammar: expr := term ((+|-) term)* ; term := factor
    // ((*|/) factor)* ; factor := num | field | call | (expr) | -factor
    private def parseExpr(): Either[Expr, PAnalytic] = {
      var l: Expr = parseTerm() match {
        case Right(a) => return Right(a)
        case Left(x) => x
      }
      while (peek == TPunct("+") || peek == TPunct("-")) {
        val op = next().asInstanceOf[TPunct].s.charAt(0)
        val r = parseTerm().left.getOrElse(
          sys.error("analytic calls cannot appear inside expressions"))
        l = EBin(op, l, r)
      }
      Left(l)
    }

    private def parseTerm(): Either[Expr, PAnalytic] = {
      var l: Expr = parseFactor() match {
        case Right(a) => return Right(a)
        case Left(x) => x
      }
      while (peek == TPunct("*") || peek == TPunct("/")) {
        val op = next().asInstanceOf[TPunct].s.charAt(0)
        val r = parseFactor().left.getOrElse(
          sys.error("analytic calls cannot appear inside expressions"))
        l = EBin(op, l, r)
      }
      Left(l)
    }

    private def parseFactor(): Either[Expr, PAnalytic] = next() match {
      case TNum(v, intg, exact) => Left(ENum(v, intg, exact))
      case TStr(sv) => Left(EStr(sv))
      case TDur(ns) => Left(ENum(ns.toDouble, integral = true, Some(ns)))
      case TPunct("-") =>
        parseFactor().left.map(f => EBin('-', ENum(0, integral = true), f))
      case TPunct("(") =>
        val e = parseExpr(); expect(")")
        e
      case TIdent(fn0) if peek == TPunct("(") =>
        val fn = fn0.toLowerCase
        next() // (
        if (mathFnNames.contains(fn) || scalarFnNames.contains(fn)) {
          // scalar math call: full comma-separated expression args
          val args = Seq.newBuilder[Expr]
          if (peek != TPunct(")")) {
            def one(): Expr = parseExpr().left.getOrElse(
              sys.error("analytic calls cannot appear inside math calls"))
            args += one()
            while (peek == TPunct(",")) { next(); args += one() }
          }
          expect(")")
          Left(EMath(fn, args.result()))
        } else {
          // aggregate / analytic call: the argument itself parses as an
          // expression — a plain field, `*`, a nested call, or an
          // arbitrary scalar expression (`mean(abs(v))`, `sum(v*2)`)
          val arg: Either[String, Either[PCall, Expr]] =
            if (peek == TPunct("*")) { next(); Left("*") }
            else parseExpr().left.getOrElse(
              sys.error("analytic calls cannot nest")) match {
              case EField(f) => Left(f)
              case ECall(c) => Right(Left(c))
              case e => Right(Right(e))
            }
          // top(field, tag…, N) / bottom(...): tag keys may precede N
          // (influxdb selector form; emitted as result columns)
          var tagArgs = Seq.empty[String]
          if (Set("top", "bottom").contains(fn)) {
            var more = peek == TPunct(",") && (toks.drop(1).headOption match {
              case Some(TIdent(_)) => true
              case _ => false
            })
            while (more) {
              next()
              tagArgs :+= (next() match {
                case TIdent(t0) => t0
                case t => sys.error(s"bad top/bottom tag arg: $t")
              })
              more = peek == TPunct(",") && (toks.drop(1).headOption match {
                case Some(TIdent(_)) => true
                case _ => false
              })
            }
          }
          // string second args: difference(f, 'front'|'behind'|'absolute')
          // (compileDifference, agg_functions.go:1068)
          var modeArg: Option[String] = None
          val extra = if (peek == TPunct(",")) {
            next()
            next() match {
              case TNum(v, _, _) => Some(v)
              // duration unit args — derivative(f, 1s), elapsed(f, 1ms),
              // integral(f, 1m): carried as nanoseconds
              case TDur(nsv) => Some(nsv.toDouble)
              case TStr(s) => modeArg = Some(s); None
              case t => sys.error(s"bad call extra arg: $t")
            }
          } else None
          // holt_winters(agg, N, S) carries a second numeric argument
          val extra2 = if (peek == TPunct(",")) {
            next()
            next() match {
              case TNum(v, _, _) => Some(v)
              case t => sys.error(s"bad call third arg: $t")
            }
          } else None
          // compare(f, o1, o2, o3) carries up to THREE offsets
          // (Compare_Functions::4)
          val extra3 = if (peek == TPunct(",")) {
            next()
            next() match {
              case TNum(v, _, _) => Some(v)
              case t => sys.error(s"bad call fourth arg: $t")
            }
          } else None
          expect(")")
          arg match {
            case Right(Left(inner)) =>
              Right(PAnalytic(fn, inner, extra, extra2, mode = modeArg))
            case Left(field)
                if Set("derivative", "difference", "moving_average",
                  "cumulative_sum", "non_negative_difference",
                  "non_negative_derivative", "elapsed").contains(fn) ||
                  smoothingFnCol.contains(fn) =>
              // analytic directly over the raw field per series
              Right(PAnalytic(fn, PCall("last", field), extra,
                mode = modeArg))
            case Left(field) =>
              Left(ECall(PCall(fn, field, extra, tagArgs = tagArgs,
                extra2 = extra2, extra3 = extra3)))
            case Right(Right(e)) =>
              Left(ECall(PCall(fn, "", extra, argExpr = Some(e),
                extra2 = extra2, extra3 = extra3)))
          }
        }
      case TIdent(f) if peek == TPunct("::") =>
        next()
        val typ = (next() match {
          case TIdent(t) => t
          case t => sys.error(s"expected type after ::, got $t")
        }).toLowerCase
        typ match {
          case "field" | "tag" => Left(EField(f)) // disambiguator only
          case "integer" | "unsigned" | "float" | "string" | "boolean" =>
            Left(ECast(EField(f), typ))
          case other => sys.error(s"unknown ::$other type selector")
        }
      case TIdent(f) if peek == TPunct(".") && peek2.isInstanceOf[TIdent] =>
        Left(EField(qualTail(f))) // `t1.f` qualified ref
      case TIdent(f) => Left(EField(f))
      case t => sys.error(s"bad projection: $t")
    }

    // WHERE grammar: or := and (OR and)* ; and := atom (AND atom)* ;
    // atom := '(' or ')' | field op literal
    /** Standalone WHERE tree (management statements). */
    def parseWhereStandalone(): WExpr = parseWhereOr()

    private def parseWhereOr(): WExpr = {
      var l = parseWhereAnd()
      while (isKw("or")) { next(); l = WOr(l, parseWhereAnd()) }
      l
    }

    private def parseWhereAnd(): WExpr = {
      var l = parseWhereAtom()
      while (isKw("and")) { next(); l = WAnd(l, parseWhereAtom()) }
      l
    }

    private def parseWhereAtom(): WExpr = {
      if (peek == TPunct("(")) {
        next(); val e = parseWhereOr(); expect(")")
        return e
      }
      // try the plain field-op-literal shape first (keeps the pruning
      // fast path); on failure backtrack and parse a general scalar
      // expression comparison
      val save = toks
      try return parsePlainWhereAtom()
      catch { case _: RuntimeException => toks = save }
      def side(): Expr = parseExpr().left.getOrElse(
        sys.error("analytic calls cannot appear in WHERE"))
      val l = side()
      val op = next() match {
        case TOp(o) if Set("=", "!=", "<>", "<", "<=", ">", ">=")
          .contains(o) => o
        case t => sys.error(s"bad WHERE comparison op: $t")
      }
      WCmp(l, op, side())
    }

    private def parsePlainWhereAtom(): WExpr = {
      val field0 = next() match {
        case TIdent(s) => s
        case t => sys.error(s"bad WHERE field: $t")
      }
      val field =
        if (peek == TPunct(".") && peek2.isInstanceOf[TIdent])
          qualTail(field0)
        else field0
      // [NOT] IN (SELECT …) — sql.y:753-769
      if (isKw("in") || isKw("not")) {
        val negated =
          if (isKw("not")) { next(); expectIdent("in"); true }
          else { next(); false }
        expect("(")
        val sub = parseQuery()
        expect(")")
        return WIn(field, sub, negated)
      }
      // LIKE / MATCH / MATCHPHRASE keyword predicates (token.go:416-422)
      val op = next() match {
        case TOp(o) => o
        case TIdent(s) if Set("like", "match", "matchphrase")
          .contains(s.toLowerCase) => s.toLowerCase
        case t => sys.error(s"bad WHERE op: $t")
      }
      val v = next() match {
        case TNum(x, _, exact) =>
          // integral literals stay exact longs (time = epoch ns)
          exact.map(CInt.apply).getOrElse(CNum(x))
        case TStr(s) => CStr(s)
        case TRegex(r) => CRegex(r)
        case TDur(ns) => CDur(ns)
        case TIdent(s) if s.equalsIgnoreCase("true") => CBool(true)
        case TIdent(s) if s.equalsIgnoreCase("false") => CBool(false)
        case TIdent(s) if s.equalsIgnoreCase("now") =>
          expect("("); expect(")")
          var delta = 0L
          if (peek == TPunct("-") || peek == TPunct("+")) {
            val sign = if (next() == TPunct("-")) -1L else 1L
            delta = next() match {
              case TDur(ns) => sign * ns
              case t => sys.error(s"expected duration after now()±, got $t")
            }
          }
          CNow(delta)
        case t => sys.error(s"bad WHERE value: $t")
      }
      WCond(Cond(field, op, v))
    }
  }

  // ------------------------------------------------------------- compiler
  /** Measurement metadata the analyzer needs (reference: FieldMapper /
    * CleanSchema). `time` must be a TIMESTAMP column. */
  /** `extentMs`: the table's [min, max] time in epoch ms from parquet
    * footer statistics ([[graft.sources.ParquetStats]]) — lets
    * unbounded fill spines clamp without a data scan, like the
    * reference's shard-group {Start,End}Time meta. */
  case class Measurement(df: DataFrame, tags: Seq[String],
                         time: String = "ts",
                         extentMs: Option[(Long, Long)] = None)

  /** Compile + run a query against a catalog of measurements. Output
    * columns: time (epoch ms) [+ group tags] + one column per projection
    * (named like InfluxQL: `mean`, `max_value`-free — call name or field). */
  def execute(catalog: Map[String, Measurement], sql: String): DataFrame = {
    // `__series_name` (per-measurement SHOW series rendering) and
    // `__tns` (the exact epoch-ns axis) are HTTP-shaping metadata —
    // the DataFrame surface stays internal-free; the gateway reads
    // them via executeShapedOrd instead.
    val df = executeStatement(catalog, sql)._2
    val internal = df.columns.filter(c =>
      c == "__series_name" || c == "__tns")
    if (internal.nonEmpty) df.drop(internal.toIndexedSeq: _*) else df
  }

  /** Run a statement and also return the HTTP shaping metadata the
    * reference's httpd handler derives from the plan
    * (`lib/util/lifted/influx/httpd/handler.go:534` emits `models.Rows`
    * named after the source measurement, one series per GROUP BY tag set):
    * (series name, tag columns present in the output, result frame).
    * SHOW statements shape as an untagged series named after the shown
    * object (`query/statement_rewriter.go`). */
  def executeShaped(catalog: Map[String, Measurement],
                    sql: String): (String, Seq[String], DataFrame) = {
    val (n, t, df, _) = executeShapedOrd(catalog, sql)
    (n, t, df)
  }

  /** [[executeShaped]] plus the statement's ORDER BY direction — the
    * HTTP edge renders SERIES in the statement's direction too. */
  def executeShapedOrd(catalog: Map[String, Measurement], sql: String)
      : (String, Seq[String], DataFrame, Boolean) = {
    val (q, df, unionNames) = executeStatementU(catalog, sql)
    q match {
      case Some(qq) if unionNames.exists(_.startsWith("\u0000single:")) =>
        // CTE-sourced single query: named after the underlying
        // measurement, tags resolved as usual
        val n0 = unionNames.head.stripPrefix("\u0000single:")
        val tags = resolveTags(catalog, qq).filter(df.columns.contains)
        (n0, tags, df, qq.orderDesc)
      case Some(qq) if unionNames.nonEmpty =>
        // UNION output: series named by the sorted distinct arm
        // sources, tag-less (group tags flattened to columns)
        (unionNames.distinct.sorted.mkString(","), Nil, df, qq.orderDesc)
      case Some(qq) =>
        // series name is the bare measurement — a qualified db.rp.m
        // spelling routes, it never renames the output series (quoted
        // names containing dots are NOT qualified: fromBare is None)
        def base(x: Query): String = x.join match {
          // a JOIN names the series "<left>,<right>,…" with aliases
          // preferred (server_test.go:14029 "table1,table2" / "t1,t2")
          case Some(j) =>
            val l = x.fromAlias.orElse(x.fromBare).getOrElse(
              x.fromSub.map(base).getOrElse(x.from))
            val rs = (j +: x.joinMore).map(jc => jc.rightAlias.getOrElse(
              jc.right.split('.').last match {
                case "" => jc.right; case b => b }))
            (l +: rs).mkString(",")
          case None => x.fromSub match {
            case Some(s0) =>
              // multi-subquery FROM joins the DISTINCT inner names —
              // "table1,table2,table3" (server_test.go:14129); two
              // subqueries over one source stay "mst1"
              // (MultiMeasurements::3)
              (s0 +: x.fromSubMore).map(base).distinct.mkString(",")
            case None =>
              // FROM m1, m2 names the series by the sorted source list
              // ("mst,mst1" — MultiMeasurements::0); FROM /re/ by the
              // sorted MATCHED measurements (MultiMeasurements::8)
              val bare = x.fromBare.getOrElse(x.from)
              val more = x.fromMore.map(n =>
                n.substring(n.lastIndexOf('.') + 1))
              if (bare.length > 1 && bare.startsWith("/") &&
                  bare.endsWith("/")) {
                val re = bare.substring(1, bare.length - 1).r
                val hits = catalog.keysIterator
                  .filter(k0 => re.findFirstIn(k0).isDefined)
                  .toSeq.distinct.sorted
                if (hits.nonEmpty) hits.mkString(",") else bare
              }
              else if (more.isEmpty) bare
              else (bare +: more).distinct.sorted.mkString(",")
          }
        }
        val tags = resolveTags(catalog, qq).filter(df.columns.contains)
        (base(qq), tags, df, qq.orderDesc)
      case None =>
        val name =
          if (sql.trim.toLowerCase.startsWith("explain")) "explain"
          else sql.trim.split("\\s+").drop(1)
            .takeWhile(w => !Set("on", "from", "with", "where")
              .contains(w.toLowerCase))
            .map(_.toLowerCase).mkString("_")
        (name, Nil, df, false)
    }
  }

  /** Group dimensions that ALSO render as value columns in the series
    * JSON: a raw query keeps an explicitly-projected group tag in
    * `columns` (Multiple_Measurements "SELECT host,value … GROUP BY
    * host" exp [time,host,value]) and a star expansion keeps a grouped
    * FIELD dimension (FieldIndex_Query "SELECT * GROUP BY field_index"
    * exp [time,field_index,host,region,value]). Aggregate statements
    * never do. Best-effort: parse failures return Nil (the statement
    * will fail properly downstream). */
  def alsoColumnTags(catalog: Map[String, Measurement],
                     sql0: String): Seq[String] = try {
    val s = stripComments(sql0, keepHints = false).trim
    val lower = s.toLowerCase
    if (!(lower.startsWith("select") || lower.startsWith("with"))) Nil
    else {
      val (_, q) = parseWith(s)
      def hasCall(e: Expr): Boolean = e match {
        case ECall(_) => true
        case EBin(_, l, r) => hasCall(l) || hasCall(r)
        case EMath(_, as) => as.exists(hasCall)
        case ECast(x, _) => hasCall(x)
        case _ => false
      }
      val isRaw = q.projs.nonEmpty && q.projs.forall {
        case _: PCall | _: PAnalytic => false
        case PExpr(e, _) => !hasCall(e)
        case _ => true
      }
      // a JOIN's star output is already qualified per side; grouped ON
      // keys render as tags only (CTE_Query joined-star exp)
      if (!isRaw || q.join.nonEmpty) Nil
      else {
        val dims = resolveTags(catalog, q)
        val srcTags = sourceTags(catalog, q)
        val explicit = dims.filter(d => q.projs.exists {
          case PField(f) => f == d
          case _ => false
        })
        // grouped FIELD dims render as columns only when the source is
        // a catalog measurement whose tag set we actually know (a CTE /
        // subquery source resolves no tags here — don't misread its
        // tags as field dims)
        val starFieldDims =
          if (q.projs.contains(PStar) && q.fromSub.isEmpty &&
              lookupMeasurement(catalog, q.from).isDefined)
            dims.filterNot(srcTags.contains)
          else Nil
        (explicit ++ starFieldDims).distinct
      }
    }
  } catch { case scala.util.control.NonFatal(_) => Nil }

  /** Data-management statements (reference surface: `influxql/ast.go`
    * DeleteStatement, DropMeasurementStatement, DropSeriesStatement).
    * The engine is storage-agnostic, so management is catalog-functional
    * like executeInto: the returned catalog reflects the deletion and
    * persistence is the caller's sink. DELETE WHERE accepts time ranges
    * and tag predicates — the reference rejects field predicates in
    * DELETE too (`coordinator/statement_executor.go` delete validation).
    * DROP SERIES removes whole matching series; with tag predicates
    * (all DROP SERIES allows) that is the same row filter. */
  /** `nowMs` pins `now()` in DELETE/DROP SERIES conditions — a durable
    * DML journal replays the statement with its ORIGINAL issue time, so
    * a `WHERE time < now() - 1h` tombstone deletes the same rows after a
    * restart instead of re-evaluating against the restart clock. */
  def executeManage(catalog: Map[String, Measurement],
                    sql: String,
                    nowMs: Long = System.currentTimeMillis())
      : Map[String, Measurement] = {
    val p = new Parser(lex(sql))
    if (p.accept("drop")) {
      if (p.accept("measurement")) catalog - p.ident()
      else if (p.accept("series")) {
        p.expectIdent("from")
        val name = p.ident()
        val m = catalog.getOrElse(name, sys.error(s"unknown measurement $name"))
        if (p.accept("where")) {
          val w = p.parseWhereStandalone()
          val cond = manageCond(m, w, nowMs)
          // null tag never matches a predicate → its rows are kept
          catalog + (name -> m.copy(df =
            m.df.filter(coalesce(!cond, lit(true)))))
        } else catalog - name
      } else if (p.isKw("database") || p.isKw("retention") ||
          p.isKw("shard") || p.isKw("subscription") ||
          p.isKw("continuous")) {
        // storage/meta-level drops: accepted no-ops in the
        // storage-agnostic single-database model (clients tear down
        // fixtures with these and expect success)
        catalog
      } else sys.error("expected DROP MEASUREMENT or DROP SERIES")
    } else if (Seq("create", "alter", "grant", "revoke", "set")
        .exists(p.isKw)) {
      // CREATE DATABASE / RETENTION POLICY, ALTER RETENTION POLICY /
      // SHARD KEY, GRANT/REVOKE [ADMIN], SET PASSWORD (ast.go Create*/
      // Alter*/Grant*/Revoke*/SetPasswordUser): meta/auth mutations with
      // nothing to mutate in the storage-agnostic single-database,
      // single-user model — accepted no-ops (client libraries issue
      // them on connect and expect success)
      catalog
    } else if (p.accept("kill")) {
      // KILL QUERY <qid>: accepted no-op — there is no query registry
      // in library mode (reference: task_manager.go kills by qid)
      p.expectIdent("query")
      p.next() match {
        case TNum(_, _, _) => catalog
        case t => sys.error(s"KILL QUERY expects a query id, got $t")
      }
    } else if (p.accept("delete")) {
      p.expectIdent("from")
      val name = p.ident()
      val m = catalog.getOrElse(name, sys.error(s"unknown measurement $name"))
      val kept =
        if (p.accept("where")) {
          val cond = manageCond(m, p.parseWhereStandalone(), nowMs)
          m.df.filter(coalesce(!cond, lit(true)))
        } else m.df.limit(0)
      catalog + (name -> m.copy(df = kept))
    } else sys.error(s"not a management statement: $sql")
  }

  /** `time <op> literal` on the µs time axis, shared by the SELECT and
    * the management (DELETE/DROP SERIES/SHOW … WHERE) condition
    * compilers: (lhs, rhs) to compare. A literal naming an instant — an
    * RFC3339 string, an epoch-ns integer, a duration, `now() ± d` — is
    * converted to epoch µs and, on a TIMESTAMP time column, compared as
    * `time <op> timestamp_micros(µs)`: Catalyst folds the call to a
    * literal, so the predicate is attribute-vs-literal and prunes cached
    * in-memory batches by their min/max stats and parquet row groups by
    * theirs (the reference lifts these bounds into the scan's
    * SeekTime/StopTime, `query/select.go:482`). It selects the rows
    * `unix_micros(time) <op> µs` selects, as `unix_micros` is
    * order-preserving and one-to-one on µs timestamps. A float literal
    * (fractional µs) or another type of time column keeps the comparison
    * on `unix_micros(time)`. */
  private def timeOperands(df: DataFrame, timeCol: String, v: CondV,
                           nowMs: Long): (Column, Column) = {
    val time = col(timeCol)
    val timestampCol = df.schema.fields.exists(f => f.name == timeCol &&
      f.dataType == org.apache.spark.sql.types.TimestampType)
    val us: Option[Long] = v match {
      case CStr(s) => Some(parseTimeUtc(s))
      case CInt(l) => Some(Math.floorDiv(l, 1000L)) // epoch ns -> µs
      case CDur(ns) => Some(ns / 1000L)
      case CNow(d) => Some(nowMs * 1000L + d / 1000L)
      case _ => None
    }
    us match {
      case Some(u) if timestampCol => (time, timestamp_micros(lit(u)))
      case Some(u) => (unix_micros(time), lit(u))
      case None => (unix_micros(time), v match {
        case CNum(x) => lit(x / 1000.0) // epoch ns -> fractional µs
        case CBool(b) => lit(b)
        case _ => lit(null)
      })
    }
  }

  /** Time/tag condition compiler for DELETE/DROP SERIES — same literal
    * conventions as the SELECT path (time in epoch µs, durations as
    * ns→µs, RFC3339 strings, now()±d). */
  private def manageCond(m: Measurement, w: WExpr, nowMs: Long): Column =
      w match {
    case WAnd(l, r) => manageCond(m, l, nowMs) && manageCond(m, r, nowMs)
    case WOr(l, r) => manageCond(m, l, nowMs) || manageCond(m, r, nowMs)
    // `WHERE region=bj4` — a bare-ident RHS that is not a column is an
    // unquoted string value (ShowTagKeysWithCondition)
    case WCmp(EField(f), op, EField(v)) if !m.df.columns.contains(v) =>
      manageCond(m, WCond(Cond(f, op, CStr(v))), nowMs)
    case WCond(c) =>
      val isTime = c.field.equalsIgnoreCase("time")
      // a string comparison against a numeric column is a type
      // mismatch — the reference matches nothing (ShowTagValues
      // "WHERE value = 'no_such_value'" over a float field)
      val numMismatch = !isTime && (c.v match {
        case CStr(_) => m.df.schema.fields.find(_.name == c.field)
          .exists(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType])
        case _ => false
      })
      if (numMismatch) return lit(false)
      val (lhs, rhs) =
        if (isTime) timeOperands(m.df, m.time, c.v, nowMs)
        else (col(c.field), c.v match {
          case CStr(sv) => lit(sv)
          case CInt(l) => lit(l)
          case CNum(v) => lit(v)
          case CDur(ns) => lit(ns / 1000)
          case CNow(d) => lit(nowMs * 1000L + d / 1000)
          case CBool(b) => lit(b)
          case CRegex(_) => lit(null)
        })
      (c.op, c.v) match {
        case ("=~", CRegex(r)) => lhs.rlike(r)
        case ("!~", CRegex(r)) => !lhs.rlike(r)
        case ("=", _) => lhs === rhs
        case ("!=", _) | ("<>", _) => lhs =!= rhs
        case ("<", _) => lhs < rhs
        case ("<=", _) => lhs <= rhs
        case (">", _) => lhs > rhs
        case (">=", _) => lhs >= rhs
        case (op, _) => sys.error(s"unsupported management op $op")
      }
    case _ => sys.error("unsupported management condition")
  }

  /** `SELECT … INTO target …`: runs the statement and returns the catalog
    * with the result registered as a queryable measurement (the
    * reference's IntoClause writes it into the database; our catalog is
    * the functional equivalent — callers persist via parquet/LineProtocol
    * sinks when durability is wanted). `keep` turns the statement's
    * frame into the one that is registered and returned (the gateway
    * materializes it, so reads of the target never re-run the SELECT). */
  def executeInto(catalog: Map[String, Measurement], sql: String,
                  keep: DataFrame => DataFrame = identity)
      : (Map[String, Measurement], DataFrame) = {
    val (q, df0) = executeStatement(catalog, sql)
    val df = keep(df0)
    q.flatMap(_.into) match {
      case Some(target) =>
        val m = Measurement(
          df.withColumn("__ts", timestamp_millis(col("time"))),
          q.map(x => resolveTags(catalog, x)).getOrElse(Nil), "__ts")
        (catalog + (target -> m), df)
      case None => (catalog, df)
    }
  }

  /** `GROUP BY *` resolves to the source measurement's tag set — also
    * through subqueries, CTERefs, and FROM regex unions. */
  private def resolveTags(catalog: Map[String, Measurement],
                          q: Query): Seq[String] =
    (if (!q.groupTags.contains("*")) q.groupTags
     else if (q.fromSub.isDefined) resolveTags(catalog, q.fromSub.get)
     else sourceTags(catalog, q)).filterNot(q.exceptTags.contains)

  /** Output columns of `q` that are TAGS: group tags, source tags the
    * projection carries through (star or bare ref), and ALIASED source
    * tags (`entity_id AS t1` stays a tag — Union_Table CTE exp orders
    * t1 with the tags). */
  private def projectedTags(catalog: Map[String, Measurement],
                            q: Query): Seq[String] = {
    val src = sourceTags(catalog, q)
    val aliased = q.projs.collect {
      case PField(f) if src.contains(f) => f
      case PExpr(EField(f), a) if src.contains(f) => a
    }
    (resolveTags(catalog, q) ++ aliased ++
      (if (q.projs.contains(PStar)) src else Nil)).distinct
  }

  /** Tags of the query's underlying SOURCE, regardless of GROUP BY —
    * a subquery's output column stays a TAG when the inner source typed
    * it as one (the reference's subquery schema keeps tag typing;
    * server_test.go "FIRST(*) FROM (SELECT * FROM mst)" expands fields
    * only). */
  private def sourceTags(catalog: Map[String, Measurement],
                         q: Query): Seq[String] =
    (if (q.fromSub.isDefined) sourceTags(catalog, q.fromSub.get)
     else (q.from +: q.fromMore).flatMap { f =>
       if (f.startsWith("/")) {
         val re = f.substring(1, f.length - 1).r
         catalog.collect { case (k, m) if re.findFirstIn(k).isDefined =>
           m.tags }.flatten.toSeq
       } else lookupMeasurement(catalog, f).map(_.tags).getOrElse(Nil)
     }).distinct

  private def executeStatement(catalog: Map[String, Measurement],
                               sql: String)
      : (Option[Query], DataFrame) = {
    val (q, df, _) = executeStatementU(catalog, sql)
    (q, df)
  }

  /** The frames a statement reads: the measurements its FROM, JOIN,
    * subquery, CTE and UNION sources name for a SELECT (a `/regex/`
    * source expands over the catalog), the whole catalog for SHOW, and
    * none otherwise — EXPLAIN resolves its inner statement itself, and a
    * statement that does not parse fails on its own path. */
  private def readSet(catalog: Map[String, Measurement],
                      sql: String): Seq[DataFrame] = {
    val lower = sql.trim.toLowerCase
    if (lower.startsWith("show ")) catalog.values.map(_.df).toSeq
    else if (!lower.startsWith("select") && !lower.startsWith("with")) Nil
    else try {
      val (ctes, q, arms) = new Parser(lex(sql)).parseStatementFull()
      def armQs(a: UnionArm): Seq[Query] = a.q +: a.nested.flatMap(armQs)
      def names(x: Query): Seq[String] =
        (x.from +: x.fromMore) ++
          (x.fromSub.toSeq ++ x.fromSubMore).flatMap(names) ++
          (x.join.toSeq ++ x.joinMore).flatMap(j =>
            j.rightSub.map(names).getOrElse(Seq(j.right)))
      val qs = (q +: arms.flatMap(armQs)) ++ ctes.flatMap {
        case (_, c, cArms) => c +: cArms.flatMap(armQs) }
      qs.flatMap(names).distinct.flatMap { n =>
        if (n.length > 1 && n.startsWith("/") && n.endsWith("/")) {
          val re = n.substring(1, n.length - 1).r
          catalog.collect {
            case (k, m) if re.findFirstIn(k).isDefined => m.df }
        } else lookupMeasurement(catalog, n).map(_.df)
      }
    } catch { case _: Exception => Nil }
  }

  /** A catalog read through session `s`: each lookup rebinds the
    * measurement's frame onto `s` (memoized per name). Measurements
    * registered into the view (CTEs, INTO targets) stay in it, and a
    * qualified-name resolver stays one. */
  private class OnSession(val u: Map[String, Measurement],
                          val s: SparkSession)
      extends scala.collection.immutable.AbstractMap[String, Measurement] {
    private val bound = new java.util.concurrent.ConcurrentHashMap[
      String, Option[Measurement]]()
    override def get(k: String): Option[Measurement] =
      bound.computeIfAbsent(k, _ =>
        u.get(k).map(m => m.copy(df = SessionShim.rebind(m.df, s))))
    override def iterator: Iterator[(String, Measurement)] =
      u.keysIterator.map(k => k -> get(k).get)
    override def removed(k: String): Map[String, Measurement] =
      OnSession(u - k, s)
    override def updated[V1 >: Measurement](
        k: String, v: V1): Map[String, V1] = v match {
      case m: Measurement => OnSession(u.updated(k, m), s)
      case _ => u.updated(k, v)
    }
    override def size: Int = u.size
  }
  private object OnSession {
    def apply(u: Map[String, Measurement],
              s: SparkSession): Map[String, Measurement] = u match {
      case o: OnSession if o.s eq s => o
      case _: QualifiedResolver => new OnSession(u, s) with QualifiedResolver
      case _ => new OnSession(u, s)
    }
  }

  /** [[executeStatement]] plus the UNION source names (the HTTP edge
    * names a union series "src1,src2,…" sorted, tag-less). The
    * statement compiles on the execution profile its inputs' plan size
    * selects ([[graft.ExecProfile.statementSession]]), so every caller —
    * library or HTTP route — runs the same plan. */
  private def executeStatementU(catalog: Map[String, Measurement],
                                sql: String)
      : (Option[Query], DataFrame, Seq[String]) =
    graft.ExecProfile.statementSession(readSet(catalog, sql)) match {
      case Some(s) => SessionShim.withActive(s)(
        executeStatementOn(OnSession(catalog, s), sql))
      case None => executeStatementOn(catalog, sql)
    }

  private def executeStatementOn(catalog: Map[String, Measurement],
                                 sql: String)
      : (Option[Query], DataFrame, Seq[String]) = {
    if (sql.trim.toLowerCase.startsWith("show "))
      return (None, executeShow(catalog, sql), Nil)
    // EXPLAIN [ANALYZE] <select> — reference `influxql/parse_tree.go:232`
    // parseExplainStatement; the reference emits its chunk-DAG description
    // as text rows, we emit the Catalyst plan the same way. ANALYZE runs
    // the query first so AQE's final (runtime-re-planned) shape is shown.
    val lower = sql.trim.toLowerCase
    if (lower.startsWith("explain ")) {
      val analyze = lower.startsWith("explain analyze ")
      val inner = sql.trim.drop(if (analyze) 15 else 7).trim
      val (_, df) = executeStatement(catalog, inner)
      val spark = df.sparkSession
      import spark.implicits._
      val text =
        if (analyze) {
          val nRows = df.count()
          df.queryExecution.executedPlan.toString +
            s"\nrows emitted: $nRows"
        } else df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      return (None, text.split("\n").toSeq.toDF("QUERY PLAN"), Nil)
    }
    val (ctes, q0, arms) = new Parser(lex(sql)).parseStatementFull()
    // hint comments lex away before parse — re-read them off the raw
    // text and attach to the top-level statement
    val q = q0.copy(hints = "/\\*\\+(.*?)\\*/".r.findAllMatchIn(sql)
      .flatMap(_.group(1).trim.split("[\\s,]+")).map(_.toLowerCase)
      .filter(_.nonEmpty).toSet)

    // UNION semantics (sql.y:656-699 + logkeeper union transform):
    // every arm's output FLATTENS to time + name-sorted columns (group
    // tags become plain columns); positional arms must agree on column
    // count and per-index types, BY NAME arms on shared-name types —
    // the reference's exact compile errors. A non-ALL arm dedups.
    def armTags(d: DataFrame, qq: Query,
                cat0: Map[String, Measurement]): Seq[String] = {
      val srcTags = (projectedTags(cat0, qq) ++ sourceTags(cat0, qq))
        .distinct.filter(d.columns.contains)
      (qq.groupTags.filter(d.columns.contains) ++
        srcTags.filterNot(qq.groupTags.contains).sorted).distinct
    }
    def flatArm(d: DataFrame, qq: Query,
                cat0: Map[String, Measurement]): DataFrame = {
      // STAR arms shape as time, fields (their emitted order), then
      // TAGS — group tags first, remaining source tags after
      // (Union_Table grouped-star exp pairs t2 before t1 on the
      // group-by-t2 arm); explicit projections keep their own order,
      // with GROUP BY tags appended last (Union_Distinct::4 pairs a
      // star arm's (…,t1,t2) against "f1, f3 … GROUP BY t1, t2")
      val isStar = qq.projs.exists(p0 =>
        p0 == PStar || p0 == PStarTag || p0 == PStarField)
      val tagsOrdered =
        if (isStar) armTags(d, qq, cat0)
        else qq.groupTags.filter(d.columns.contains)
      val others = d.columns.filterNot(c => c == "time" ||
        c.startsWith("__") || tagsOrdered.contains(c))
      d.select((("time" +: others) ++ tagsOrdered).map(c0 =>
        if (c0.contains(".")) col(s"`$c0`") else col(c0)): _*)
    }
    def compileArm(cat0: Map[String, Measurement],
                   a: UnionArm): DataFrame = {
      val base0 = compileQuery(cat0, a.q)
      if (a.nested.isEmpty) base0
      else unionFold(base0, a.q, cat0,
        a.nested.map(n2 => n2 -> compileArm(cat0, n2)))
    }
    // arm emission rank: arms emit as blocks ordered by their SOURCE
    // NAME (sorted, not statement order — Union_Table::10 "event union
    // alarm union CPU" emits CPU, alarm_table, event_table). The rank
    // rides a hidden __uord column consumed by the BY NAME output sort.
    def armSrc(x: Query): String = x.fromSub match {
      case Some(s0) => armSrc(s0)
      case None => x.fromBare.getOrElse(x.from)
    }
    def unionFold(first: DataFrame, firstQ: Query,
                  cat0: Map[String, Measurement],
                  rest: Seq[(UnionArm, DataFrame)]): DataFrame = {
      val names = (armSrc(firstQ) +: rest.map(r => armSrc(r._1.q)))
      val ranked = names.distinct.sorted.zipWithIndex.toMap
      def stamp(d: DataFrame, n: String): DataFrame =
        d.withColumn("__uord", lit(ranked(n).toLong))
      rest.zip(names.tail).foldLeft(
        stamp(flatArm(first, firstQ, cat0), names.head)) {
        case (acc, ((arm, d0), nm)) =>
        val d = stamp(flatArm(d0, arm.q, cat0), nm)
        val u =
          if (arm.byName) {
            val shared = acc.columns.toSet.intersect(d.columns.toSet)
            shared.foreach { c0 =>
              if (acc.schema(c0).dataType != d.schema(c0).dataType)
                throw new StatementError("columns with same name must " +
                  "have the same data type when using union by name/" +
                  "union all by name")
            }
            val merged = acc.unionByName(d, allowMissingColumns = true)
            // BY NAME output re-sorts columns by name
            merged.select(("time" +: merged.columns
              .filterNot(_ == "time").sorted).map(col): _*)
          } else {
            if (acc.columns.length != d.columns.length)
              throw new StatementError("union/union all can only apply " +
                "to expressions with the same number of result columns")
            acc.schema.fields.zip(d.schema.fields).foreach {
              case (a, b) =>
                if (a.dataType != b.dataType)
                  throw new StatementError("columns in the same index " +
                    "position must have the same data type when using " +
                    "union/union all")
            }
            acc.union(d)
          }
        // non-ALL dedups on VALUE columns only — the hidden arm rank
        // keeps the smallest contributing arm (first-seen block order)
        if (arm.all) u
        else {
          val vcols = u.columns.filterNot(_ == "__uord").toSeq
          def qc(c0: String) =
            if (c0.contains(".")) col(s"`$c0`") else col(c0)
          u.groupBy(vcols.map(qc): _*)
            .agg(min(col("__uord")).as("__uord"))
            .select(u.columns.toSeq.map(qc): _*)
        }
      }
    }

    // CTEs compile once and register as measurements visible to later CTEs
    // and the main query (reference BuildCTELogicalPlan select.go:906);
    // Catalyst reuses the shared subplan.
    // CTEs may reference LATER CTEs (CTE_Query t2-then-t1) — compile
    // by fixpoint; a CTE referencing itself (directly or cyclically) is
    // the reference's "recursive call to itself" error
    def refNames(x: Query): Set[String] = {
      val subs = x.fromSub.toSeq ++ x.fromSubMore ++
        (x.join.toSeq ++ x.joinMore).flatMap(_.rightSub)
      def inRefs(w: WExpr): Set[String] = w match {
        case WIn(_, sq, _) => refNames(sq) + sq.from
        case WAnd(l, r) => inRefs(l) ++ inRefs(r)
        case WOr(l, r) => inRefs(l) ++ inRefs(r)
        case _ => Set.empty
      }
      Set(x.from) ++ x.fromMore ++
        (x.join.toSeq ++ x.joinMore).map(_.right) ++
        subs.flatMap(refNames) ++ x.where.toSeq.flatMap(inRefs)
    }
    val cteAll = ctes.map(_._1).toSet
    ctes.foreach { case (name, sub, subArms) =>
      val refs = refNames(sub) ++ subArms.flatMap(a => refNames(a.q))
      if (refs.contains(name))
        throw new StatementError(
          s"Unsupported feature: recursive call to itself $name")
    }
    var pending = ctes
    var cat = catalog
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val (ready, blocked) = pending.partition { case (_, sub, subArms) =>
        val refs = (refNames(sub) ++ subArms.flatMap(a => refNames(a.q)))
          .intersect(cteAll)
        refs.forall(cat.contains)
      }
      ready.foreach { case (name, sub, subArms) =>
        val base0 =
          if (sub.from.startsWith("\u0000graph\u0000")) {
            // GRAPH CTE: the topology sub-graph frame
            val parts = sub.from.split('\u0000')
            val spark = (cat.values ++ catalog.values).headOption
              .map(_.df.sparkSession)
              .getOrElse(org.apache.spark.sql.SparkSession.active)
            graft.operators.GraphTopology.frame(spark, parts(3),
              parts(2).toInt)
          } else compileQuery(cat, sub)
        val body =
          if (subArms.isEmpty) base0
          else unionFold(base0, sub, cat,
            subArms.map(a => a -> compileArm(cat, a))).drop("__uord")
        val ts0 =
          if (body.columns.contains("__tns"))
            timestamp_micros((col("__tns") / 1000L).cast("long"))
          else timestamp_millis(col("time"))
        // __sord pins the CTE's own emission order so a projection over
        // it keeps write/series order on same-ns ties (CTE_Query exp
        // ff2 [2,3,12,3], not value-ascending)
        val df = body.withColumn("__ts", ts0)
          .withColumn("__sord", monotonically_increasing_id())
        cat = cat + (name -> Measurement(df,
          projectedTags(cat, sub).filter(df.columns.contains), "__ts"))
        progress = true
      }
      pending = blocked
    }
    if (pending.nonEmpty)
      throw new StatementError("Unsupported feature: recursive call to " +
        s"itself ${pending.head._1}")
    val out =
      if (arms.isEmpty) compileQuery(cat, q)
      else {
        val folded = unionFold(compileQuery(cat, q), q, cat,
          arms.map(a => a -> compileArm(cat, a)))
        def anyByName(a: UnionArm): Boolean =
          a.byName || a.nested.exists(anyByName)
        if (arms.exists(anyByName)) {
          // BY NAME rows emit in arm-block order (source-name-sorted —
          // the hidden __uord rank), fields name-ASC nulls-last within
          // a block (Union_Table::10/::16 exp row order)
          val tags0 = armTags(folded, q, cat)
          val fieldSort = folded.columns.filterNot(c =>
            c == "time" || c == "__uord" || tags0.contains(c))
            .sorted.toSeq ++ tags0.filter(folded.columns.contains)
          folded.orderBy((col("time").asc +: col("__uord").asc +:
            fieldSort.map(c0 =>
              (if (c0.contains(".")) col(s"`$c0`") else col(c0))
                .asc_nulls_last)): _*)
            .drop("__uord")
        } else {
          // positional unions sort by (time, fields…, tags…) in
          // name order, regardless of the rendered column order
          // (Union_Table exp row order)
          val tags0 = armTags(folded, q, cat)
          val sortCols = ("time" +: folded.columns.filterNot(c =>
            c == "time" || c == "__uord" || tags0.contains(c))
            .sorted.toSeq) ++ tags0.filter(folded.columns.contains)
          def qc0(c0: String) =
            if (c0.contains(".")) col(s"`$c0`") else col(c0)
          // rendered column order is name-sorted, time first
          // (Union_Table::14 "select t1,f1 … union all …" renders
          // [time, f1, t1]) — the flat pairing order was positional
          // plumbing, not the output contract
          val outCols = "time" +: folded.columns
            .filterNot(c => c == "time" || c == "__uord").sorted.toSeq
          folded.orderBy(sortCols.map(qc0): _*)
            .select(outCols.map(qc0): _*)
        }
      }
    def armQs(a: UnionArm): Seq[Query] = a.q +: a.nested.flatMap(armQs)
    // series names resolve through CTE refs to the underlying sources
    val cteNames: Map[String, Seq[String]] = ctes.map {
      case (n0, sub, subArms) =>
        def bn(x: Query): String = x.fromSub match {
          case Some(s0) => bn(s0)
          case None => x.fromBare.getOrElse(x.from)
        }
        n0 -> ((sub +: subArms.flatMap(armQs)).map(bn))
    }.toMap
    def namesOf(x: Query): Seq[String] = {
      val b = x.fromSub match {
        case Some(s0) => return namesOf(s0)
        case None => x.fromBare.getOrElse(x.from)
      }
      cteNames.getOrElse(b, Seq(b))
    }
    if (arms.isEmpty) {
      // single query: a CTE-sourced series is named after the CTE's
      // underlying measurement (CTE_Query exp name "tmst", not "t1")
      val resolved = namesOf(q).distinct
      val viaCte = q.join.isEmpty &&
        cteNames.contains(q.fromSub.map(s0 => s0.fromBare
          .getOrElse(s0.from)).getOrElse(q.fromBare.getOrElse(q.from)))
      (Some(q), out, if (viaCte) Seq("\u0000single:" +
        resolved.mkString(",")) else Nil)
    } else
      (Some(q), out, (q +: arms.flatMap(armQs)).flatMap(namesOf))
  }

  /** Strip `&#47;*…*&#47;` comment spans QUOTE-AWARE: spans inside
    * single- or double-quoted literals are content, not comments (a
    * blind replaceAll corrupted `WHERE msg = 'a &#47;*+ x *&#47; b'`).
    * `keepHints` keeps optimizer hints (`&#47;*+ … *&#47;`, parser.go
    * hint grammar) and strips only plain comments. Backslash escapes
    * inside quotes are honored; an unterminated comment strips to
    * end-of-string. */
  def stripComments(s: String, keepHints: Boolean): String = {
    val out = new StringBuilder
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        out.append(c)
        if (c == '\\' && i + 1 < s.length) {
          out.append(s.charAt(i + 1)); i += 1
        } else if (c == quote) quote = 0
        i += 1
      } else if (c == '\'' || c == '"') {
        quote = c; out.append(c); i += 1
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*' &&
                 !(keepHints && i + 2 < s.length && s.charAt(i + 2) == '+')) {
        val end = s.indexOf("*/", i + 2)
        out.append(' ')
        i = if (end < 0) s.length else end + 2
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** SHOW MEASUREMENTS / TAG KEYS / TAG VALUES … WITH KEY = k /
    * FIELD KEYS / SERIES — reference `query/statement_rewriter.go` (SHOW →
    * meta SELECT). */
  private def executeShow(catalog: Map[String, Measurement],
                          sql0: String): DataFrame = {
    // strip optimizer-hint comments (`SHOW /*+ exact_statistic_query */
    // TAG VALUES …` — parser.go hint grammar, routing-only here)
    val sql = stripComments(sql0, keepHints = false)
    val spark = catalog.values.headOption.map(_.df.sparkSession)
      .getOrElse(org.apache.spark.sql.SparkSession.active)
    import spark.implicits._
    // `ON <db>` scoping (parser.go parseShowMeasurementsStatement etc.):
    // routing-only in the single-database model — strip the pair so every
    // SHOW branch accepts it
    val toks = lex(sql) match {
      case ts =>
        val i = ts.indexWhere {
          case TIdent(s) => s.equalsIgnoreCase("on")
          case _ => false
        }
        if (i > 0 && i + 1 < ts.length &&
            ts(i + 1).isInstanceOf[TIdent])
          ts.take(i) ++ ts.drop(i + 2)
        else ts
    }
    val p = new Parser(toks)
    p.expectIdent("show")
    def fromM(): Option[Measurement] =
      if (p.isKw("from")) {
        p.next()
        Some(p.next() match {
          case TIdent(s) => catalog.getOrElse(s,
            sys.error(s"unknown measurement $s"))
          case t => sys.error(s"expected measurement, got $t")
        })
      } else None
    // optional WHERE on the measurement rows feeding the SHOW (reference
    // grammar: parser.go parseShowTagValuesStatement / parseShowSeries —
    // tag + time predicates filter which rows contribute values)
    def whereOn(m: Measurement): DataFrame =
      if (p.isKw("where")) {
        p.next(); m.df.filter(manageCond(m, p.parseWhereStandalone(),
          System.currentTimeMillis()))
      } else m.df
    // optional trailing LIMIT n / OFFSET n on the (sorted) SHOW output
    def limitOffset(df: DataFrame): DataFrame = {
      def optInt(kw: String): Option[Int] =
        if (p.isKw(kw)) {
          p.next()
          p.next() match {
            case TNum(v, _, _) => Some(v.toInt)
            case t => sys.error(s"expected integer after $kw, got $t")
          }
        } else None
      val lim = optInt("limit")
      val off = optInt("offset").map(o => df.offset(o)).getOrElse(df)
      lim.map(off.limit).getOrElse(off)
    }
    // [EXACT] CARDINALITY suffix (reference influxql/parser.go:1455-1464:
    // the modifier follows the object word, before ON/FROM/WITH).
    def exactCard(): Option[Boolean] =
      if (p.isKw("exact")) {
        p.next(); p.expectIdent("cardinality"); Some(true)
      } else if (p.isKw("cardinality")) { p.next(); Some(false) }
      else None
    p.next() match {
      case TIdent(k) if k.equalsIgnoreCase("measurements") &&
          p.isKw("detail") =>
        // SHOW MEASUREMENTS DETAIL (statement_executor.go:1506): one
        // "Detail" row group per measurement — RETENTION POLICY, INDEX,
        // SHARD KEY, ENGINE TYPE, TAG KEYS, FIELD KEYS — flattened here
        // with a leading measurement column (the reference shapes per-
        // measurement series; the library output is one frame)
        p.next()
        val rows = catalog.toSeq.sortBy(_._1).flatMap { case (name, m) =>
          def nil(s: String) = if (s.isEmpty) "<nil>" else s
          val fields = m.df.columns
            .filterNot(c => m.tags.contains(c) || c == m.time ||
              c == "ts_ns" || c == "time" || c.startsWith("__"))
          Seq(
            (name, "RETENTION POLICY: autogen"),
            (name, "INDEX: <nil>"),
            (name, "SHARD KEY: <nil>"),
            (name, "ENGINE TYPE: tsstore"),
            (name, "TAG KEYS: " + nil(m.tags.sorted.mkString(", "))),
            (name, "FIELD KEYS: " + nil(fields.sorted.mkString(", "))))
        }
        rows.toDF("measurement", "Detail")
      case TIdent(k) if k.equalsIgnoreCase("measurements") =>
        // WITH MEASUREMENT =~ /re/ | = name (parser.go
        // parseShowMeasurementsStatement), then LIMIT/OFFSET paging
        val names = catalog.keys.toSeq.sorted
        val filtered =
          if (p.isKw("with")) {
            p.next(); p.expectIdent("measurement")
            p.next() match {
              case TOp("=~") => p.next() match {
                case TRegex(r) =>
                  val rx = r.r
                  names.filter(rx.findFirstIn(_).isDefined)
                case t => sys.error(s"expected /regex/, got $t")
              }
              case TOp("=") => p.next() match {
                case TIdent(s) => names.filter(_ == s)
                case TStr(s) => names.filter(_ == s)
                case t => sys.error(s"expected measurement name, got $t")
              }
              case t => sys.error(s"expected = or =~, got $t")
            }
          } else names
        limitOffset(filtered.toDF("name"))
      case TIdent(k) if k.equalsIgnoreCase("measurement") =>
        exactCard().getOrElse(sys.error("expected CARDINALITY"))
        Seq(catalog.size.toLong).toDF("count")
      // single-database model: the catalog IS one implicit database with
      // one default retention policy — client libraries probe these two
      // statements on connect (handler.go serveQuery → SHOW DATABASES),
      // so they answer with that model's constants
      case TIdent(k) if k.equalsIgnoreCase("databases") =>
        Seq("graft").toDF("name")
      case TIdent(k) if k.equalsIgnoreCase("retention") =>
        p.expectIdent("policies")
        Seq(("autogen", "0s", "168h0m0s", 1L, true))
          .toDF("name", "duration", "shardGroupDuration", "replicaN",
            "default")
      // ops probes: the engine is storage-agnostic (no shards, no auth,
      // no query registry), so these answer with the reference's exact
      // column sets and zero rows — clients see "none" rather than a
      // parse error (statement_executor.go:1674,2119,2127,1446)
      case TIdent(k) if k.equalsIgnoreCase("queries") =>
        Seq.empty[(Long, String, String, String, String, String)]
          .toDF("qid", "query", "database", "duration", "status", "host")
      case TIdent(k) if k.equalsIgnoreCase("users") =>
        Seq.empty[(String, Boolean, Boolean)]
          .toDF("user", "admin", "rwuser")
      case TIdent(k) if k.equalsIgnoreCase("grants") =>
        p.expectIdent("for")
        p.next() // user name
        Seq.empty[(String, String)].toDF("database", "privilege")
      case TIdent(k) if k.equalsIgnoreCase("shard") =>
        p.expectIdent("groups")
        Seq.empty[(Long, String, String, String, String, String)]
          .toDF("id", "database", "retention_policy", "start_time",
            "end_time", "expiry_time")
      case TIdent(k) if k.equalsIgnoreCase("shards") =>
        Seq.empty[(Long, String, String, Long, String, String, String,
            String)]
          .toDF("id", "database", "retention_policy", "shard_group",
            "start_time", "end_time", "expiry_time", "owners")
      case TIdent(k) if k.equalsIgnoreCase("subscriptions") =>
        Seq.empty[(String, String, String, String)]
          .toDF("retention_policy", "name", "mode", "destinations")
      case TIdent(k) if k.equalsIgnoreCase("continuous") =>
        p.expectIdent("queries")
        Seq.empty[(String, String)].toDF("name", "query")
      case TIdent(k) if k.equalsIgnoreCase("streams") =>
        // meta/data.go:3918 ShowStreams column set
        Seq.empty[(String, String, String, String, String, String,
            String, String, String, String)]
          .toDF("database", "retention", "measurement", "Name",
            "source measurement", "dimensions", "calls", "interval",
            "delay", "condition")
      case TIdent(k) if k.equalsIgnoreCase("downsamples") =>
        // meta/data.go:3827 ShowDownSamplePolicies column set
        Seq.empty[(String, String, String, String, String)]
          .toDF("rpName", "field_operator", "duration", "sampleInterval",
            "timeInterval")
      case TIdent(k) if k.equalsIgnoreCase("configs") =>
        // statement_executor.go:2561 executeShowConfigs column set
        Seq(("sql", "localhost", "logging.level", "info"))
          .toDF("component", "instance", "name", "value")
      case TIdent(k) if k.equalsIgnoreCase("stats") ||
          k.equalsIgnoreCase("diagnostics") =>
        Seq(("engine", "spark"),
            ("sparkVersion", spark.version),
            ("measurements", catalog.size.toString))
          .toDF("name", "value")
      case TIdent(k) if k.equalsIgnoreCase("cluster") =>
        Seq((1L, "data", "alive")).toDF("id", "role", "status")
      case TIdent(k) if k.equalsIgnoreCase("tag") => p.next() match {
        case TIdent(kk) if kk.equalsIgnoreCase("keys") ||
            kk.equalsIgnoreCase("key") ||
            kk.equalsIgnoreCase("values") =>
          // SHOW TAG KEYS / TAG KEY [EXACT] CARDINALITY / TAG VALUES
          // [[EXACT] CARDINALITY] — one output SERIES per measurement
          // (__series_name), measurements from FROM m | FROM /re/ |
          // every measurement; missing/no-match FROM → no series
          // (server_test.go ShowTagKeys/ShowTagValues families)
          val values = kk.equalsIgnoreCase("values")
          val card = exactCard()
          val msts: Seq[(String, Measurement)] =
            if (p.isKw("from")) {
              p.next()
              p.next() match {
                case TIdent(s0) =>
                  catalog.get(s0).map(s0 -> _).toSeq
                case TRegex(re0) =>
                  val re = re0.r
                  catalog.toSeq.filter { case (n, _) =>
                    re.findFirstIn(n).isDefined }
                case t => sys.error(s"expected measurement, got $t")
              }
            } else catalog.toSeq
          // WITH KEY = k | =~ /re/ | IN (k1, k2) (values only)
          var keySel: String => Boolean = _ => true
          if (values) {
            p.expectIdent("with"); p.expectIdent("key")
            p.next() match {
              case TOp("=") => p.next() match {
                case TIdent(s0) => keySel = _ == s0
                case TStr(s0) => keySel = _ == s0
                case TPunct("~") => sys.error("bad WITH KEY")
                case t => sys.error(s"expected tag key, got $t")
              }
              case TOp("=~") => p.next() match {
                case TRegex(re0) =>
                  val re = re0.r
                  keySel = k0 => re.findFirstIn(k0).isDefined
                case t => sys.error(s"expected /regex/, got $t")
              }
              case TIdent(in0) if in0.equalsIgnoreCase("in") =>
                p.expect("(")
                var ks = Set.empty[String]
                var more = true
                while (more) {
                  p.next() match {
                    case TIdent(s0) => ks += s0
                    case TStr(s0) => ks += s0
                    case t => sys.error(s"expected tag key, got $t")
                  }
                  if (p.peek == TPunct(",")) p.next() else more = false
                }
                p.expect(")")
                keySel = ks.contains
              case t => sys.error(s"expected '=', got $t")
            }
          }
          val where: Option[WExpr] =
            if (p.isKw("where")) { p.next(); Some(p.parseWhereStandalone()) }
            else None
          // CARDINALITY rejects time predicates — the reference's exact
          // message regardless of the EXACT flag (coordinator/
          // statement_executor.go TAG KEY EXACT CARDINALITY guard)
          def hasTime(w: WExpr): Boolean = w match {
            case WCond(c) => c.field.equalsIgnoreCase("time")
            case WAnd(l, r) => hasTime(l) || hasTime(r)
            case WOr(l, r) => hasTime(l) || hasTime(r)
            case _ => false
          }
          if (card.isDefined && where.exists(hasTime))
            throw new StatementError(if (values)
              "SHOW TAG VALUES EXACT CARDINALITY doesn't support time in WHERE clause"
            else
              "SHOW TAG KEY EXACT CARDINALITY doesn't support time in WHERE clause")
          // trailing `order by value asc|desc` — values are emitted in
          // (key, value) order already; parse and honor direction
          var desc = false
          if (p.isKw("order")) {
            p.next(); p.expectIdent("by"); p.next()
            if (p.isKw("asc")) p.next()
            else if (p.isKw("desc")) { p.next(); desc = true }
          }
          def optInt2(kw: String): Option[Int] =
            if (p.isKw(kw)) {
              p.next()
              p.next() match {
                case TNum(v, _, _) => Some(v.toInt)
                case t => sys.error(s"expected integer after $kw, got $t")
              }
            } else None
          val lim = optInt2("limit")
          val off = optInt2("offset").getOrElse(0)
          val parts: Seq[DataFrame] = msts.sortBy(_._1).map { case (n0, m) =>
            val src = where.map(w => m.df.filter(
              manageCond(m, w, System.currentTimeMillis()))).getOrElse(m.df)
            if (!values) {
              // TAG KEYS / TAG KEY CARDINALITY: schema metadata; a WHERE
              // narrows to keys with values among the MATCHING rows
              // (ShowTagKeysWithCondition drops the "others" tag), and
              // LIMIT/OFFSET page the per-measurement key list
              val keys0 = m.tags.sorted
              val keys =
                if (where.isEmpty || keys0.isEmpty) keys0
                else {
                  val counts = src.agg(
                    count(col(keys0.head)).as(keys0.head),
                    keys0.tail.map(k0 => count(col(k0)).as(k0)): _*)
                    .collect()(0)
                  keys0.zipWithIndex.filter { case (_, i0) =>
                    counts.getLong(i0) > 0 }.map(_._1)
                }
              val paged = keys.drop(off)
              val limited = lim.map(paged.take).getOrElse(paged)
              if (card.isDefined)
                Seq((n0, keys.size.toLong)).toDF("__series_name", "count")
              else if (limited.isEmpty)
                Seq.empty[(String, String)].toDF("__series_name", "tagKey")
              else limited.map(n0 -> _).toDF("__series_name", "tagKey")
            } else {
              val keys = m.tags.filter(keySel).sorted
              if (keys.isEmpty) {
                if (card.isDefined)
                  Seq.empty[(String, Long)].toDF("__series_name", "count")
                else Seq.empty[(String, String, String)]
                  .toDF("__series_name", "key", "value")
              } else if (card.contains(false)) {
                // estimated tier: HLL++ sketches (approx_count_distinct)
                // — partial sketches merge map-side, the exchange
                // carries one sketch per partition instead of the raw
                // key set (the whole point of the estimated tier; the
                // reference's SHOW … CARDINALITY serves HLL the same
                // way, meta cardinality sketches)
                src.agg(
                  keys.map(k0 => approx_count_distinct(col(k0)))
                    .reduce(_ + _).as("count"))
                  .select(lit(n0).as("__series_name"), col("count"))
              } else {
                val pairs = keys.map(k0 =>
                  src.filter(col(k0).isNotNull)
                    .select(lit(n0).as("__series_name"),
                      lit(k0).as("key"), col(k0).cast("string").as("value"))
                    .distinct()).reduce(_ unionByName _)
                // single-response SHOW contract: profile-following total
                // order (single-task only on the small profile; tag-value
                // cardinality is data-dependent, scale keeps range sort)
                val ordered = graft.ExecProfile.boundedSort(pairs,
                  if (desc) col("key").desc else col("key").asc,
                  if (desc) col("value").desc else col("value").asc)
                if (card.isDefined)
                  ordered.groupBy(col("__series_name"))
                    .agg(count(lit(1)).as("count"))
                else {
                  // LIMIT/OFFSET apply per measurement-series
                  val o2 = ordered.offset(off)
                  lim.map(o2.limit).getOrElse(o2)
                }
              }
            }
          }
          val unioned =
            if (parts.isEmpty) {
              if (card.isDefined)
                Seq.empty[(String, Long)].toDF("__series_name", "count")
              else if (values)
                Seq.empty[(String, String, String)]
                  .toDF("__series_name", "key", "value")
              else Seq.empty[(String, String)]
                .toDF("__series_name", "tagKey")
            } else parts.reduce(_ unionByName _)
          // cardinality series drop when 0 (no rows contributed)
          if (card.isDefined && values) unioned.filter(col("count") > 0)
          else unioned
        case t => sys.error(s"bad SHOW TAG: $t")
      }
      case TIdent(k) if k.equalsIgnoreCase("field") => p.next() match {
        case TIdent(kk) if kk.equalsIgnoreCase("keys") ||
            kk.equalsIgnoreCase("key") =>
          // SHOW FIELD KEYS / FIELD KEY [EXACT] CARDINALITY — one series
          // per measurement, FROM m | /re/ | every measurement
          val card =
            if (kk.equalsIgnoreCase("key"))
              Some(exactCard().getOrElse(
                sys.error("expected CARDINALITY")))
            else { exactCard(); None }
          val msts: Seq[(String, Measurement)] =
            if (p.isKw("from")) {
              p.next()
              p.next() match {
                case TIdent(s0) => catalog.get(s0).map(s0 -> _).toSeq
                case TRegex(re0) =>
                  val re = re0.r
                  catalog.toSeq.filter { case (n0, _) =>
                    re.findFirstIn(n0).isDefined }
                case t => sys.error(s"expected measurement, got $t")
              }
            } else catalog.toSeq
          val parts = msts.sortBy(_._1).map { case (n0, m) =>
            if (card.isDefined) {
              val n1 = m.df.schema.fields.count(f =>
                !m.tags.contains(f.name) && f.name != m.time &&
                  f.name != "time" && !f.name.startsWith("__"))
              Seq((n0, n1.toLong)).toDF("__series_name", "count")
            } else
              graft.operators.Meta.showFieldKeys(m.df, m.tags,
                  Seq(m.time, "time"))
                .withColumn("__series_name", lit(n0))
          }
          if (parts.isEmpty) {
            if (card.isDefined)
              Seq.empty[(String, Long)].toDF("__series_name", "count")
            else Seq.empty[(String, String, String)]
              .toDF("fieldKey", "fieldType", "__series_name")
          } else parts.reduce(_ unionByName _)
        case t => sys.error(s"bad SHOW FIELD: $t")
      }
      case TIdent(k) if k.equalsIgnoreCase("series") =>
        // SHOW SERIES [[EXACT] CARDINALITY] [FROM m|/re/] [WHERE …]:
        // keys pool into ONE unnamed series; EXACT CARDINALITY emits a
        // per-measurement count; plain CARDINALITY emits the Monday-
        // aligned shard-group window with the pooled count
        // (server_test.go ShowSeries: startTime 2009-11-09, a Monday)
        val card = exactCard()
        val msts: Seq[(String, Measurement)] =
          if (p.isKw("from")) {
            p.next()
            p.next() match {
              case TIdent(s0) => catalog.get(s0).map(s0 -> _).toSeq
              case TRegex(re0) =>
                val re = re0.r
                catalog.toSeq.filter { case (n0, _) =>
                  re.findFirstIn(n0).isDefined }
              case t => sys.error(s"expected measurement, got $t")
            }
          } else catalog.toSeq
        val where: Option[WExpr] =
          if (p.isKw("where")) { p.next(); Some(p.parseWhereStandalone()) }
          else None
        def rowsOf(n0: String, m: Measurement): DataFrame = {
          val src = where.map(w => m.df.filter(
            manageCond(m, w, System.currentTimeMillis())))
            .getOrElse(m.df)
          graft.operators.Meta.showSeries(src, m.tags)
            .select(concat(lit(n0),
              when(col("series_key") === "", lit("")).otherwise(
                concat(lit(","), col("series_key")))).as("key"))
            .distinct()
        }
        card match {
          case Some(true) =>
            val parts = msts.sortBy(_._1).map { case (n0, m) =>
              rowsOf(n0, m).agg(count(lit(1)).as("count"))
                .select(lit(n0).as("__series_name"), col("count"))
            }
            if (parts.isEmpty)
              Seq.empty[(String, Long)].toDF("__series_name", "count")
            else parts.reduce(_ unionByName _).filter(col("count") > 0)
          case Some(false) =>
            // pooled count inside the (Monday-aligned) 1-week shard
            // group covering the data — estimated tier, so the series
            // keys aggregate as HLL++ sketches (no raw-key shuffle)
            val total = msts.map { case (n0, m) =>
              val src = where.map(w => m.df.filter(
                manageCond(m, w, System.currentTimeMillis())))
                .getOrElse(m.df)
              graft.operators.Meta.showSeries(src, m.tags)
                .agg(approx_count_distinct(col("series_key")))
                .collect()(0).getLong(0) }.sum
            val tMin = msts.map { case (_, m) =>
              m.df.agg(min(unix_millis(col(m.time)))).collect()(0) }
              .collect { case r0 if !r0.isNullAt(0) => r0.getLong(0) }
            if (tMin.isEmpty || total == 0)
              Seq.empty[(String, String, Long)]
                .toDF("startTime", "endTime", "count")
            else {
              val weekMs = 7L * 86400000L
              val mondayOff = 4L * 86400000L // epoch Thu + 4d = Mon
              val lo = Math.floorDiv(tMin.min - mondayOff, weekMs) *
                weekMs + mondayOff
              def iso(ms: Long) =
                java.time.format.DateTimeFormatter.ISO_INSTANT.format(
                  java.time.Instant.ofEpochMilli(ms))
              Seq(("", iso(lo), iso(lo + weekMs), total))
                .toDF("__series_name", "startTime", "endTime", "count")
            }
          case None =>
            val parts = msts.sortBy(_._1).map { case (n0, m) =>
              rowsOf(n0, m) }
            if (parts.isEmpty) Seq.empty[String].toDF("key")
            else limitOffset(
              // single-response SHOW contract (profile-following order)
              graft.ExecProfile.boundedSort(
                parts.reduce(_ unionByName _), col("key")))
              .withColumn("__series_name", lit(""))
        }
      case t => sys.error(s"unsupported SHOW: $t")
    }
  }

  /** Marker for catalogs whose `get` authoritatively resolves
    * qualified `db.rp.m` spellings (the gateway's database view): it
    * disables [[lookupMeasurement]]'s single-database bare-name
    * fallback, so an unknown database/retention policy in a qualified
    * ref FAILS instead of silently routing to the bare measurement. */
  trait QualifiedResolver

  /** Resolve a FROM spelling against the catalog: the full (possibly
    * `db.rp.m`-qualified) name first — a database-aware catalog view
    * (the gateway's) routes it — then the bare final segment, the
    * single-database fallback where db/rp are routing-only. */
  def lookupMeasurement(catalog: Map[String, Measurement],
                        name: String): Option[Measurement] =
    catalog.get(name).orElse {
      if (catalog.isInstanceOf[QualifiedResolver]) None
      else {
        val bare = name.substring(name.lastIndexOf('.') + 1)
        if (bare != name) catalog.get(bare) else None
      }
    }

  /** compare(field, offsetSeconds[, offsetSeconds2]): period-over-period
    * comparison. The reference rewrites the statement into one
    * time-shifted subquery per offset (`influxql/ast.go:3934`
    * RewriteCompare / BuildCompareStatement: arm i+1 selects
    * time ∈ [min−k, max−k] and its result times are shifted back onto
    * the current axis — ResetTimeForCompare,
    * `executor/materialize_transform.go:1409` — with the output carrying
    * field1…fieldN plus field1/fieldi ratio columns). Here each arm runs
    * the SAME query over a catalog whose time axis is shifted FORWARD by
    * its offset: the unchanged WHERE then selects exactly the reference's
    * shifted range, and results land on the current axis already aligned
    * to the current-axis buckets (the groupOffset the reference adds back
    * in buildCompareTimeDimension comes free). Arms full-outer-join on
    * (time, tags) — a bucket with no history row keeps the current value
    * and null history, like the reference's merged sources. Scale note:
    * the shifted-axis filter compares `ts + INTERVAL k`, a function of
    * the column, and so does not reach parquet row-group stats; a
    * deployment would push the equivalent [min−k, max−k] bounds
    * instead — each arm is otherwise
    * the same single scan+agg as the un-compared query. */
  private def compileCompare(catalog: Map[String, Measurement], q: Query,
                             c: PCall): DataFrame = {
    require(q.projs.size == 1, "compare must be the only projection")
    require(q.offset == 0 && q.slimit.isEmpty,
      "OFFSET/SLIMIT with compare is not supported")
    val offs = (c.extra.toSeq ++ c.extra2.toSeq ++ c.extra3.toSeq)
      .map(_.toLong)
    if (offs.isEmpty)
      throw new StatementError("invalid number of arguments for " +
        "compare, expected more than one arguments, got 1")
    if (q.intervalNs.isDefined && q.fromSub.isEmpty)
      sys.error("compare over a raw measurement with GROUP BY time: " +
        "aggregate in a subquery (FROM (SELECT … GROUP BY time(…))) and " +
        "compare its field")
    val field = c.field
    // WHERE range start in ns — the compare bucket-grid anchor. The
    // reference re-anchors each arm's time(d) at the clamped range
    // start: time(d, (min−off) % d) (buildCompareTimeDimension,
    // influxql/ast.go:4064). On our shifted-catalog arms that anchor is
    // the SAME for every arm — min % d on the current axis.
    def whereLoNs(w: WExpr): Option[Long] = w match {
      case WCond(cd) if cd.field.equalsIgnoreCase("time") =>
        val vNs = cd.v match {
          case CInt(l) => Some(l)
          case CNum(v) => Some(v.toLong)
          case CStr(s) => Some(parseTimeUtcNs(s))
          case CDur(nsv) => Some(nsv)
          case _ => None
        }
        cd.op match {
          case ">=" => vNs
          case ">" => vNs.map(_ + 1L)
          case _ => None
        }
      case WAnd(l, r) =>
        (whereLoNs(l), whereLoNs(r)) match {
          case (Some(a), Some(b)) => Some(math.max(a, b))
          case (a, b) => a.orElse(b)
        }
      case _ => None
    }
    val bucketNs = q.intervalNs
    val gridOffNs: Option[Long] = (for {
      d <- bucketNs
      lo <- q.where.flatMap(whereLoNs)
    } yield java.lang.Math.floorMod(lo, d)).filter(_ != 0L)
    // each arm replays the reference's rewritten subquery: the OUTER
    // statement's dimensions replace the inner's (sq.Dimensions =
    // cloneDimensions(s), ast.go:4017 — a dimensionless outer compares
    // global aggregates even over a bucketed inner), inner fill forced
    // to none (sq.Fill = NoFill, ast.go:4016), and buckets anchored at
    // the range start
    val armQ = q.copy(projs = Seq(PField(field)), limit = None,
      offset = 0, slimit = None, orderDesc = false, fill = FillNone,
      intervalOffsetNs = q.intervalOffsetNs.orElse(gridOffNs),
      fromSub = q.fromSub.map(s => s.copy(fill = FillNone,
        groupTags = q.groupTags, exceptTags = q.exceptTags,
        intervalNs = q.intervalNs,
        intervalOffsetNs = s.intervalOffsetNs.orElse(gridOffNs))))
    val offsets = 0L +: offs
    // Single-pass fast path: with NO time predicate (nothing outside the
    // scanned window to bring in) and every offset a multiple of the
    // bucket width (bucket(t)+k ≡ bucket(t+k)), arm i is EXACTLY the base
    // result with its time axis shifted +k — aggregate ONCE, shift the
    // output. The arms' underlying exchanges are identical, so physical
    // planning reuses one scan+aggregation (ReuseExchange); at 100 TB
    // this is the difference between 1 and N corpus scans. A time-bounded
    // compare genuinely needs per-arm windows ([min−k, max−k] contains
    // rows the base window excludes) and takes the shifted-catalog path.
    def hasTimeCond(w: WExpr): Boolean = w match {
      case WCond(cd) => cd.field.equalsIgnoreCase("time")
      case WAnd(l, r) => hasTimeCond(l) || hasTimeCond(r)
      case WOr(l, r) => hasTimeCond(l) || hasTimeCond(r)
      case WCmp(_, _, _) => true // conservative: expression comparisons
      case _: WIn => true        // and subquery membership may bind time
    }
    val singlePass =
      !q.where.exists(hasTimeCond) &&
      !q.fromSub.exists(_.where.exists(hasTimeCond)) &&
      bucketNs.forall(d => offs.forall(k => (k * 1000000000L) % d == 0L))
    // internal columns (the ns axis, order hints) would poison the
    // arm-join keys — the compare axis is the ms bucket axis
    def clean(df: DataFrame): DataFrame = {
      val internal = df.columns.filter(_.startsWith("__"))
      if (internal.nonEmpty) df.drop(internal.toIndexedSeq: _*) else df
    }
    val arms =
      if (singlePass) {
        val base = clean(compileQuery(catalog, armQ))
        offsets.zipWithIndex.map { case (k, i) =>
          base.withColumn("time", col("time") + lit(k * 1000L))
            .withColumnRenamed(field, s"$field${i + 1}")
        }
      } else offsets.zipWithIndex.map { case (k, i) =>
        // shift LAZILY through a delegating view: eagerly .map-ing the
        // catalog would flatten the gateway's CatalogView to its base
        // slice and lose qualified db.rp.m resolution
        // (Compare_Functions "FROM db0.rp0.mst")
        def shiftM(mm: Measurement): Measurement = {
          val s0 = mm.df.withColumn(mm.time,
            col(mm.time) + expr(s"INTERVAL $k SECOND"))
          // line-protocol tables also carry the raw ns `time` column
          val s1 =
            if (mm.time != "time" && mm.df.columns.contains("time"))
              s0.withColumn("time", col("time") + lit(k * 1000000000L))
            else s0
          mm.copy(df = s1, extentMs = mm.extentMs.map {
            case (a, b) => (a + k * 1000L, b + k * 1000L) })
        }
        class ShiftView(u: Map[String, Measurement])
            extends scala.collection.immutable.AbstractMap[
              String, Measurement] {
          override def get(n: String): Option[Measurement] =
            u.get(n).map(shiftM)
          override def iterator: Iterator[(String, Measurement)] =
            u.iterator.map { case (n, mm) => n -> shiftM(mm) }
          override def removed(n: String): Map[String, Measurement] =
            new ShiftView(u - n)
          override def updated[V1 >: Measurement](
              n: String, v: V1): Map[String, V1] =
            iterator.toMap.updated(n, v)
          override def size: Int = u.size
        }
        val cat2 =
          if (k == 0L) catalog
          else if (catalog.isInstanceOf[QualifiedResolver])
            new ShiftView(catalog) with QualifiedResolver
          else new ShiftView(catalog)
        clean(compileQuery(cat2, armQ))
          .withColumnRenamed(field, s"$field${i + 1}")
      }
    val f1 = s"${field}1"
    // InfluxQL division: x / 0 is 0, not an error and not null
    // (influxql ast.go binary eval; Compare_Functions::10 PV2=0)
    val ratios = offsets.indices.drop(1).map { i =>
      val num = col(s"`$f1`").cast("double")
      val den = col(s"`$field${i + 1}`").cast("double")
      when(num.isNull || den.isNull, lit(null).cast("double"))
        .when(den =!= 0.0, num / den)
        .otherwise(lit(0.0))
        .as(s"$f1/$field${i + 1}")
    }
    val anyArmNotNull = offsets.indices.map(i =>
      col(s"`$field${i + 1}`").isNotNull).reduce(_ || _)
    // Reference Align with NO dimensions and NO interval collapses the
    // whole merged arm stream to ONE row: stamped at the stream's first
    // time, each arm column taking its first non-null value in time
    // order (align_transform.go:228 "no group, only one row left after
    // aligning"; GetAlignValue scans to the first non-null). A global-
    // aggregate compare emits one row per arm anyway, so this path
    // serves every dimensionless compare — including raw-field compare
    // over interleaved series (Compare_Functions::1), where the join
    // form would emit the full window.
    if (q.groupTags.isEmpty && q.intervalNs.isEmpty) {
      val oneRows = arms.zipWithIndex.map { case (a, i) =>
        val v = s"$field${i + 1}"
        a.filter(col(s"`$v`").isNotNull)
          .agg(min(col("time")).as(s"__t$i"),
            expr(s"min_by(`$v`, time)").as(v))
      }
      // 1-row global aggregates (a frame with no input still yields its
      // one all-null row, so the cross join never annihilates)
      val merged = oneRows.reduceLeft(_.crossJoin(_))
      val firstTime = least(offsets.indices.map(i => col(s"__t$i")): _*)
      var out0 = merged
        .withColumn("time", firstTime)
        .filter(anyArmNotNull)
        .select((col("time") +:
          (offsets.indices.map(i => col(s"$field${i + 1}")) ++ ratios)): _*)
      q.limit.foreach(n => out0 = out0.limit(n))
      return out0
    }
    val keys = arms.head.columns.filterNot(_ == f1).toSeq
    // NULL-SAFE key equality: a missing GROUP BY tag is the empty
    // series (null) and must line up across arms — plain using-columns
    // join semantics would orphan every null-tagged row
    // (Compare_Functions::7 country:"" series)
    var jidx = 0
    def jn(a: DataFrame, b: DataFrame): DataFrame = {
      jidx += 1
      // explicit per-join aliases: the single-pass arms share one base
      // plan, so unaliased attribute refs are ambiguous self-joins
      val (la, rb) = (s"_cmp_l$jidx", s"_cmp_r$jidx")
      val a2 = a.alias(la); val b2 = b.alias(rb)
      def ac(c2: String) = col(s"$la.`$c2`")
      def bc(c2: String) = col(s"$rb.`$c2`")
      val cond = keys.map(k2 => ac(k2) <=> bc(k2)).reduce(_ && _)
      val fA = a.columns.filterNot(keys.contains)
      val fB = b.columns.filterNot(keys.contains)
      a2.join(b2, cond, "full_outer").select(
        (keys.map(k2 => coalesce(ac(k2), bc(k2)).as(k2)) ++
          fA.map(c2 => ac(c2).as(c2)) ++
          fB.map(c2 => bc(c2).as(c2))): _*)
    }
    val joined = arms.reduceLeft(jn)
    var out = joined
      // a row where EVERY arm is null is not emitted (blank-row rule
      // over the merged arms — Compare_Functions::7 drops the series
      // that only exist in other buckets)
      .filter(anyArmNotNull)
      .select((keys.map(col) ++
        offsets.indices.map(i => col(s"$field${i + 1}")) ++ ratios): _*)
      // compare() output is GROUP-BY-time bucketed (spine-bounded) —
      // profile-following order, same rule as the statement emission
      .transform(graft.ExecProfile.boundedSort(_,
        if (q.orderDesc) col("time").desc else col("time").asc))
    q.limit.foreach(n => out = out.limit(n))
    out
  }

  /** `col` that backtick-escapes dotted names — qualified-ref columns
    * (`t1.f`) are literal attribute names, not struct access. */
  private def fieldCol(name: String): Column =
    if (name.contains(".")) col(s"`$name`") else col(name)

  /** Statement nesting depth of the current compileQuery call (thread-
    * local: statements compile on the calling thread). Depth 1 = the
    * top-level statement, whose emission sort is the one the client
    * consumes; deeper frames are subquery/union-arm inners whose sorts
    * the optimizer elides under outer operators (EliminateSorts) — a
    * single-partition emission there would instead pin a real exchange
    * into the middle of the plan, so only depth 1 ever takes it. */
  private val emitDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** `qIn` compiled; `sorted = false` skips its emission sort (an
    * inner whose consumer reads it as a set). */
  private def compileQuery(catalog: Map[String, Measurement],
                           qIn: Query, sorted: Boolean = true): DataFrame = {
    emitDepth.set(emitDepth.get + 1)
    try compileQueryInner(catalog, qIn, sorted)
    finally emitDepth.set(emitDepth.get - 1)
  }

  /** Aggregates whose result does not depend on their input's row
    * order (selectors pick by value, then time). */
  private val OrderFreeAggs =
    Set("count", "sum", "mean", "min", "max", "spread", "stddev", "median")

  private def compileQueryInner(catalog: Map[String, Measurement],
                                qIn: Query, sorted: Boolean): DataFrame = {
    // a FROM-subquery alias qualifies refs to the inner's bare columns
    // (`SELECT count(t2.additional) FROM (…) AS t2`,
    // Push_Down_Rule_Incondition) — strip the qualifier up front; joins
    // keep qualified refs (they resolve per side)
    val q: Query = qIn.fromAlias match {
      case Some(a) if qIn.join.isEmpty && qIn.fromSub.isDefined =>
        def unq(f: String): String =
          if (f.length > a.length + 1 && f.charAt(a.length) == '.' &&
              f.substring(0, a.length).equalsIgnoreCase(a))
            f.substring(a.length + 1)
          else f
        def unqE(e: Expr): Expr = e match {
          case EField(f) => EField(unq(f))
          case EBin(op, l, r) => EBin(op, unqE(l), unqE(r))
          case EMath(fn, as) => EMath(fn, as.map(unqE))
          case ECast(x, t) => ECast(unqE(x), t)
          case ECall(c) => ECall(unqC(c))
          case other => other
        }
        def unqC(c: PCall): PCall =
          c.copy(field = unq(c.field), argExpr = c.argExpr.map(unqE))
        def unqW(w: WExpr): WExpr = w match {
          case WCond(c) => WCond(c.copy(field = unq(c.field)))
          case WAnd(l, r) => WAnd(unqW(l), unqW(r))
          case WOr(l, r) => WOr(unqW(l), unqW(r))
          case WIn(f, s, n) => WIn(unq(f), s, n)
          case WCmp(l, op, r) => WCmp(unqE(l), op, unqE(r))
        }
        qIn.copy(
          projs = qIn.projs.map {
            case PField(f) => PField(unq(f))
            case c: PCall => unqC(c)
            case p2: PAnalytic => p2.copy(inner = unqC(p2.inner))
            case PExpr(e, al) => PExpr(unqE(e), al)
            case other => other
          },
          where = qIn.where.map(unqW),
          groupTags = qIn.groupTags.map(unq))
      case _ => qIn
    }
    q.projs.collectFirst { case c: PCall if c.fn == "compare" => c } match {
      case Some(c) => return compileCompare(catalog, q, c)
      case None =>
    }
    // FROM (SELECT …): compile the inner query, re-derive a timestamp view
    // from its epoch-ms time column, inherit its group tags.
    // FROM /regex/ = sort-append across matching measurements (reference
    // buildSortAppendQueryPlan, select.go:316) — a unionByName here.
    def resolveOne(fromStr: String): Seq[Measurement] =
      if (fromStr.startsWith("/")) {
        val re = fromStr.substring(1, fromStr.length - 1).r
        val hits = catalog.filter { case (k, _) => re.findFirstIn(k).isDefined }
        require(hits.nonEmpty, s"no measurement matches $fromStr")
        hits.values.toSeq
      } else Seq(lookupMeasurement(catalog, fromStr).getOrElse(
        // statement-level, the reference's exact text
        // (errno HttpUnknownMeasurement → "measurement not found";
        // e2e Where_Fields "missing measurement with group by")
        throw new StatementError("measurement not found")))
    // the OUTER time range propagates INTO subqueries (influxdb
    // subquery semantics: the inner statement evaluates under the
    // outer's bounds — Subqueries "SELECT mean(usage) FROM (…) WHERE
    // time >= …" bounds and stamps the inner aggregate)
    def pushTime(sub: Query): Query = {
      def timeConds(w: WExpr): Seq[WExpr] = w match {
        case WCond(c) if c.field.equalsIgnoreCase("time") => Seq(WCond(c))
        case WAnd(l, r) => timeConds(l) ++ timeConds(r)
        case _ => Nil
      }
      val outer = q.where.toSeq.flatMap(timeConds)
      if (outer.isEmpty) sub
      else {
        val merged = (sub.where.toSeq ++ outer).reduce(WAnd.apply)
        sub.copy(where = Some(merged))
      }
    }
    // an explicit inner ORDER BY direction differing from the outer's is
    // a compile error (query/compile.go subquery sort validation; e2e
    // TSSubQueryHasDifferentAscending)
    (q.fromSub.toSeq ++ q.fromSubMore).foreach { s0 =>
      if (s0.orderExplicit && s0.orderDesc != q.orderDesc)
        throw new StatementError("subqueries must be ordered in the " +
          "same direction as the query itself")
    }
    // tags the OUTER statement references (GROUP BY, join keys) flow
    // implicitly through a subquery that doesn't project them — the
    // reference's subquery schema propagates tags (SubQuery_Top_Min
    // groups the inner top() by country; FullJoin joins f1-only
    // subqueries on tk1). Carried as companion projections, which only
    // raw and selector-class inners admit.
    def carryTags(sub: Query, wanted0: Seq[String]): Query = {
      val wanted = wanted0.filterNot(_ == "*").distinct
      if (wanted.isEmpty) return sub
      val selectorFns = Set("top", "bottom", "max", "min", "first",
        "last", "percentile", "sample")
      def fnsOf(e: Expr): Seq[String] = e match {
        case ECall(c2) => Seq(c2.fn)
        case EBin(_, l, r) => fnsOf(l) ++ fnsOf(r)
        case EMath(_, as) => as.flatMap(fnsOf)
        case ECast(x, _) => fnsOf(x)
        case _ => Nil
      }
      val fns = sub.projs.flatMap {
        case c2: PCall => Seq(c2.fn)
        case a: PAnalytic => Seq(a.fn)
        case PExpr(e, _) => fnsOf(e)
        case _ => Nil
      }
      val innerTags = sourceTags(catalog, sub)
      val add = wanted.filter(innerTags.contains)
        .filterNot(sub.groupTags.contains)
      if (add.isEmpty) sub
      else if (fns.isEmpty) {
        // raw inner: the tags carry as companion columns
        if (sub.projs.exists(p => p == PStar || p == PStarTag)) sub
        else {
          val have = sub.projs.collect {
            case PField(f) => f
            case PExpr(EField(f), _) => f
          }.toSet
          val add2 = add.filterNot(have.contains)
          if (add2.isEmpty) sub
          else sub.copy(projs = sub.projs ++ add2.map(PField.apply))
        }
      } else if (fns.forall(selectorFns.contains) ||
          sub.groupTags.isEmpty) {
        // call-bearing inner: outer dimensions push INTO the subquery —
        // the inner runs per outer group (SubQuery_Top_Min: top(age,2)
        // evaluates per country)
        sub.copy(groupTags = (sub.groupTags ++ add).distinct)
      } else sub
    }
    val outerWanted: Seq[String] =
      q.groupTags ++ (q.join.toSeq ++ q.joinMore).flatMap(_.onTags)
    // an outer that only aggregates, with functions that do not read
    // input order, consumes its subqueries as a set: their emission sort
    // (and the range sampler's job it costs) would buy nothing
    val subsAsSet = q.projs.nonEmpty && q.join.isEmpty && q.projs.forall {
      case c: PCall => OrderFreeAggs(c.fn) && c.argExpr.isEmpty
      case _ => false
    }
    val m =
      if (q.fromSub.isDefined) {
        val subs = (q.fromSub.get +: q.fromSubMore)
          .map(s0 => carryTags(pushTime(s0), outerWanted))
        val parts = subs.map { sub =>
          val inner0 = compileQuery(catalog, sub, sorted = !subsAsSet)
          // pin the single inner's emission order for same-ns ties
          // (multi-sub appends keep the value-ascending interleave —
          // Constant_Column exp)
          val inner =
            if (q.fromSubMore.isEmpty && !subsAsSet)
              inner0.withColumn("__sord", monotonically_increasing_id())
            else inner0
          // the subquery's output keeps a source tag AS a tag when it
          // projects it (SELECT * / grouped) — see [[sourceTags]]
          val subTags = (resolveTags(catalog, sub) ++
            sourceTags(catalog, sub).filter(inner.columns.contains))
            .distinct
          (inner, subTags)
        }
        // FROM (s1), (s2), … sort-appends like FROM m1, m2. The inner
        // result's exact ns axis (__tns) keeps sub-ms tie order through
        // the subquery when present (CTE_Query row-order exp)
        val inner = parts.map(_._1)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val ts0 =
          if (inner.columns.contains("__tns"))
            timestamp_micros((col("__tns") / 1000L).cast("long"))
          else timestamp_millis(col("time"))
        Measurement(inner.withColumn("__ts", ts0),
          parts.flatMap(_._2).distinct, "__ts")
      } else (q.from +: q.fromMore).flatMap(resolveOne).reduce { (a, b) =>
        Measurement(a.df.unionByName(b.df, allowMissingColumns = true),
          (a.tags ++ b.tags).distinct, a.time)
      }
    var df = m.df

    // JOIN: tag-equality join of two measurements or subqueries;
    // colliding field names from the right side get a _<alias> suffix
    // (reference exposes m2.field — suffixing is the USING-form
    // equivalent, and `t2.f` qualified refs resolve onto it below).
    val joinClauses = q.join.toSeq ++ q.joinMore
    val mJoined: Option[(Measurement, Seq[String], String)] =
      if (joinClauses.isEmpty) None
      else {
        val joinFields = scala.collection.mutable.ArrayBuffer.empty[String]
        // qualified projections for EVERY column of each side — the
        // join's output contract: `SELECT *` over a join emits
        // `<name-or-alias>.<column>` for tags AND fields (Cascading_
        // Join_Table ungrouped star), except ON keys that are also
        // GROUP BY tags (they render as the series tag —
        // server_test.go:14029 grouped star has no table1.tk)
        val allOn = joinClauses.flatMap(_.onTags).toSet
        // which of a side's tags render as SERIES TAGS (not qualified
        // columns): a measurement side's grouped ON keys (Cascading
        // grouped star has no table1.tk) and a GROUPED subquery side's
        // own group tags (Join_Table_With_Empty_Tag exp has no
        // m1.t1/m1.t2); an UNGROUPED raw subquery side keeps every tag
        // as a qualified column (fullJoin_SubQuery exp m1.bgpType …)
        def sideCols(cols: Seq[String], time: String,
                     sideSub: Option[Query] = None): Seq[String] = {
          val tagOnly: Set[String] = sideSub match {
            case Some(s0) =>
              resolveTags(catalog, s0).toSet
                .intersect(q.groupTags.toSet)
            case None => allOn.filter(q.groupTags.contains)
          }
          cols.filterNot(c => c == time || c == "time" ||
            c.startsWith("__") || tagOnly.contains(c))
        }
        val lDotted0 = q.fromAlias.orElse(q.fromBare).getOrElse(q.from)
        var acc: Measurement = m
        var accName = lDotted0
        var first = true
        // right-only sentinel depth: a row join N could not match sorts
        // after every earlier join's rows AND their leftovers
        // (Cascading outer-chain exp order)
        var ordLvl = 2
        joinClauses.foreach { j =>
          val r = j.rightSub match {
            case Some(sub0) =>
              // (SELECT…) AS t2 — compile the inner query; its epoch-ms
              // `time` column is the right time axis. Tags follow the
              // same carry-through rule as FROM subqueries (sourceTags),
              // join keys the inner doesn't project carry implicitly
              val sub = carryTags(sub0, outerWanted)
              val inner = compileQuery(catalog, sub)
                .withColumn("__sord", monotonically_increasing_id())
              val subTags = (resolveTags(catalog, sub) ++
                sourceTags(catalog, sub)
                  .filter(inner.columns.contains)).distinct
              Measurement(inner, subTags, "time")
            case None => lookupMeasurement(catalog, j.right).getOrElse(
              sys.error(s"unknown join measurement ${j.right}"))
          }
          val suffix = j.rightAlias.getOrElse(j.right)
          val rDotted = j.rightAlias.getOrElse(
            j.right.split('.').last match {
              case "" => j.right; case b => b })
          val collisions = acc.df.columns.toSet
            .intersect(r.df.columns.toSet) -- j.onTags - r.time
          // the right side keeps ITS OWN key columns (an unmatched
          // left-join row renders the right key as null — HashJoin_Table
          // left-outer exp) and time axis; rows carry their source
          // order for the tie sort
          val rkOf = j.onTags.map(t => t -> s"__rk_${t}_$suffix").toMap
          // row order within the join output is (time, tags) per SIDE,
          // left-major: HashJoin_Table orders equal-time left rows by
          // tag; unmatched left rows interleave by their own (time, tag);
          // right matches order by the right row's (time, tag). One
          // zero-padded lexicographic string key per side, concatenated
          // left-to-right, replicates the reference's merge order.
          def sideKey(d: DataFrame, tc: String,
                      tags: Seq[String]): Column = {
            // ns-exact when the side carries the LP ns axis — sub-µs
            // neighbors keep time order (Multi_Table_Join exp orders
            // the …000/…001 pair)
            val t0 =
              if (d.columns.contains("__tns")) col("__tns").cast("long")
              else if (tc != "time" && d.columns.contains("time") &&
                  d.schema("time").dataType ==
                    org.apache.spark.sql.types.LongType)
                col("time")
              else d.schema(tc).dataType match {
                case org.apache.spark.sql.types.LongType |
                     org.apache.spark.sql.types.IntegerType =>
                  col(tc).cast("long") * 1000L
                case _ => unix_micros(col(tc))
              }
            concat(((lpad(t0.cast("string"), 20, "0") +:
              tags.filter(d.columns.contains)
                .map(c0 => coalesce(col(c0), lit("")))) ++
              // a subquery side's own emission rank breaks exact ties
              // (Multi_Table_Join: the inner join's sub-ns order
              // survives into the outer merge)
              (if (d.columns.contains("__sord"))
                 Seq(lpad(coalesce(col("__sord").cast("string"),
                   lit("")), 20, "0"))
               else Nil)): _*)
          }
          val ldf0 =
            if (acc.df.columns.contains("__ord")) acc.df
            else acc.df.withColumn("__ord",
              sideKey(acc.df, acc.time, acc.tags))
          // left-presence marker: null exactly on right-only rows
          val ldf = ldf0.withColumn("__lp", lit(true))
          val rdf0 = collisions.foldLeft(
            r.df.withColumn("__rord", sideKey(r.df, r.time, r.tags))
              .withColumnRenamed(r.time, "__rts"))((d, c) =>
            d.withColumnRenamed(c, s"${c}_$suffix"))
          val rdf1 = rkOf.foldLeft(rdf0) {
            case (d, (t, rk)) => d.withColumnRenamed(t, rk) }
          // an ON key qualified with the FIRST left source binds that
          // side's ORIGINAL column (__lk_<t> from the earlier join) —
          // null on rows it didn't match, so a chained join on it
          // matches nothing (Cascading right-then-inner exp drops the
          // right-only rows)
          val cond = j.onTags.zipWithIndex.map { case (t, i) =>
            val qual = j.onQuals.lift(i).getOrElse("")
            val lcol =
              if (qual == lDotted0 &&
                  ldf.columns.contains(s"__lk_$t")) s"__lk_$t"
              else t
            // a missing tag IS the empty-string series: two sides with
            // the tag absent join each other
            // (Join_Table_With_Empty_Tag exp pairs the ""-t1 rows)
            coalesce(col(lcol).cast("string"), lit("")) ===
              coalesce(col(rkOf(t)).cast("string"), lit(""))
          }.reduce(_ && _)
          var joined = ldf.join(rdf1, cond, j.joinType)
          // time axes may be TIMESTAMP (measurements) or epoch-ms LONG
          // (subquery results) — normalize to TIMESTAMP for the unified
          // axis. RIGHT joins take the right side's time (HashJoin_Table
          // right-outer rows carry network_metrics' timestamps); row
          // order stays left-major join order.
          import org.apache.spark.sql.types.{LongType, IntegerType}
          val lTs =
            if (acc.df.schema(acc.time).dataType == LongType ||
                acc.df.schema(acc.time).dataType == IntegerType)
              timestamp_millis(col(acc.time))
            else col(acc.time)
          val rTs =
            if (r.df.schema(r.time).dataType == LongType ||
                r.df.schema(r.time).dataType == IntegerType)
              timestamp_millis(col("__rts"))
            else col("__rts")
          joined = joined
            .withColumn("__jts0",
              if (j.joinType == "right_outer") coalesce(rTs, lTs)
              else coalesce(lTs, rTs))
          // the exact ns axis follows the unified time: a side-only row
          // falls back to the other side's ns (or the unified axis) so
          // the rendered time never nulls out
          // (Join_Table_With_Empty_Tag right-join exp keeps the time)
          if (joined.columns.contains("__tns")) {
            val rtns =
              if (joined.columns.contains(s"__tns_$suffix"))
                Seq(col(s"__tns_$suffix"))
              else Nil
            val pick =
              if (j.joinType == "right_outer") rtns :+ col("__tns")
              else col("__tns") +: rtns
            joined = joined.withColumn("__tns",
                coalesce((pick :+
                  unix_micros(col("__jts0")) * 1000L): _*))
              .drop(s"__tns_$suffix")
          }
          // preserve the left's own key value for qualified projection
          // BEFORE merging (unmatched-left rows render it null)
          j.onTags.foreach { t =>
            joined = joined.withColumn(s"__lk_$t", col(t))
              .withColumn(t, coalesce(col(t), col(rkOf(t))))
          }
          joined = joined.drop("__rts")
          if (acc.time.startsWith("__jts")) joined = joined.drop(acc.time)
          joined = joined.withColumnRenamed("__jts0", "__jts")
          // a CHAINED right/full join emits right-major (Cascading
          // "…cascading rightjoin" exp orders by the last side first);
          // first joins and chained inner/left stay left-major
          val chained = joined.columns.contains("__ord") &&
            !first && j.joinType == "right_outer"
          joined = joined.withColumn("__ord",
              if (chained)
                concat(coalesce(col("__rord"), lit("\uffff")),
                  coalesce(col("__ord"), lit("\uffff")))
              // a row the CHAIN's new join couldn't match sorts after
              // every earlier join's rows, including the earlier joins'
              // own right-only leftovers (double sentinel \u2014 Cascading
              // outer-chain exp emits table2's leftover before
              // table3's)
              else concat(coalesce(col("__ord"), lit("\uffff" * ordLvl)),
                coalesce(col("__rord"), lit(""))))
            .drop("__rord")
          // unified ns axis when both sides carry the LP epoch-ns column
          if (joined.columns.contains("time") &&
              joined.columns.contains(s"time_$suffix"))
            joined = joined.withColumn("time",
              if (j.joinType == "right_outer")
                coalesce(col(s"time_$suffix"), col("time"))
              else coalesce(col("time"), col(s"time_$suffix")))
          // `t1.f` qualified refs over the joined sides
          q.qualRefs.foreach { case (a, f) =>
            val actual =
              if (a == lDotted0) Some(f)
              else if (a == suffix)
                Some(if (collisions.contains(f)) s"${f}_$suffix" else f)
              else None
            actual.filter(joined.columns.contains).foreach { c =>
              joined = joined.withColumn(s"$a.$f",
                if (c.contains(".")) col(s"`$c`") else col(c))
            }
          }
          def qcolJ(c: String) =
            if (c.contains(".")) col(s"`$c`") else col(c)
          if (first) {
            sideCols(m.df.columns.toSeq, m.time,
                sideSub = q.fromSub).foreach { f =>
              val src =
                if (j.onTags.contains(f)) s"__lk_$f" else f
              if (joined.columns.contains(src)) {
                joined = joined.withColumn(s"$lDotted0.$f", qcolJ(src))
                joinFields += s"$lDotted0.$f"
              }
            }
            first = false
          }
          sideCols(r.df.columns.toSeq, r.time,
              sideSub = j.rightSub).foreach { f =>
            // ON keys project from the right's OWN column (null on
            // unmatched rows); collisions from their suffixed rename
            val actual =
              if (j.onTags.contains(f)) rkOf(f)
              else if (collisions.contains(f)) s"${f}_$suffix"
              else f
            if (joined.columns.contains(actual)) {
              joined = joined.withColumn(s"$rDotted.$f", qcolJ(actual))
              joinFields += s"$rDotted.$f"
            }
          }
          // the reference's FULL join renders the missing side as Go
          // zero values, not null (server_test.go:14029 full-join rows
          // carry 0 where left/right outer carry null)
          if (j.zeroFill) {
            import org.apache.spark.sql.types._
            joinFields.foreach { fq =>
              val zero: Option[Column] =
                joined.schema(fq).dataType match {
                  case _: NumericType => Some(lit(0))
                  case BooleanType => Some(lit(false))
                  case StringType => Some(lit(""))
                  case _ => None
                }
              zero.foreach(z => joined = joined.withColumn(fq,
                coalesce(col(s"`$fq`"), z)))
            }
          }
          // non-ON tags BOTH sides share feed the series key from the
          // LEFT while the left row exists (a matched row with the tag
          // absent keys ""), and from the right only on right-only rows
          // (empty-tag exp {"t1":"a","t2":""} matched vs
          // {"t1":"d","t2":"e"} right-only). Runs AFTER the qualified
          // side projections so `<side>.<t>` keeps each side's value.
          collisions.filter(c2 => acc.tags.contains(c2) &&
              r.tags.contains(c2)).foreach { t =>
            joined = joined.withColumn(t,
              when(col("__lp").isNotNull, col(t))
                .otherwise(col(s"${t}_$suffix")))
          }
          joined = joined.drop("__lp")
          ordLvl += 1
          acc = Measurement(joined, (acc.tags ++ r.tags).distinct, "__jts")
          accName = s"$accName,$rDotted"
        }
        Some((acc, joinFields.toSeq, accName))
      }
    mJoined.foreach { case (jm, _, _) => df = jm.df }
    val mEff = mJoined.map(_._1).getOrElse(m)
    // `SELECT *` over a join selects the qualified field set
    val joinStarFields: Seq[String] =
      mJoined.map(_._2).getOrElse(Nil)

    // WHERE — tag/field/time predicates push straight into the scan.
    /** Materialize an expression; `/` follows InfluxQL semantics — any
      * division yields float (reference binary eval ast.go:2736). */
    def evalExpr(e: Expr, resolve: PCall => Column): Column = e match {
      case ENum(v, intg, lv) =>
        if (intg) lit(lv.getOrElse(v.toLong)) else lit(v)
      case EField(f) => fieldCol(f)
      case EStr(sv) => lit(sv)
      case ECast(e0, typ) =>
        val sparkT = typ match {
          case "integer" | "unsigned" => "long"
          case "float" => "double"
          case "string" => "string"
          case "boolean" => "boolean"
        }
        evalExpr(e0, resolve).cast(sparkT)
      case ECall(c) => resolve(c)
      case EBin('+', l, r) => evalExpr(l, resolve) + evalExpr(r, resolve)
      case EBin('-', l, r) => evalExpr(l, resolve) - evalExpr(r, resolve)
      case EBin('*', l, r) => evalExpr(l, resolve) * evalExpr(r, resolve)
      case EBin('/', l, r) =>
        // InfluxQL division: float result; x / 0 is 0, not an ANSI
        // error and not null (influxql ast.go binary eval)
        val lv = evalExpr(l, resolve).cast("double")
        val rv = evalExpr(r, resolve).cast("double")
        when(lv.isNull || rv.isNull, lit(null).cast("double"))
          .when(rv =!= 0.0, lv / rv)
          .otherwise(lit(0.0))
      case EBin(op, _, _) => sys.error(s"unsupported operator $op")
      case EMath(fn, args) if scalarFnNames.contains(fn) =>
        scalarEval(fn, args, resolve)
      case EMath(fn, args) =>
        val a = args.map(x => evalExpr(x, resolve).cast("double"))
        def arity(n: Int): Unit =
          require(a.size == n, s"$fn expects $n args, got ${a.size}")
        fn match {
          case "abs" => arity(1); abs(a(0))
          case "sin" => arity(1); sin(a(0))
          case "cos" => arity(1); cos(a(0))
          case "tan" => arity(1); tan(a(0))
          case "asin" => arity(1); asin(a(0))
          case "acos" => arity(1); acos(a(0))
          case "atan" => arity(1); atan(a(0))
          case "atan2" => arity(2); atan2(a(0), a(1))
          case "exp" => arity(1); exp(a(0))
          case "ln" => arity(1); log(a(0))
          case "log2" => arity(1); log2(a(0))
          case "log10" => arity(1); log10(a(0))
          // InfluxQL log(x, b); a bare log(x) is natural log
          case "log" =>
            if (a.size == 2) log(a(0)) / log(a(1)) else { arity(1); log(a(0)) }
          case "sqrt" => arity(1); sqrt(a(0))
          case "pow" => arity(2); pow(a(0), a(1))
          case "floor" => arity(1); floor(a(0)).cast("double")
          case "ceil" => arity(1); ceil(a(0)).cast("double")
          case "round" => arity(1); round(a(0)).cast("double")
          case o => sys.error(s"unsupported math function $o")
        }
    }

    /** Scalar "materialize" calls with the reference's exact semantics
      * and compile-time contracts (string_functions.go CheckRules +
      * CallTypeFunc): argument-count and literal-type violations are
      * STATEMENT errors with the reference's messages; field-type
      * violations validate against the frame schema. */
    def scalarEval(fn: String, args: Seq[Expr],
                   resolve: PCall => Column): Column = {
      import org.apache.spark.sql.types._
      def aCol(i: Int) = evalExpr(args(i), resolve)
      // Go AST rendering for error messages (influxql node String())
      def render(e: Expr): String = e match {
        case EStr(s) => s"'$s'"
        case ENum(v, true, _) => v.toLong.toString
        case ENum(v, _, _) => v.toString
        case EField(f) => f
        case ECall(c) => s"${c.fn}(${c.field})"
        case _ => "<expr>"
      }
      def ordinal(n: Int): String = n match {
        case 1 => "1st"; case 2 => "2nd"; case 3 => "3rd"
        case _ => s"${n}th"
      }
      def argn(min: Int, max: Int): Unit =
        if (args.size < min || args.size > max)
          throw new StatementError(
            if (min == max)
              s"invalid number of arguments for $fn, expected $min, " +
                s"got ${args.size}"
            else s"invalid number of arguments for $fn, " +
              s"expected $min-$max, got ${args.size}")
      def strLit(i: Int): String = args(i) match {
        case EStr(s) => s
        case e => throw new StatementError("invalid argument type for " +
          s"the ${ordinal(i + 1)} argument in $fn(): ${render(e)}")
      }
      def intLit(i: Int): Long = args(i) match {
        case ENum(v, true, _) => v.toLong
        case e => throw new StatementError("invalid argument type for " +
          s"the ${ordinal(i + 1)} argument in $fn(): ${render(e)}")
      }
      def typeName(dt: DataType): String = dt match {
        case StringType => "string"
        case DoubleType | FloatType => "float"
        case LongType | IntegerType | ShortType | ByteType => "integer"
        case BooleanType => "boolean"
        case _ => "unknown"
      }
      def fieldType(e: Expr): Option[DataType] = e match {
        case EField(f) if df.columns.contains(f) =>
          Some(df.schema(f).dataType)
        case _ => None
      }
      // CallTypeFunc contract: the data argument must be a string field
      def requireString0(pos: String): Unit =
        fieldType(args.head).foreach {
          case StringType => ()
          case dt => throw new StatementError("invalid argument type " +
            s"for the $pos argument in $fn(): ${typeName(dt)}")
        }
      def jsonEscape(c: Column): Column =
        regexp_replace(regexp_replace(c.cast("string"),
          "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
      fn match {
        case "str" =>
          argn(2, 2); val sub = strLit(1); requireString0("first")
          aCol(0).contains(lit(sub))
        case "strlen" =>
          argn(1, 1); requireString0("first")
          octet_length(aCol(0)).cast("long")
        case "substr" =>
          // the reference's own arg-count message says "expected 1"
          // (subStrFunc.CompileFunc NARGS const) — preserved verbatim
          if (args.size < 2 || args.size > 3)
            throw new StatementError("invalid number of arguments for " +
              s"substr, expected 1, got ${args.size}")
          def nonNeg(i: Int): Long = args(i) match {
            case ENum(v, true, _) if v >= 0 => v.toLong
            case _ => throw new StatementError(
              "expected non-gegative integer argument in substr()")
          }
          val st = nonNeg(1)
          requireString0("first")
          if (args.size == 3)
            call_function("substring", aCol(0), lit(st + 1),
              lit(nonNeg(2)))
          else call_function("substring", aCol(0), lit(st + 1),
            lit(Int.MaxValue))
        case "position" | "strpos" =>
          argn(2, 2); val sub = strLit(1); requireString0("first")
          val idx = call_function("instr", aCol(0), lit(sub))
          if (fn == "strpos") idx.cast("string") else idx.cast("long")
        case "json_object" =>
          if (args.isEmpty || args.size % 2 != 0)
            throw new StatementError(
              "invalid number of arguments for json_object")
          val parts = args.grouped(2).map { case Seq(k, v) =>
            val key = k match {
              case EStr(s) => s
              case e => throw new StatementError(
                s"json key must be string in json_object(): ${render(e)}")
            }
            val c = evalExpr(v, resolve)
            // Go json.Marshal value rendering: floats shortest-form
            // (30.0 → 30), strings quoted+escaped, nulls INCLUDED
            val rendered = fieldType(v) match {
              case Some(StringType) => when(c.isNull, lit("null"))
                .otherwise(concat(lit("\""), jsonEscape(c), lit("\"")))
              case Some(DoubleType) | Some(FloatType) =>
                when(c.isNull, lit("null")).otherwise(
                  regexp_replace(c.cast("string"), "\\.0$", ""))
              case Some(_) =>
                when(c.isNull, lit("null")).otherwise(c.cast("string"))
              case None => v match {
                case EStr(s) => lit("\"" + s + "\"")
                case ENum(x, true, _) => lit(x.toLong.toString)
                case _ => when(c.isNull, lit("null")).otherwise(
                  regexp_replace(c.cast("string"), "\\.0$", ""))
              }
            }
            concat(lit("\"" + key + "\":"), rendered)
          }.toSeq
          concat(lit("{") +:
            parts.zipWithIndex.flatMap { case (p, i) =>
              if (i == 0) Seq(p) else Seq(lit(","), p) } :+ lit("}"): _*)
        case "ip_mask" =>
          argn(2, 3)
          args.head match {
            case EField(_) => ()
            case e => throw new StatementError("invalid argument type " +
              s"for the first argument in ip_mask(): ${render(e)}")
          }
          val a1 = intLit(1)
          val a2 = if (args.size == 3) intLit(2) else -1L
          val f = udf((ip: String) =>
            if (ip == null) null
            else graft.functions.GeminiFunctions.ipMaskV(ip, a1.toInt,
              a2.toInt))
          f(aCol(0))
        case "cast_int64" | "cast_float64" | "cast_bool" |
             "cast_string" =>
          if (args.size != 1)
            throw new StatementError("invalid number of arguments for " +
              s"$fn, expected 1, got ${args.size}")
          val c = aCol(0)
          fn match {
            case "cast_int64" => c.try_cast("long")
            case "cast_float64" => c.try_cast("double")
            case "cast_bool" =>
              val n = c.try_cast("double")
              when(c.isNull, lit(false))
                .when(n.isNotNull, n =!= 0.0)
                .otherwise(!lower(c.cast("string")).isin("0", ""))
            case _ => fieldType(args.head) match {
              // Go FormatFloat(-1): 13.0 renders "13"
              case Some(DoubleType) | Some(FloatType) =>
                regexp_replace(c.cast("string"), "\\.0$", "")
              case _ => c.cast("string")
            }
          }
        case other =>
          // remaining registry scalars: positional Spark builders
          graft.functions.GeminiFunctions.registry.get(other) match {
            case Some(b) => b(args.indices.map(aCol))
            case None => sys.error(s"unsupported function $other")
          }
      }
    }

    // ns-resolution time axis: LP-ingested frames carry the raw epoch-ns
    // `time` LONG next to the µs `ts` view (LineProtocol
    // .toMeasurementTable) — predicates and raw-row output use it so
    // sub-µs information survives end-to-end (ExactTimeRange,
    // Where_Fields full-ns expectations)
    val nsTime: Boolean = m.time == "ts" && df.columns.contains("time") &&
      df.schema("time").dataType == org.apache.spark.sql.types.LongType

    def condToCol(c: Cond): Column = {
      val isTime = c.field.equalsIgnoreCase("time")
      val lhs0 =
        if (isTime) col("time") // ns axis; the µs axis is timeOperands'
        // schema-on-read: an unknown WHERE field compares as null →
        // matches nothing (TagArray::2 "where f2=3" → bare statement)
        else if (!df.columns.contains(c.field) &&
                 !df.columns.exists(_.equalsIgnoreCase(c.field)))
          lit(null).cast("double")
        else fieldCol(c.field)
      // tags are STRINGS: a numeric/boolean literal never matches a tag
      // (the reference's typed compile — TagFilter golden "tag1=1" is a
      // bare statement); Spark's implicit cast would match '1' = 1
      val tagVsNonString = mEff.tags.contains(c.field) && (c.v match {
        case CInt(_) | CNum(_) | CBool(_) | CDur(_) | CNow(_) => !isTime
        case _ => false
      })
      if (tagVsNonString) return c.op match {
        case "!=" | "<>" => lit(true)
        case _ => lit(false)
      }
      val (lhs, rhs) =
        if (isTime && !nsTime)
          timeOperands(df, m.time, c.v, System.currentTimeMillis())
        else (lhs0, c.v match {
          case CInt(l) => lit(l)
          case CNum(v) => lit(v)
          case CStr(s) => if (isTime) lit(parseTimeUtcNs(s)) else lit(s)
          case CDur(ns) => if (nsTime) lit(ns) else lit(ns / 1000L)
          case CNow(deltaNs) =>
            if (nsTime)
              lit(System.currentTimeMillis() * 1000000L + deltaNs)
            else lit(System.currentTimeMillis() * 1000L + deltaNs / 1000L)
          case CBool(b) => lit(b)
          case CRegex(_) => lit(null)
        })
      (c.op, c.v) match {
        case ("=~", CRegex(r)) => lhs.rlike(r)
        case ("!~", CRegex(r)) => !lhs.rlike(r)
        case ("like", CStr(s)) => lhs.like(s)
        // full-text word match ≈ token containment; phrase = substring
        case ("match", CStr(s)) =>
          array_contains(split(lhs, "\\s+"), s)
        case ("matchphrase", CStr(s)) => lhs.contains(s)
        case ("=", _) => lhs === rhs
        case ("!=", _) | ("<>", _) => lhs =!= rhs
        case ("<", _) => lhs < rhs
        case ("<=", _) => lhs <= rhs
        case (">", _) => lhs > rhs
        case (">=", _) => lhs >= rhs
        case (op, _) => sys.error(s"unsupported op $op")
      }
    }
    def wexprToCol(w: WExpr): Column = w match {
      case WCond(c) => condToCol(c)
      case WCmp(l, op, r) =>
        def side(e: Expr): Column =
          evalExpr(e, _ => sys.error("aggregate calls not allowed in WHERE"))
        val (lc, rc) = (side(l), side(r))
        op match {
          case "=" => lc === rc
          case "!=" | "<>" => lc =!= rc
          case "<" => lc < rc
          case "<=" => lc <= rc
          case ">" => lc > rc
          case ">=" => lc >= rc
          case o => sys.error(s"unsupported WHERE op $o")
        }
      case WAnd(l, r) => wexprToCol(l) && wexprToCol(r)
      case WOr(l, r) => wexprToCol(l) || wexprToCol(r)
      case _: WIn => sys.error("IN subquery must be AND-connected")
    }
    // [NOT] IN (SELECT …) at AND-positions → semi/anti joins; the rest of
    // the tree stays a pushdown-friendly Column filter.
    def splitIn(w: WExpr): (Seq[WIn], Option[WExpr]) = w match {
      case i: WIn => (Seq(i), None)
      case WAnd(l, r) =>
        val (il, wl) = splitIn(l); val (ir, wr) = splitIn(r)
        (il ++ ir, (wl, wr) match {
          case (Some(a), Some(b)) => Some(WAnd(a, b))
          case (a, b) => a.orElse(b)
        })
      case other => (Nil, Some(other))
    }
    q.where.foreach { w =>
      val (ins, rest) = splitIn(w)
      rest.foreach(r => df = df.filter(wexprToCol(r)))
      // /*+ full_series */: the condition names the COMPLETE series
      // key — every source tag it does NOT mention must be absent
      // (Query_FullSeries "(host = 'server01')" matches only the
      // region-less server01 series)
      if (q.hints.contains("full_series")) {
        def mentioned(x: WExpr): Set[String] = x match {
          case WCond(c2) => Set(c2.field)
          case WAnd(l, r) => mentioned(l) ++ mentioned(r)
          case WOr(l, r) => mentioned(l) ++ mentioned(r)
          case _ => Set.empty
        }
        val named = mentioned(w)
        mEff.tags.filterNot(named.contains)
          .filter(df.columns.contains)
          .foreach(t => df = df.filter(col(t).isNull))
      }
      ins.foreach { i =>
        val sub = compileQuery(catalog, i.sub)
        val valueCol = sub.columns
          .filterNot(c => c == "time" || c.startsWith("__") ||
            i.sub.groupTags.contains(c))
          .headOption.getOrElse(sys.error("IN subquery projects no column"))
        val subDf = sub.select(col(valueCol).as("__in_v"))
          .filter(col("__in_v").isNotNull).distinct()
        // SQL [NOT] IN null rule: a null probe value matches nothing and
        // is excluded either way (the anti join would otherwise keep it)
        df = df.filter(col(i.field).isNotNull).join(subDf,
          col(i.field) === col("__in_v"),
          if (i.negated) "left_anti" else "left_semi")
      }
    }

    val rawGroupDims =
      (if (q.groupTags.contains("*")) mEff.tags else q.groupTags)
        .filterNot(q.exceptTags.contains)
    // only TAGS group: a dimension naming a non-string field (or
    // nothing) is an unknown tag — one group, rendered as the
    // empty-string tag value, while field refs keep seeing the field
    // (MergeMany "GROUP by field" exp tags {"value":""} with
    // count(value)=50). A STRING field dimension groups for real —
    // the reference's field-index dimensions (FieldIndex_Query exp
    // tags {"field_index":"127.0.0.1"}).
    val pseudoDims = rawGroupDims.filterNot(mEff.tags.contains)
      .filterNot(t => df.columns.find(_.equalsIgnoreCase(t)).exists(c =>
        df.schema(c).dataType ==
          org.apache.spark.sql.types.StringType))
    val groupTags = rawGroupDims.filterNot(pseudoDims.contains)

    // projection → aggregation ladder (select.go:654 order)
    def aggExprOf(p: PCall): Column = {
      // aggregate-over-expression (`mean(abs(v))`): materialize the
      // scalar expression as the aggregation input
      val f = p.argExpr
        .map(e => evalExpr(e,
          _ => sys.error("aggregate calls cannot nest")))
        .getOrElse(
          // schema-on-read: an unknown aggregate input is an all-null
          // column; the point-existence rule below then drops groups
          // with no points (Detect_Aggregate::1 → bare statement).
          // Resolution is case-insensitive like Spark's own (COUNT(TIME))
          if (p.field == "*") fieldCol(p.field)
          else df.columns.find(_.equalsIgnoreCase(p.field))
            .map(fieldCol).getOrElse(lit(null).cast("double")))
      if (p.argExpr.isDefined &&
          Set("median", "mode", "percentile").contains(p.fn))
        sys.error(s"${p.fn} over an expression is not supported")
      p.fn match {
        case "count" => if (p.field == "*") count(lit(1)) else count(f)
        // rate/irate/absent in aggregate position (openGemini extensions
        // over influxdb; engine/executor/agg_func.go RateUpdate /
        // IrateUpdate / AbsentReduce:253). rate = full-span per-second
        // delta; irate = last-two-points delta; absent = 1 iff the field
        // has any value in the group. Null field values don't exist as
        // points, so the selector keys null out with them (max_by/min_by
        // skip null-keyed rows; topk_rows rejects null sort keys).
        case "rate" =>
          // rate = Δv / (Δt / interval) — normalized to the GROUP BY
          // time() interval, defaulting to 1s ungridded
          // (RateFinalReduce agg_func.go:540); Δt == 0 → null (the
          // divide-by-zero null is the reference's isNil)
          val tsel = when(f.isNotNull, col(m.time))
          val tusSel = when(f.isNotNull, unix_micros(col(m.time)))
          val intUs = q.intervalNs.map(_ / 1000L).getOrElse(1000000L)
          // ANSI: Δt == 0 (1-point group) must yield null, not a
          // DIVIDE_BY_ZERO error
          when(max(tusSel) > min(tusSel),
            (max_by(f, tsel) - min_by(f, tsel)).cast("double") /
              ((max(tusSel) - min(tusSel)).cast("double") / intUs.toDouble))
        case "irate" =>
          // last two points' Δv/Δt on the same interval normalization
          // (IrateFinalReduce agg_func.go:555)
          graft.expressions.TopKRows.register(df.sparkSession)
          val pair = call_function("topk_rows",
            struct(when(f.isNotNull, unix_micros(col(m.time))).as("_t"),
              f.cast("double").as("_v")), lit(2), lit(1), lit("D"))
          def pt(i: Int, c: String) = element_at(pair, i).getField(c)
          val intUs = q.intervalNs.map(_ / 1000L).getOrElse(1000000L)
          // ANSI: a 1-point group has no second element — null, not
          // INVALID_ARRAY_INDEX; equal-ns pair → null, not div-by-zero
          when(size(pair) >= 2 && pt(1, "_t") =!= pt(2, "_t"),
            (pt(1, "_v") - pt(2, "_v")) /
              ((pt(1, "_t") - pt(2, "_t")).cast("double") / intUs.toDouble))
        case "absent" => when(count(f) > 0, lit(1L))
        case "integral" =>
          // trapezoid over the group's time-ordered points, unit seconds
          // (p.extra carries ns for integral(f, 1m)); the group's points
          // buffer exactly like the reference's whole-slice sort
          // (IntegralReduce call_processor.go:184)
          val unitUs = p.extra.map(_ / 1000.0).getOrElse(1e6)
          val pts = sort_array(collect_list(when(f.isNotNull,
            struct(unix_micros(col(m.time)).as("t"),
              f.cast("double").as("v")))))
          val nSeg = greatest(size(pts) - 1, lit(0))
          val seg = zip_with(slice(pts, lit(1), nSeg),
            slice(pts, lit(2), nSeg),
            (x, y) => (x("v") + y("v")) / lit(2.0) *
              ((y("t") - x("t")).cast("double") / lit(unitUs)))
          when(size(pts) > 1,
            aggregate(seg, lit(0.0), (acc, s2) => acc + s2))
        case "count_distinct" => countDistinct(f)
        case "sum" => sum(f)
        case "mean" => avg(f)
        case "min" => min(f)
        case "max" => max(f)
        // a null field value is "no point" for that field: first/last
        // pick among rows where f exists (IntMany_GroupBy "last time and
        // value with null" — last(value1) skips the null-value1 tail row);
        // max_by/min_by skip null keys, so nulling the key drops them
        case "first" => min_by(f, when(f.isNotNull, col(m.time)))
        case "last" => max_by(f, when(f.isNotNull, col(m.time)))
        case "spread" => max(f) - min(f)
        case "stddev" =>
          // the reference's exact float path: sqrt((Σv²/n − (Σv/n)²) ·
          // n/(n−1)) (NewStdDevReduce agg_func.go:660) — Spark's
          // stddev_samp uses central-moment merging whose rounding
          // differs in the last ulp; n == 1 → null via the 0 divisor
          val fd = f.cast("double")
          val n = count(fd).cast("double")
          // ANSI: n == 1 must yield null (reference golden
          // server_test.go:2232), not a DIVIDE_BY_ZERO error
          when(n > 1.0,
            sqrt((sum(fd * fd) / n - pow(sum(fd) / n, lit(2.0))) *
              n / (n - 1.0)))
        case "median" => expr(s"percentile(${p.field}, 0.5)")
        case "mode" =>
          // InfluxQL-exact tie rules (smallest-value quirk for distinct
          // columns, earliest-time for real ties, true-wins booleans) —
          // Spark's mode() can't express them (ModeAggregate.scala)
          graft.expressions.ModeExact.register(df.sparkSession)
          call_function("mode_exact",
            struct(f.as("_v"), unix_micros(col(m.time)).as("_t")))
        case "distinct" => countDistinct(f)
        case "percentile" =>
          // InfluxQL percentile is a sorted-index pick, NOT interpolated:
          // idx = clamp(floor(n·p/100 + 0.5) − 1, 0, n−1)
          // (agg_func.go:649 NewPercentileReduce). The group's values are
          // buffered exactly like the reference's whole-slice sort; the
          // sketch path (percentile_ogsketch) is the at-scale variant.
          val arr = sort_array(collect_list(f))
          val n = size(arr)
          val idx = greatest(lit(1), least(n, floor(
            n * lit(p.extra.getOrElse(50.0)) / 100.0 + 0.5).cast("int")))
          // ANSI: an all-null group collects an empty array — null,
          // not INVALID_ARRAY_INDEX
          when(n > 0, element_at(arr, idx))
        case "percentile_approx" =>
          // t-digest-family approximate percentile (`agg_functions.go:100`
          // PercentileApproxFunc, mergeCall) → Spark's approx_percentile,
          // the same partial/merge shape
          expr(s"approx_percentile(${p.field}, " +
            s"${p.extra.getOrElse(50.0) / 100})")
        case "regr_slope" =>
          // least-squares slope of value against its time-ordered row
          // INDEX (x = 0,1,2…, not the timestamp — `agg_func.go:151`
          // RegrSlopeReduce, registered sortedMergeCall). One group's
          // points sort into an array (like percentile/mode above); the
          // index sums Σx, Σx² have closed forms, Σy and Σxy fold over
          // the array with codegen'd higher-order functions.
          val vs = transform(
            sort_array(collect_list(when(f.isNotNull,
              struct(col(m.time).as("t"), f.cast("double").as("v"))))),
            x => x.getField("v"))
          val n = size(vs).cast("double")
          val sy = aggregate(vs, lit(0.0), (a, x) => a + x)
          val idx = transform(
            sequence(lit(0), greatest(size(vs) - 1, lit(0))),
            i => i.cast("double"))
          val sxy = aggregate(zip_with(vs, idx, (v, i) => v * i),
            lit(0.0), (a, x) => a + x)
          val sx = (n - lit(1.0)) * n / lit(2.0)
          val sx2 = (n - lit(1.0)) * n * (lit(2.0) * n - lit(1.0)) / lit(6.0)
          val den = n * sx2 - sx * sx
          when(size(vs) === 0, lit(null).cast("double"))
            .when(den === lit(0.0), lit(0.0))
            .otherwise((n * sxy - sx * sy) / den)
        case "ad_rmse_ext" =>
          // Anomaly-detect normalized RMSE between the series' first and
          // second halves (`engine/executor/agg_func.go:88`
          // ADRMseExtReduce, registered `query/agg_functions.go:287`
          // AGG_SLICE sortedMergeCall): sort by time, split at mid (odd
          // length drops the middle point), then
          // rmse(first, second) / max(1, min(mean(first), mean(second))).
          // Empty group → null; single point → 0. Same collect-sorted-
          // array + codegen'd fold substrate as regr_slope above.
          // string iterators are the reference's compile error; null
          // field values are not points (Detect_Aggregate::0/::2)
          if (p.argExpr.isEmpty && df.columns.contains(p.field) &&
              df.schema(p.field).dataType ==
                org.apache.spark.sql.types.StringType)
            throw new StatementError(
              "unsupported (ad_rmse_ext) iterator type: (string)")
          val avs = transform(
            sort_array(collect_list(when(f.isNotNull,
              struct(col(m.time).as("t"),
                f.cast("double").as("v"))))), x => x.getField("v"))
          val alen = size(avs)
          val mid = alen.divide(lit(2)).cast("int")
          val predH = slice(avs, lit(1), mid)
          val actH = slice(avs,
            mid + when(alen % 2 === 1, lit(2)).otherwise(lit(1)), mid)
          val sqsum = aggregate(
            zip_with(predH, actH, (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)
          val rmse = sqrt(sqsum / mid.cast("double"))
          val meanP = aggregate(predH, lit(0.0), (acc, x) => acc + x) /
            mid.cast("double")
          val meanA = aggregate(actH, lit(0.0), (acc, x) => acc + x) /
            mid.cast("double")
          val denom = greatest(lit(1.0), least(meanP, meanA))
          when(alen === 0, lit(null).cast("double"))
            .when(alen === 1, lit(0.0))
            .otherwise(rmse / denom)
        case "histogram" =>
          // Registered but DEAD in the reference: HistogramFunc exists in
          // the compile layer (`query/agg_functions.go:106`, arg rules
          // only) with NO executor routine (no histogram case anywhere in
          // engine/executor/call_processor.go), so a reference server
          // fails such queries at execution. Same user-visible outcome
          // here, with the reason spelled out.
          sys.error("histogram() has no execution routine in the " +
            "reference engine (compile-layer registration only); use " +
            "histogram_quantile() or percentile()/percentile_approx()")
        case other => sys.error(s"unsupported function $other")
      }
    }
    /** InfluxQL output naming: call name, duplicates get _1, _2…;
      * star-expanded calls carry a pinned `<fn>_<field>` alias. */
    def aliasNames(cs: Seq[PCall]): Seq[String] = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      cs.map { c =>
        c.alias.getOrElse {
          val k = seen.getOrElse(c.fn, 0); seen(c.fn) = k + 1
          if (k == 0) c.fn else s"${c.fn}_$k"
        }
      }
    }
    def aliased(cs: Seq[PCall]): Seq[Column] =
      cs.zip(aliasNames(cs)).map { case (c, n) => aggExprOf(c).as(n) }
    def aggFor(p: PCall): Column = aggExprOf(p).as(p.fn)

    /** `agg(*)` / analytic-over-star: expand per FIELD of the effective
      * source (tags and time excluded), in name order, one output column
      * `<fn>_<field>` each — the reference's wildcard rewrite
      * (query/ast.go RewriteFields; e2e server_test.go:4358
      * `count(*)` → count_v1..count_v4). Eligibility follows the
      * reference's column typing: count/first/last/mode/elapsed/absent/
      * distinct take every field, max/min also booleans but not strings,
      * arithmetic aggregates numerics only. */
    val expandedProjs: Seq[Proj] = {
      import org.apache.spark.sql.types._
      lazy val fieldsAll = df.columns
        .filterNot(c => c == m.time || c == "time")
        .filterNot(_.startsWith("__"))
        .filterNot(mEff.tags.contains)
        .filterNot(q.groupTags.contains).sorted.toSeq
      def isNum(f: String) = df.schema(f).dataType match {
        case _: NumericType => true
        case _ => false
      }
      def eligible(fn: String): Seq[String] = fn match {
        case "count" | "first" | "last" | "mode" | "elapsed" | "absent" |
             "distinct" | "sample" | "sliding_window" => fieldsAll
        case "max" | "min" =>
          fieldsAll.filter(f =>
            isNum(f) || df.schema(f).dataType == BooleanType)
        case _ => fieldsAll.filter(isNum)
      }
      q.projs.flatMap {
        // count(DISTINCT(f)) is a plain distinct-count, output name
        // `count` (ast.go rewrites the nested call)
        case a: PAnalytic if a.fn == "count" && a.inner.fn == "distinct" =>
          Seq(PCall("count_distinct", a.inner.field,
            alias = Some("count")))
        case c: PCall if c.field == "*" && c.fn != "count" =>
          // count(*) keeps its dedicated row-count path ONLY when the
          // source has no expandable fields (subquery re-aggregation)
          eligible(c.fn).map(f =>
            c.copy(field = f, alias = Some(s"${c.fn}_$f")))
        case c: PCall if c.field == "*" && eligible("count").nonEmpty =>
          eligible("count").map(f =>
            c.copy(field = f, alias = Some(s"count_$f")))
        case a: PAnalytic if a.inner.field == "*" =>
          val fs = eligible(a.fn).intersect(eligible(a.inner.fn))
          fs.map(f => a.copy(inner = a.inner.copy(field = f),
            alias = Some(s"${a.fn}_$f")))
        case p => Seq(p)
      }
    }
    val calls = expandedProjs.collect { case c: PCall => c }
    val plain = expandedProjs.collect { case PField(f) => f }
    val analytics = expandedProjs.collect { case a: PAnalytic => a }
    val exprs = expandedProjs.collect { case e: PExpr => e }

    def callsIn(e: Expr): Seq[PCall] = e match {
      case ECall(c) => Seq(c)
      case EBin(_, l, r) => callsIn(l) ++ callsIn(r)
      case EMath(_, args) => args.flatMap(callsIn)
      case ECast(e0, _) => callsIn(e0)
      case _ => Nil
    }
    val exprCalls = exprs.flatMap(p => callsIn(p.e))

    // top/bottom are pure selectors: nesting one under an analytic is
    // the reference's compile error (TopBottomInt
    // "holt_winters(TOP(value,2),…)" exp)
    analytics.find(a => a.inner.fn == "top" || a.inner.fn == "bottom")
      .foreach(a => throw new StatementError(
        s"selector function ${a.inner.fn}() cannot be combined with " +
          "other functions"))

    def applyAnalytic(b0: DataFrame, a: PAnalytic, src: String,
                      time: String): DataFrame = a.fn match {
      // a.n on the derivative family is a duration unit in ns
      // (derivative(f, 1s) — ast.go unit arg), default 1s
      case "derivative" => SeriesOps.derivative(b0, src, time, groupTags,
        unitSeconds = a.n.map(_ / 1e9).getOrElse(1.0))
      case "non_negative_derivative" =>
        SeriesOps.derivative(b0, src, time, groupTags,
            unitSeconds = a.n.map(_ / 1e9).getOrElse(1.0),
            nonNegative = true)
          .withColumnRenamed("derivative", "non_negative_derivative")
      case "elapsed" =>
        // elapsed(f[, unit]): Δtime between consecutive points of f's
        // series, integer units of `unit` (default 1ns) —
        // call_processor.go:166
        val tusC =
          if (b0.schema(time).dataType ==
              org.apache.spark.sql.types.TimestampType)
            unix_micros(col(time))
          else col(time).cast("long")
        val winE = Window.partitionBy(groupTags.map(col): _*)
          .orderBy(col(time))
        val unitNs = a.n.map(_.toLong).getOrElse(1L)
        b0.withColumn("elapsed",
            ((tusC - lag(tusC, 1).over(winE)) * lit(1000L) / lit(unitNs))
              .cast("long"))
          .filter(col("elapsed").isNotNull)
      case "difference" => SeriesOps.difference(b0, src, time, groupTags,
        direction = a.mode.getOrElse("behind"), descTime = q.orderDesc)
      case "non_negative_difference" =>
        SeriesOps.difference(b0, src, time, groupTags, nonNegative = true,
          direction = a.mode.getOrElse("behind"), descTime = q.orderDesc)
      case "moving_average" => SeriesOps.movingAverage(b0, src, time,
        groupTags, a.n.getOrElse(2.0).toInt, floatMath = true)
      case "cumulative_sum" =>
        SeriesOps.cumulativeSum(b0, src, time, groupTags, floatMath = true)
      // sequential-smoothing family (compile.go:441-445,810-816):
      // Smoothing.run rebuilds the frame (tags, _t µs, out), so these
      // must be the only analytic in the projection
      case fn if smoothingFnCol.contains(fn) =>
        require(analytics.size == 1,
          s"$fn cannot combine with other analytic calls")
        val n = a.n.getOrElse(10.0).toInt
        val sm = fn match {
          case "holt_winters" | "holt_winters_with_fit" =>
            // holt_winters(agg, N, S): N predicted points, S season length
            // (compile.go:447 compileHoltWinters; params grid-fitted like
            // the reference's Nelder-Mead fit)
            graft.operators.Smoothing.holtWintersFit(b0, src, time,
              groupTags, h = n, m = a.n2.getOrElse(0.0).toInt,
              withFit = fn == "holt_winters_with_fit",
              intervalUs = q.intervalNs.map(_ / 1000L).getOrElse(0L))
          case "exponential_moving_average" =>
            graft.operators.Smoothing.ema(b0, src, time, groupTags, n)
          case "double_exponential_moving_average" =>
            graft.operators.Smoothing.dema(b0, src, time, groupTags, n)
          case "triple_exponential_moving_average" =>
            graft.operators.Smoothing.tema(b0, src, time, groupTags, n)
          case "kaufmans_adaptive_moving_average" =>
            graft.operators.Smoothing.kama(b0, src, time, groupTags, n)
          case "kaufmans_efficiency_ratio" =>
            graft.operators.Smoothing.ker(b0, src, time, groupTags, n)
          case "triple_exponential_derivative" =>
            graft.operators.Smoothing.trix(b0, src, time, groupTags, n)
          case "relative_strength_index" =>
            graft.operators.Smoothing.rsi(b0, src, time, groupTags, n)
          case "chande_momentum_oscillator" =>
            graft.operators.Smoothing.cmo(b0, src, time, groupTags, n)
        }
        sm.withColumn("wstart_ms", expr("_t div 1000"))
          .withColumnRenamed(smoothingFnCol(fn), fn)
          .drop("_t")
      case other => sys.error(s"unsupported analytic $other")
    }

    // the column applyAnalytic leaves its result in (nn-difference
    // reuses the plain difference output column)
    def analyticOutCol(a: PAnalytic): String =
      if (a.fn == "non_negative_difference") "difference" else a.fn
    def analyticName(a: PAnalytic): String =
      a.alias.getOrElse(analyticOutCol(a))

    // Spine bounds for fill, best first: explicit WHERE time range (the
    // reference's fill spine covers the QUERY range — compile.go:1325;
    // e2e server_test.go:4358 emits empty buckets up to the WHERE upper
    // bound), else footer-stats extent. AND-connected time conds only;
    // OR trees get the in-plan data-derived spine. tz() shifts the
    // bucket axis, so absolute bounds don't apply there.
    def timeBoundsUs(w: WExpr): (Option[Long], Option[Long]) =
      w match {
        case WCond(c) if c.field.equalsIgnoreCase("time") =>
          val vUs: Option[Long] = c.v match {
            case CInt(l) => Some(Math.floorDiv(l, 1000L))
            case CNum(v) => Some((v / 1000.0).toLong)
            case CStr(s) => Some(parseTimeUtc(s))
            case CDur(nsv) => Some(nsv / 1000L)
            case CNow(d) =>
              Some(System.currentTimeMillis() * 1000L + d / 1000L)
            case _ => None
          }
          c.op match {
            case ">=" => (vUs, None)
            case ">" => (vUs.map(_ + 1), None)
            case "<=" => (None, vUs)
            case "<" => (None, vUs.map(_ - 1))
            case "=" => (vUs, vUs)
            case _ => (None, None)
          }
        case WAnd(l, r) =>
          val (ll, lh) = timeBoundsUs(l)
          val (rl, rh) = timeBoundsUs(r)
          ((ll ++ rl).reduceOption(_ max _),
            (lh ++ rh).reduceOption(_ min _))
        case _ => (None, None)
      }
    lazy val (whereLoUs, whereHiUs): (Option[Long], Option[Long]) =
      q.where.map(timeBoundsUs).getOrElse((None, None))
    lazy val spineBoundsMs: Option[(Long, Long)] =
      if (q.tz.isDefined) None
      else {
        val ext = if (q.where.isEmpty) m.extentMs else None
        val lo = whereLoUs.map(Math.floorDiv(_, 1000L)).orElse(ext.map(_._1))
        val hi = whereHiUs.map(Math.floorDiv(_, 1000L)).orElse(ext.map(_._2))
        for (l <- lo; h <- hi) yield (l, h)
      }
    // LIMIT folded into the spine: at most offset+n buckets survive the
    // statement, so the spine never materializes more (the reference's
    // fill iterator is lazy and stops the same way)
    lazy val spineLimitBuckets: Option[Long] =
      q.limit.map(n => (math.max(q.offset, 0) + n).toLong)
    /** Static spine bounds [lo, hiEx): grid-align, fold LIMIT, and
      * guard max-select-buckets — the reference ERRORS past the cap
      * when the statement carries a real time lower bound
      * (query/compile.go:1317-1335); data-extent-derived spines clamp
      * from the start instead (documented divergence: footer bounds
      * are an optimization, not user intent). */
    def staticSpineMs(bLo: Long, bHi: Long, step: Long,
                      foldLimit: Boolean = true): (Long, Long) = {
      val off = q.intervalOffsetNs.getOrElse(0L) / 1000000
      val lo0 = Math.floorDiv(bLo - off, step) * step + off
      val hiEx0 = Math.floorDiv(bHi - off, step) * step + off + step
      val (lo1, hiEx1) = spineLimitBuckets.filter(_ => foldLimit) match {
        case Some(k) if !q.orderDesc =>
          (lo0, math.min(hiEx0, lo0 + k * step))
        case Some(k) => (math.max(lo0, hiEx0 - k * step), hiEx0)
        case None => (lo0, hiEx0)
      }
      val buckets = (hiEx1 - lo1) / step
      if (buckets > 1000000L) {
        if (whereLoUs.isDefined)
          throw new StatementError(
            s"max-select-buckets limit exceeded: ($buckets/1000000)")
        else if (q.orderDesc) (hiEx1 - 1000000L * step, hiEx1)
        else (lo1, lo1 + 1000000L * step)
      } else (lo1, hiEx1)
    }

    var out: DataFrame =
      if (analytics.nonEmpty &&
          analytics.exists(_.fn == "sliding_window")) {
        // sliding_window(agg(f), n) over GROUP BY time(d)
        // (sliding_window_transform.go:60; server_test.go:3390): the
        // window at bucket position t aggregates the RAW points of the
        // n consecutive buckets [t, t+n·d) — one fan-out explode +
        // groupBy (WindowedAgg.slidingWindow), NOT an agg-of-bucket-aggs
        // (mean/spread would be wrong under re-aggregation). Window
        // starts span the query range clipped so the whole window fits:
        // [lo, hiEx − n·d], empty windows emit null rows per series.
        require(analytics.forall(_.fn == "sliding_window"),
          "sliding_window cannot mix with other analytic calls")
        val ns = q.intervalNs.getOrElse(throw new StatementError(
          "sliding_window requires GROUP BY time(d)"))
        val step = ns / 1000000
        val n = analytics.head.n.map(_.toLong).getOrElse(
          throw new StatementError(
            "sliding_window requires a window size argument"))
        require(n > 0, "sliding_window size must be positive")
        val aggsW = analytics.map(a =>
          aggExprOf(a.inner).as(analyticName(a)))
        // a missing tag IS the empty-string series in the reference
        // (tags are strings; absent = "") — coalesce so the window
        // groupBy, the spine join, and the rendered series all agree
        val dfT = groupTags.foldLeft(df)((d0, t) =>
          if (d0.columns.contains(t))
            d0.withColumn(t, coalesce(col(t).cast("string"), lit("")))
          else d0)
        val win = WindowedAgg.slidingWindow(dfT, m.time,
          s"${n * step} milliseconds", s"$step milliseconds",
          groupTags, aggsW)
        spineBoundsMs match {
          case Some((bLo, bHi)) =>
            val off = q.intervalOffsetNs.getOrElse(0L) / 1000000
            val lo = Math.floorDiv(bLo - off, step) * step + off
            val hiEx = Math.floorDiv(bHi - off, step) * step + off + step
            val lastStart = hiEx - n * step
            if (lastStart < lo) win.filter(lit(false))
            else {
              val series =
                if (groupTags.isEmpty) win.sparkSession.range(1).toDF()
                else win.select(groupTags.map(col): _*).distinct()
              val spine = series.withColumn("wstart_ms",
                explode(sequence(lit(lo), lit(lastStart), lit(step))))
                .select((groupTags :+ "wstart_ms").map(col): _*)
              spine.join(win, groupTags :+ "wstart_ms", "left_outer")
            }
          case None =>
            // no static bounds: emit the windows the data produced
            win
        }
      } else if (analytics.nonEmpty) {
        q.intervalNs match {
          case Some(ns) =>
            // agg → interval → analytic (the reference ladder order)
            val innerCalls = analytics.map(_.inner).distinct
            val innerNames = innerCalls.zip(aliasNames(innerCalls)).toMap
            val aggs = aliased(innerCalls)
            var b = WindowedAgg.timeBucket(df, m.time,
              s"${ns / 1000000} milliseconds", groupTags, aggs,
              offset = s"${q.intervalOffsetNs.getOrElse(0L) / 1000000} " +
                "milliseconds", tz = q.tz)
              .withColumn("_t_us", col("wstart_ms") * 1000)
            analytics.foreach { a =>
              b = applyAnalytic(b, a, innerNames(a.inner), "_t_us")
              a.alias.foreach(al =>
                b = b.withColumnRenamed(analyticOutCol(a), al))
            }
            b.drop("_t_us").drop(innerNames.values.toSeq: _*)
          case None =>
            // analytic over the raw per-series points. Each field is its
            // OWN series in the reference: null field values are not
            // points, so every analytic runs over its field's non-null
            // rows only, and multi-field (star-expanded) results merge
            // on (time, tags) — a row appears when ANY field produced a
            // value (server_test.go Null_Aggregate DIFFERENCE(*): age
            // diffs start at :01 even where height is null).
            val partsRaw = analytics.map { a =>
              // schema-on-read: an analytic over an unknown field has no
              // points — an EMPTY part, so the multi-part merge renders
              // its column null on every row (For_BugList exp
              // f1..f8 null next to ax=1.5)
              val withF =
                if (df.columns.contains(a.inner.field)) df
                else df.withColumn(a.inner.field,
                  lit(null).cast("double"))
              val src = withF.filter(fieldCol(a.inner.field).isNotNull)
              var b = src.withColumn("wstart_ms", unix_millis(col(m.time)))
              if (nsTime) b = b.withColumn("__tns", col("time"))
              // the merged multi-series stream emits ONE point per exact
              // ns per field — duplicates collapse to the first-written
              // (difference_derivative_time_duplicate golden; a dt == 0
              // pair would also divide-by-zero under ANSI)
              if (df.columns.contains(a.inner.field)) {
                // the pick is the FIRST-WRITTEN point: `__wo` (the LP
                // ingest write-order stamp) when present — physical row
                // order does not survive the catalog's merge shuffles
                def pick(c: Column) =
                  if (b.columns.contains("__wo")) min_by(c, col("__wo"))
                  else first(c)
                if (nsTime)
                  b = b.groupBy((col("__tns") +: groupTags.map(col)): _*)
                    .agg(pick(fieldCol(a.inner.field)).as(a.inner.field),
                      pick(col(m.time)).as(m.time),
                      pick(col("wstart_ms")).as("wstart_ms"))
                else
                  b = b.groupBy((col(m.time) +: groupTags.map(col)): _*)
                    .agg(pick(fieldCol(a.inner.field)).as(a.inner.field),
                      pick(col("wstart_ms")).as("wstart_ms"))
              }
              b = applyAnalytic(b, a, a.inner.field, m.time)
              a.alias.foreach(al =>
                b = b.withColumnRenamed(analyticOutCol(a), al))
              b
            }
            // not every analytic preserves the ns axis (the smoothing
            // family re-emits rows from a typed mapGroups on the µs
            // axis) — keep __tns only when every part still has it
            val haveTns = nsTime &&
              partsRaw.forall(_.columns.contains("__tns"))
            val parts = analytics.zip(partsRaw).map { case (a, b) =>
              val name = analyticName(a)
              b.select((col("wstart_ms") +:
                (if (haveTns) Seq(col("__tns")) else Nil)) ++
                groupTags.map(col) :+ col(name): _*)
            }
            val joinKeys = ("wstart_ms" +:
              (if (haveTns) Seq("__tns") else Nil)) ++ groupTags
            val merged0 =
              parts.reduce((x, y) => x.join(y, joinKeys, "full_outer"))
            // an aggregate call mixed into an analytic projection whose
            // field doesn't exist contributes a null column (For_BugList
            // `INTEGRAL(field2) as f9` over a field2-less measurement)
            calls.filterNot(c2 => df.columns.contains(c2.field))
              .foldLeft(merged0)((d0, c2) =>
                d0.withColumn(aliasNames(Seq(c2)).head,
                  lit(null).cast("double")))
        }
      } else if (calls.exists(c => c.fn == "top" || c.fn == "bottom")) {
        // top/bottom selectors: n extreme rows per series, keeping time
        // (aux-column selector semantics, call_processor.go:142-147).
        // Companions (bare fields / call-free expressions) ride the
        // selected rows — topPerSeries keeps whole rows, so they project
        // straight off (e2e "top(age, 2), country").
        require(calls.size == 1 && exprs.forall(e => callsIn(e.e).isEmpty),
          "top/bottom cannot combine with other calls")
        val c = calls.head
        val n = c.extra.getOrElse(1.0).toInt
        // the selector's n may not exceed the statement LIMIT
        // (TopBottomInt "TOP(value, 3) … limit 2" exp error, verbatim)
        q.limit.filter(_ < n).foreach(l => throw new StatementError(
          s"limit ($n) in ${c.fn} function can not be larger than the " +
            s"LIMIT ($l) in the select statement"))
        // GROUP BY time(d): the selector runs per BUCKET — partition the
        // bounded heap on (bucket, tags); the emitted time stays the
        // picked row's own (server_test.go:4358 "top(v1, 3) group by
        // time" → the 3 extremes of each hour)
        val (dfB, bucketTag) = q.intervalNs match {
          case Some(ns) =>
            val sizeUs = ns / 1000
            val offUs = q.intervalOffsetNs.getOrElse(0L) / 1000
            val rel = unix_micros(col(m.time)) - lit(offUs)
            (df.withColumn("__tb_bucket",
              rel - pmod(rel, lit(sizeUs))), Seq("__tb_bucket"))
          case None => (df, Nil)
        }
        // `top(f, tag…, N)`: first the extreme row per distinct tag-arg
        // combination, then the N extremes of those — each tag value
        // appears at most once and is emitted as a column (influxdb
        // selector semantics)
        val reduced =
          if (c.tagArgs.isEmpty) dfB
          else SeriesOps.topPerSeries(dfB, c.field, m.time,
            (bucketTag ++ groupTags ++ c.tagArgs).distinct, 1,
            bottom = c.fn == "bottom")
        val starCompanions: Seq[Column] =
          df.columns.filterNot(cc => cc == m.time || cc == "time")
            .filterNot(_.startsWith("__"))
            .filterNot(groupTags.contains).sorted.map(fieldCol).toSeq
        val companions = expandedProjs.flatMap {
          case PField(f) if f != "time" =>
            Seq((if (df.columns.contains(f)) col(f)
                 else lit(null).cast("double")).as(f))
          case PStar => starCompanions
          case e: PExpr =>
            Seq(evalExpr(e.e, _ =>
              sys.error("top/bottom companion cannot nest calls"))
              .as(e.alias))
          case _ => Nil
        }
        SeriesOps.topPerSeries(reduced, c.field, m.time,
            bucketTag ++ groupTags, n, bottom = c.fn == "bottom")
          .select((Seq(unix_millis(col(m.time)).as("wstart_ms")) ++
            groupTags.map(col) ++ Seq(col(c.field).as(c.fn)) ++
            c.tagArgs.filterNot(groupTags.contains).map(col) ++
            companions :+
            // selector RANK order survives same-time ties in the final
            // sort (TopBottomInt::28 emits 2002, 1502, 1002 — value
            // order, not row-value-ASC order)
            (col(c.field).cast("double") *
              lit(if (c.fn == "top") -1.0 else 1.0)).as("__ord")): _*)
      } else if (calls.exists(c => c.fn == "topn_ddcm" ||
          c.fn == "topn_nagt2")) {
        // topn_ddcm/topn_nagt2(field, countLowerBound, topNumber):
        // approximate heavy-hitter GROUP KEYS by row count.
        // `query/agg_functions.go:1824` (shared validation for both;
        // countLowerBound 0 = default) and `engine/executor/
        // topn_transform.go:525-560` (bound clamped to ≥1; one output row
        // per frequent key: its tag set, the estimated count, time 0,
        // sorted by count). topn_nagt2 runs the reference's CM05 sketch
        // (`engine/executor/nagt.go`); both map to the CMS+candidate-heap
        // aggregate here (functions/Sketches.scala) — the same accepted
        // approx-family divergence as ogsketch (SURVEY §4.3-3). The
        // shuffle carries one bounded (sketch + candidates) buffer per
        // partition — no raw keys, no distinct-key enumeration.
        require(calls.size == 1 && exprs.isEmpty,
          s"${calls.head.fn} must be the only projection")
        val c = calls.head
        val lower = math.max(c.extra.getOrElse(0.0).toLong, 1L)
        val n = c.extra2.getOrElse(5.0).toInt
        val sep = "\u0001"
        val key =
          if (groupTags.isEmpty) lit("")
          else concat_ws(sep, groupTags.map(col): _*)
        val hits = df.filter(col(c.field).isNotNull)
          .agg(graft.functions.Sketches.cmsTopN(depth = 4, width = 1024,
            maxCand = 1024, n = n)(key).as("_hits"))
          .select(explode(col("_hits")).as("_hit"))
          .filter(col("_hit.est") >= lower)
        val tagCols = groupTags.zipWithIndex.map { case (t, i) =>
          element_at(split(col("_hit.key"), sep), i + 1).as(t)
        }
        hits.select((lit(0L).as("wstart_ms") +: tagCols :+
            col("_hit.est").as(c.fn)): _*)
          .orderBy(col(c.fn).desc +: groupTags.map(col): _*)
      } else if (calls.exists(_.fn == "sample")) {
        // sample(f, n): n rows per series, reservoir-equivalent — rank by
        // a deterministic row hash inside each series partition (the
        // reference draws a reservoir, `query/agg_functions.go`; a seeded
        // hash rank gives the same selection distribution, retry-stable)
        require(calls.size == 1 && exprs.isEmpty,
          "sample cannot combine with other calls")
        val c = calls.head
        val n = c.extra.getOrElse(1.0).toInt
        // bare-field companions ride the sampled rows (selector
        // semantics — Sample_LimitOffset "sample(float, 3), int")
        val sampleCompanions = plain.filterNot(_ == "time")
        // bounded-heap aggregate on (hash, time) asc — the reservoir is a
        // map-side partial per series, so the shuffle carries ≤n rows per
        // series per task (SeriesOps.topPerSeries doc for why not a rank)
        graft.expressions.TopKRows.register(df.sparkSession)
        val st = struct(Seq(
          xxhash64(unix_micros(col(m.time)), col(c.field)).as("_tk_s0"),
          unix_micros(col(m.time)).as("_tk_s1")) ++ df.columns.map(col): _*)
        df.groupBy(groupTags.map(col): _*)
          .agg(call_function("topk_rows", st, lit(n), lit(2), lit("AA"))
            .as("_tk_top"))
          .select(explode(col("_tk_top")).as("_tk_row"))
          .select((Seq(unix_millis(col(s"_tk_row.${m.time}"))
              .as("wstart_ms")) ++
            groupTags.map(t => col(s"_tk_row.$t").as(t)) ++
            Seq(col(s"_tk_row.${c.field}").as(c.fn)) ++
            sampleCompanions.map(f =>
              if (df.columns.contains(f)) col(s"_tk_row.`$f`").as(f)
              else lit(null).cast("double").as(f))): _*)
      } else if (calls.size == 1 && calls.head.fn == "distinct" &&
          exprs.isEmpty && !plain.exists(_ != "time")) {
        // DISTINCT(f) emits the distinct VALUES as rows in first-seen
        // (time) order, per bucket × series (ast.go Distinct; e2e
        // Complex_Aggregate distinct(v3) → [true, false] at time 0).
        // `__ord` is a hidden order hint the final sort consumes.
        val c = calls.head
        val fv = fieldCol(c.field)
        val based = q.intervalNs match {
          case Some(ns) =>
            val sizeUs = ns / 1000
            val offUs = q.intervalOffsetNs.getOrElse(0L) / 1000
            val rel = unix_micros(col(m.time)) - lit(offUs)
            df.withColumn("wstart_ms", unix_millis(timestamp_micros(
              rel - pmod(rel, lit(sizeUs)) + lit(offUs))))
          case None => df.withColumn("wstart_ms", lit(0L))
        }
        based.filter(fv.isNotNull)
          .groupBy((col("wstart_ms") +: groupTags.map(col)) :+
            fv.as(c.alias.getOrElse("distinct")): _*)
          .agg(min(unix_micros(col(m.time))).as("__ord"))
      } else if (analytics.isEmpty && {
          // one selector call total — either a direct projection with
          // call-free expr companions, or a SINGLE selector wrapped in
          // projection math (`max(rx) * 1` keeps the picked row's time,
          // server_test.go Aggregates_Math "math with a single selector")
          val exprCallsAll = exprs.flatMap(e => callsIn(e.e))
          val selOne: Option[PCall] =
            if (calls.size == 1 && exprCallsAll.isEmpty) Some(calls.head)
            else if (calls.isEmpty && exprCallsAll.size == 1)
              Some(exprCallsAll.head)
            else None
          selOne.exists(c0 => c0.argExpr.isEmpty &&
            (c0.fn == "percentile" ||
              (Set("max", "min", "first", "last")(c0.fn) &&
                (plain.exists(_ != "time") || exprs.nonEmpty ||
                  expandedProjs.contains(PStar) || q.intervalNs.isEmpty))))
        }) {
        // Selector + companion ("aux") fields: one output row per group —
        // the row the selector PICKS — with bare-field projections taken
        // from that same row (the reference's aux-column selector
        // semantics, `engine/executor/call_processor.go`; e2e
        // `tests/server_test.go:5239` "max - tx": max(rx) carries the
        // argmax row's tx). GROUP BY time() emits the bucket start as
        // time; ungridded emits the picked row's own time. Shape: one
        // row_number window per (bucket, tags) — a single shuffle, no
        // self-join.
        val c = (calls ++ exprs.flatMap(e => callsIn(e.e))).head
        // a selector over the TIME pseudo-field picks by time and
        // renders the picked time as epoch ns (server_test.go:4358
        // "last(time)"); its companions are null UNGRIDDED (the
        // reference's aux machinery has no row for a pseudo-field) but
        // real per bucket
        val timeField = c.field.equalsIgnoreCase("time")
        val valueCol: Column =
          if (timeField) unix_micros(col(m.time)) * 1000L
          else col(c.field)
        val ord: Seq[Column] = c.fn match {
          case "max" => Seq(valueCol.desc, col(m.time).asc)
          case "min" => Seq(valueCol.asc, col(m.time).asc)
          case "first" => Seq(col(m.time).asc)
          case "last" => Seq(col(m.time).desc)
          // percentile is a SELECTOR in InfluxQL: the row at the sorted
          // index carries its own time and aux columns
          // (server_test.go:4358 "percentile(v1, 50),*")
          case "percentile" => Seq(valueCol.asc, col(m.time).asc)
        }
        val base0 =
          if (timeField) df else df.filter(col(c.field).isNotNull)
        val based = q.intervalNs match {
          case Some(ns) =>
            // identical arithmetic bucket to WindowedAgg.timeBucket
            val sizeUs = ns / 1000
            val offUs = q.intervalOffsetNs.getOrElse(0L) / 1000
            val rel = unix_micros(col(m.time)) - lit(offUs)
            base0.withColumn("wstart_ms", unix_millis(timestamp_micros(
              rel - pmod(rel, lit(sizeUs)) + lit(offUs))))
          case None =>
            base0.withColumn("wstart_ms", unix_millis(col(m.time)))
        }
        val partCols: Seq[Column] =
          (if (q.intervalNs.isDefined) Seq(col("wstart_ms")) else Nil) ++
            groupTags.map(col)
        val w =
          if (partCols.isEmpty) Window.partitionBy(lit(1)).orderBy(ord: _*)
          else Window.partitionBy(partCols: _*).orderBy(ord: _*)
        val picked = c.fn match {
          case "percentile" =>
            // the row at the reference's sorted index:
            // clamp(floor(n·p/100 + 0.5), 1, n) (agg_func.go:649)
            val n0 = count(lit(1)).over(
              if (partCols.isEmpty) Window.partitionBy(lit(1))
              else Window.partitionBy(partCols: _*))
            val pIdx = greatest(lit(1), least(n0, floor(
              n0 * lit(c.extra.getOrElse(50.0)) / 100.0 + 0.5)
              .cast("bigint")))
            based.withColumn("_rn", row_number().over(w))
              .withColumn("_pidx", pIdx)
              .filter(col("_rn") === col("_pidx")).drop("_rn", "_pidx")
          case _ =>
            based.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1).drop("_rn")
        }
        val callAlias = aliasNames(Seq(c)).head
        // companions: bare fields, `*` (every non-group column of the
        // picked row, name order — server_test.go:4358 "min(v1),*"), and
        // call-free scalar expressions evaluated ON the picked row
        // ("max(age), age - height AS value")
        // replicated quirk: ungridded last(time) carries NULL aux values
        // while first(time) carries the picked row's (server_test.go
        // Complex_Aggregate "first(time),* group by *" vs "last(time),*")
        val nullCompanions =
          timeField && q.intervalNs.isEmpty && c.fn == "last"
        def comp(cc: Column): Column =
          if (nullCompanions) lit(null) else cc
        val starCompanions: Seq[Column] =
          df.columns.filterNot(cc => cc == m.time || cc == "time")
            .filterNot(_.startsWith("__"))
            .filterNot(groupTags.contains).sorted
            .map(cc => comp(col(cc)).as(cc)).toSeq
        val outCols = Seq(col("wstart_ms")) ++
          // ungridded: the picked row's own time renders at FULL ns
          // precision (PreAgg_StringAux exp …T06:41:56.607400896Z)
          (if (q.intervalNs.isEmpty && nsTime)
             Seq(col("time").as("__tns")) else Nil) ++
          groupTags.map(col) ++
          expandedProjs.flatMap {
            case PField(f) if f != "time" =>
              Seq((if (df.columns.contains(f)) comp(col(f))
                   else lit(null).cast("double")).as(f))
            case _: PCall => Seq(valueCol.as(callAlias))
            case PStar => starCompanions
            case e: PExpr =>
              // the selector call itself may live INSIDE the expr
              // (`max(rx) * 1`): it resolves to the picked row's value
              Seq(comp(evalExpr(e.e, c2 =>
                if (c2 == c) valueCol
                else sys.error("selector companion cannot nest calls")))
                .as(e.alias))
            case _ => Nil
          }
        val sel0 = picked.select(outCols: _*)
        // GROUP BY time() default fill(null): the picked rows join the
        // same bucket spine the aggregate path fills
        // (server_test.go:4358 "first(v4),* group by time, *" emits
        // all-null buckets)
        (q.intervalNs, q.fill) match {
          case (Some(ns), FillNull) =>
            spineBoundsMs match {
              case Some((bLo, bHi)) =>
                val step = ns / 1000000
                val (lo, hi) = staticSpineMs(bLo, bHi, step)
                val vcols = sel0.columns
                  .filterNot(cc => cc == "wstart_ms" ||
                    groupTags.contains(cc))
                Fill.fillValue(sel0, vcols.toSeq, groupTags, lo, hi, step)
              case None => sel0
            }
          case _ => sel0
        }
      } else if (calls.nonEmpty || exprCalls.nonEmpty) {
        // a non-selector aggregate cannot combine with bare field refs —
        // the reference's compile error (`query/compile.go`; e2e
        // server_test.go:5401 "count - tx"), statement-level (the
        // response document carries it under the statement's result)
        if (plain.exists(_ != "time"))
          throw new StatementError(
            "mixing aggregate and non-aggregate queries is not supported")
        val allCalls = (calls ++ exprCalls).distinct
        val callName = allCalls.zip(aliasNames(allCalls)).toMap
        val aggs = aliased(allCalls)
        def addExprCols(d0: DataFrame): DataFrame = {
          // expr outputs land under collision-free temp names first: an
          // expr's auto-name may EQUAL the agg column it reads
          // (`sum(value)*2` → column "sum"), and dropping the agg below
          // must not take the computed expr with it
          val tmp = exprs.zipWithIndex.map { case (p, i) =>
            (p, s"__exprv_$i") }
          val d1 = tmp.foldLeft(d0)((acc, pi) => acc.withColumn(pi._2,
            evalExpr(pi._1.e, c => col(callName(c)))))
          // aggregates referenced ONLY inside expressions don't render;
          // the output keeps projection order (SubqueryForLogicalOptimize
          // exp [sum_height, sum_sum, mean])
          val exprOnly = allCalls.filterNot(calls.contains).map(callName)
          val d = tmp.foldLeft(d1.drop(exprOnly.distinct: _*))(
            (acc, pi) => acc.withColumnRenamed(pi._2, pi._1.alias))
          val dropped = d
          val ordered = (Seq("wstart_ms") ++ groupTags ++
            expandedProjs.collect {
              case c2: PCall if calls.contains(c2) => callName(c2)
              case e2: PExpr => e2.alias
            }).distinct.filter(dropped.columns.contains)
          val extras = dropped.columns.filterNot(ordered.contains)
          dropped.select((ordered ++ extras).map(fieldCol): _*)
        }
        // point-existence over the bucket grid: a series×bucket exists
        // only when at least one aggregated field has a non-null value
        // there — the reference's field cursors iterate non-null points,
        // so a bucket whose inputs are all null is never materialized
        // (count renders 0 there only via fill; with fill(none) the row
        // does not exist — Compare_Functions::7 drops the count-0
        // series). Mirrors the non-interval path's __n>0 guard below.
        val bucketInputNotNull: Column = {
          val fs = allCalls.flatMap { c2 =>
            if (c2.field == "*") Seq(lit(true))
            else if (c2.argExpr.isDefined) Seq(lit(true))
            else df.columns.find(_.equalsIgnoreCase(c2.field))
              .map(cn => fieldCol(cn).isNotNull).toSeq
          }
          if (fs.isEmpty) lit(false) else fs.reduce(_ || _)
        }
        val bucketNAgg = count(when(bucketInputNotNull, 1)).as("__n")
        def dropEmptyBuckets(d: DataFrame): DataFrame =
          d.filter(col("__n") > 0).drop("__n")
        addExprCols(q.intervalNs match {
          case Some(ns) =>
            val interval = s"${ns / 1000000} milliseconds"
            val offsetStr = s"${q.intervalOffsetNs.getOrElse(0L) / 1000000} " +
              "milliseconds"
            q.fill match {
              case FillNone => dropEmptyBuckets(WindowedAgg.timeBucket(
                df, m.time, interval,
                groupTags, aggs :+ bucketNAgg, offset = offsetStr, tz = q.tz))
              case mode =>
                // fill × tz()/time(d, offset): the spine is uniform on the
                // bucket-assignment AXIS (the wall-clock axis under tz(),
                // shifted by the grid offset), not on raw epoch ms — so
                // bucket + fill in axis space, then convert the boundaries
                // back to absolute epochs exactly as timeBucket would
                // (reference clamps fill spines the same way,
                // query/compile.go:1325).
                val axisDf = q.tz.map(z => df.withColumn(m.time,
                  from_utc_timestamp(col(m.time), z))).getOrElse(df)
                val bucketed = dropEmptyBuckets(WindowedAgg.timeBucket(
                  axisDf, m.time,
                  interval, groupTags, aggs :+ bucketNAgg, offset = offsetStr,
                  tz = None))
                // clamp the spine to the data's time bounds
                // (compile.go:1325). An unfiltered query on the storage
                // axis (no WHERE narrowing rows, no tz() shifting the
                // axis) gets them free from parquet footer stats — the
                // measurement's extentMs, same as PromQL.evalGrid — so
                // no extra scan-stage job is scheduled. Otherwise the
                // bounds fold INTO the plan (Fill.*Auto: the bucketed
                // frame's min/max wstart_ms over its per-series rows,
                // under the spine explode) — no driver min/max action, no
                // monotonicity assumption about the tz()-shifted axis
                // (DST fall-back makes wall time non-monotone in UTC,
                // so shifting footer extents would be wrong in general).
                val step = ns / 1000000
                val names = bucketed.columns
                  .filterNot(c => c == "wstart_ms" || groupTags.contains(c))
                val filled = spineBoundsMs match {
                  case Some((bLo, bHi)) =>
                    // LIMIT folds only when the fill is neighbor-free
                    // (see the Auto branch note below)
                    val fold = mode match {
                      case FillNull | FillValue(_) => true
                      case FillPrevious => !q.orderDesc
                      case _ => false
                    }
                    val (lo, hi) = staticSpineMs(bLo, bHi, step, fold)
                    mode match {
                      case FillNull => Fill.fillValue(bucketed, names.toSeq,
                        groupTags, lo, hi, step)
                      case FillValue(v) => Fill.fillValue(bucketed,
                        names.toSeq, groupTags, lo, hi, step, Some(v))
                      case FillPrevious => Fill.fillPrevious(bucketed,
                        names.toSeq, groupTags, lo, hi, step)
                      case FillLinear => Fill.fillLinear(bucketed, names.head,
                        groupTags, lo, hi, step)
                      case FillNone => bucketed
                    }
                  case None =>
                    // No static lower bound — data-derived spine. The
                    // UPPER bound extends past the data only when the
                    // statement bounds the extension itself: an explicit
                    // WHERE hi, or a LIMIT (the reference's lazy fill
                    // iterator emits empty to-now() buckets but stops
                    // after LIMIT — every corpus case expecting the
                    // tail carries one). A fully unbounded statement
                    // keeps pure data bounds: exploding the grid to
                    // now() for it is the exact "correct at sf0.1,
                    // dead at 100×" plan. tz() axes keep data bounds.
                    val hiOv: Option[Long] =
                      if (q.tz.isDefined) None
                      else {
                        val hiMsOpt = whereHiUs
                          .map(Math.floorDiv(_, 1000L))
                          .orElse(if (q.limit.isDefined)
                            Some(System.currentTimeMillis()) else None)
                        val off = q.intervalOffsetNs.getOrElse(0L) / 1000000
                        hiMsOpt.map(h =>
                          Math.floorDiv(h - off, step) * step + off)
                      }
                    // the fold is sound only when a bucket's fill is
                    // independent of buckets outside the kept range:
                    // null/value always; previous only ASC (LOCF reads
                    // backward); linear never (reads both sides)
                    val lim =
                      if (q.tz.isDefined) None else spineLimitBuckets
                    mode match {
                      case FillNull => Fill.fillValueAuto(bucketed,
                        names.toSeq, groupTags, step, hiOverrideMs = hiOv,
                        limitBuckets = lim, desc = q.orderDesc)
                      case FillValue(v) => Fill.fillValueAuto(bucketed,
                        names.toSeq, groupTags, step, Some(v),
                        hiOverrideMs = hiOv,
                        limitBuckets = lim, desc = q.orderDesc)
                      case FillPrevious => Fill.fillPreviousAuto(bucketed,
                        names.toSeq, groupTags, step, hiOverrideMs = hiOv,
                        limitBuckets = if (q.orderDesc) None else lim)
                      case FillLinear => Fill.fillLinearAuto(bucketed,
                        names.head, groupTags, step, hiOverrideMs = hiOv)
                      case FillNone => bucketed
                    }
                }
                // count over an empty bucket renders 0, not null — the
                // reference's count iterator emits 0 for a spine bucket
                // with no points while value aggs stay null
                // (server_test.go:4358 count(*) vs mean(*) spines)
                val zeroed = (mode match {
                  case FillNull => allCalls.filter(_.fn == "count")
                    .map(callName).filter(filled.columns.contains)
                  case _ => Nil
                }).foldLeft(filled)((d, cc) =>
                  d.withColumn(cc, coalesce(col(cc), lit(0L))))
                q.tz.map(z => zeroed.withColumn("wstart_ms",
                    unix_millis(to_utc_timestamp(
                      timestamp_millis(col("wstart_ms")), z))))
                  .getOrElse(zeroed)
            }
          case None =>
            // an ungridded aggregate stamps the WHERE range START (the
            // reference's interval start when bounded — Subqueries exp
            // times are 2000-01-01, not epoch 0). The slice-type
            // ad_rmse_ext stamps the group's FIRST point instead
            // (Detect_Aggregate::3 per-group times)
            // the effective range start propagates OUT of a subquery
            // only when the subquery is one the reference's
            // subquery-elimination rule FOLDS into the outer scan — a
            // plain field projection/rename (SubQuery_ShardMapper stamps
            // the inner bound; SubqueryForLogicalOptimize "mean usage"
            // over `100 - age AS usage` keeps epoch 0: the expr blocks
            // the fold and the outer runs on a subquery chunk axis)
            def foldable(x: Query): Boolean = x.intervalNs.isEmpty &&
              x.projs.forall {
                case PField(_) | PStar | PStarTag | PStarField => true
                case PExpr(EField(_), _) => true
                case _ => false
              }
            def stampLoOf(x: Query): Option[Long] =
              x.where.map(timeBoundsUs).flatMap(_._1)
                .orElse(x.fromSub.filter(foldable).flatMap(stampLoOf))
            val stampLo = stampLoOf(q).map(Math.floorDiv(_, 1000L))
            // …only when reading a real measurement: a subquery source's
            // chunk axis starts at the interval start, so the stamp
            // stays 0 (Multi_Metric_Detection::0 exp 1970-01-01)
            val sliceStamp = stampLo.isEmpty && q.fromSub.isEmpty &&
              allCalls.exists(_.fn == "ad_rmse_ext")
            val stampMs = stampLo.getOrElse(0L)
            // point-existence: a row/group with no points for ANY
            // projected field emits nothing (count(nosuchfield) and
            // all-null groups are bare results, never zero rows)
            val inputNotNull: Column = {
              val fs = allCalls.flatMap { c2 =>
                if (c2.field == "*") Seq(lit(true))
                else if (c2.argExpr.isDefined) Seq(lit(true))
                else df.columns.find(_.equalsIgnoreCase(c2.field))
                  .map(cn => fieldCol(cn).isNotNull).toSeq
              }
              if (fs.isEmpty) lit(false) else fs.reduce(_ || _)
            }
            val nAgg = count(when(inputNotNull, 1)).as("__n")
            val stampAgg = min(unix_millis(col(mEff.time))).as("__stamp")
            if (groupTags.nonEmpty)
              df.groupBy(groupTags.map(col): _*)
                .agg((aggs :+ nAgg :+ stampAgg).head,
                  (aggs :+ nAgg :+ stampAgg).tail: _*)
                .filter(col("__n") > 0)
                .withColumn("wstart_ms",
                  if (sliceStamp) coalesce(col("__stamp"), lit(0L))
                  else lit(stampMs))
                .drop("__n", "__stamp")
            else
              // InfluxQL emits NO row for an aggregate over zero points
              // (a bare SQL global aggregate would emit count=0)
              df.agg((aggs :+ nAgg :+ stampAgg).head,
                  (aggs :+ nAgg :+ stampAgg).tail: _*)
                .filter(col("__n") > 0)
                .withColumn("wstart_ms",
                  if (sliceStamp) coalesce(col("__stamp"), lit(0L))
                  else lit(stampMs))
                .drop("__n", "__stamp")
        })
      } else {
        // raw projection ("materialize"): time + tags + fields/expressions
        val hasStar = q.projs.exists(p =>
          p == PStar || p == PStarTag || p == PStarField)
        val fieldCols: Seq[Column] =
          if (q.projs.contains(PStarTag) || q.projs.contains(PStarField)) {
            // `*::tag` / `*::field`: star restricted by column class
            // star expansion emits columns in NAME order (the reference
            // sorts the expanded star: server_test.go AggregateSelectors
            // "baseline" expects [core, cores, host, region, rx, tx] —
            // tags and fields interleaved alphabetically)
            val base = df.columns.filterNot(c => c == m.time || c == "time")
              .filterNot(_.startsWith("__"))
              .filterNot(groupTags.contains).sorted
            // projection order is the statement's: `f1, *::tag` renders
            // f1 FIRST, then the class expansion
            // (HintQuery_FilterNullColumn exp [time, f1, tk1])
            val emitted = scala.collection.mutable.LinkedHashSet[String]()
            q.projs.foreach {
              case PField(f) if f != "time" => emitted += f
              case PStarTag =>
                base.filter(mEff.tags.contains).foreach(emitted += _)
              case PStarField =>
                base.filterNot(mEff.tags.contains).foreach(emitted += _)
              case _ => ()
            }
            emitted.toSeq.map(f =>
              if (df.columns.contains(f)) fieldCol(f)
              else lit(null).cast("double").as(f))
          } else if (plain.isEmpty && exprs.nonEmpty && !hasStar)
            Seq.empty
          else if (hasStar && joinStarFields.nonEmpty)
            // star over a JOIN = the qualified two-sided field set
            joinStarFields.sorted.map(fieldCol).toSeq
          else if (hasStar && plain.exists(_ != "time")) {
            // explicit fields AND a star: explicit ones render first in
            // projection order, then the FULL star expansion — a star
            // column colliding with an explicit name gets the reference's
            // `_1` suffix (Wildcards "SELECT value, *" exp
            // [time,value,region,value_1,valx])
            val explicit = plain.filter(_ != "time")
            val star = df.columns.filterNot(c => c == m.time || c == "time")
              .filterNot(_.startsWith("__"))
              .filterNot(groupTags.contains).sorted
            val used = scala.collection.mutable.Set[String](explicit: _*)
            val starCols = star.map { c =>
              if (used.add(c)) fieldCol(c)
              else {
                var i = 1
                while (!used.add(s"${c}_$i")) i += 1
                fieldCol(c).as(s"${c}_$i")
              }
            }
            explicit.map(f =>
              if (df.columns.contains(f)) fieldCol(f)
              else lit(null).cast("double").as(f)) ++ starCols
          } else if (plain.isEmpty || hasStar)
            df.columns.filterNot(c => c == m.time || c == "time")
              .filterNot(_.startsWith("__"))
              .filterNot(groupTags.contains).sorted.map(fieldCol).toSeq
          else plain.filterNot(groupTags.contains).map(f =>
            // schema-on-read: an unknown field projects as null (the
            // reference returns null columns — server_test.go's
            // `SELECT value, foo FROM cpu` case); the blank-row rule
            // below then drops rows where EVERY projected field is
            // null, so `SELECT foo FROM cpu` alone yields no series,
            // also the reference's behavior. A projected GROUP tag
            // rides the group column (it renders as a column too —
            // alsoColumnTags), never projected twice.
            if (df.columns.contains(f)) fieldCol(f)
            else lit(null).cast("double").as(f))
        val sel = (Seq(unix_millis(col(mEff.time)).as("wstart_ms")) ++
          (if (nsTime) Seq(col("time").as("__tns"))
           // a subquery source that carried its own ns axis keeps it —
           // multi-sub appends order sub-ms rows correctly
           // (Constant_Column exp puts the …001Z rows last)
           else if (df.columns.contains("__tns")) Seq(col("__tns"))
           else Nil) ++
          (if (df.columns.contains("__ord")) Seq(col("__ord")) else Nil) ++
          (if (df.columns.contains("__sord")) Seq(col("__sord"))
           else Nil) ++
          groupTags.map(col) ++
          exprs.map(p => evalExpr(p.e,
            c => sys.error("call in raw projection")).as(p.alias)) ++
          fieldCols)
        // blank-row rule: a row where every projected field is null is
        // not emitted (filter_blank_transfrom.go, server_test.go:3895).
        // Blankness judges the INPUT fields, not the computed outputs:
        // `ip_mask('300.…', 12)` over a present ip field emits a null
        // VALUE row (IP_For_String_Functions::4), while `str(address,…)`
        // over a missing address drops the row. Constant projections
        // are NOT fields: a select of only literals emits nothing
        // (server_test.go:14129 "'table1' as 'name'" alone → bare
        // statement).
        def exprHasVar(x: Expr): Boolean = x match {
          case EField(_) | ECall(_) => true
          case EBin(_, l2, r2) => exprHasVar(l2) || exprHasVar(r2)
          case EMath(_, args) => args.exists(exprHasVar)
          case ECast(x2, _) => exprHasVar(x2)
          case _ => false
        }
        def fieldsIn(x: Expr): Seq[String] = x match {
          case EField(f) => Seq(f)
          case EBin(_, l2, r2) => fieldsIn(l2) ++ fieldsIn(r2)
          case EMath(_, as0) => as0.flatMap(fieldsIn)
          case ECast(x2, _) => fieldsIn(x2)
          case _ => Nil
        }
        val constCols = exprs.filterNot(p2 => exprHasVar(p2.e))
          .map(_.alias).toSet
        // expression blankness evaluates against the SOURCE frame (any
        // referenced non-tag field present), carried through the select
        // as a hidden flag
        val exprKeeps = exprs.filter(p2 => exprHasVar(p2.e)).flatMap {
          p2 =>
            val fs = fieldsIn(p2.e)
              .filter(f => df.columns.contains(f) &&
                !mEff.tags.contains(f))
            if (fs.isEmpty) Nil
            else Some(fs.map(f => fieldCol(f).isNotNull).reduce(_ || _))
        }
        val exprAliases = exprs.map(_.alias).toSet
        val selK =
          if (exprKeeps.isEmpty) sel
          else sel :+ exprKeeps.reduce(_ || _).as("__keep")
        val projected = df.select(selK: _*)
        // /*+ filter_null_column */: blankness judges the projected
        // FIELDS only — a row whose fields are all null drops even when
        // its tags are present (HintQuery_FilterNullColumn exp keeps
        // the two f1 rows only)
        val nullColHint = q.hints.contains("filter_null_column")
        val blankable = projected.columns
          .filterNot(c => c == "wstart_ms" || c.startsWith("__") ||
            groupTags.contains(c) || exprAliases.contains(c) ||
            (nullColHint && mEff.tags.contains(c)))
        val conds = blankable.toIndexedSeq
          .map(c => fieldCol(c).isNotNull) ++
          (if (exprKeeps.nonEmpty) Seq(col("__keep")) else Nil)
        val out0 =
          if (conds.isEmpty && constCols.nonEmpty)
            projected.filter(lit(false))
          // the blank-row rule applies at the MEASUREMENT scan only: a
          // subquery's rows already exist — `SELECT sum FROM (SELECT
          // f1+f2+f3 AS sum …)` keeps the null-sum rows
          // (SubqueryMath exp [null, null, 14])
          else if (conds.isEmpty || q.fromSub.isDefined) projected
          // isNotNull-OR, not coalesce: coalesce unifies the field
          // types, and a mixed STRING/DOUBLE projection (msg, code)
          // would force an ANSI string→double cast that throws on
          // real data
          else projected.filter(conds.reduce(_ || _))
        out0.drop("__keep")
      }

    // sort → slimit → limit (per-series when grouped; reference limit modes)
    out = out.withColumnRenamed("wstart_ms", "time")
    // non-tag dimensions render as empty-string tags on every series
    pseudoDims.filterNot(out.columns.contains).foreach { t =>
      out = out.withColumn(t, lit(""))
    }
    val timeOrd = if (q.orderDesc) col("time").desc else col("time").asc
    q.slimit.foreach { s =>
      out = SeriesOps.slimit(out, groupTags, s, q.soffset)
    }
    q.limit match {
      case Some(l) if groupTags.nonEmpty && q.intervalNs.isEmpty &&
          calls.exists(c2 => c2.fn == "top" || c2.fn == "bottom") =>
        // top/bottom switch the limit to MultipleRows (schema.go:1265):
        // LIMIT/OFFSET count whole per-series SELECTOR SETS, series-major
        // (Complex_Aggregate "top(v1,3) group by * limit 3 offset 1"
        // exp skips the first series' set and keeps the next)
        val w = Window.orderBy(groupTags.map(t2 => col(t2).asc): _*)
        out = out.withColumn("_gr", dense_rank().over(w))
          .filter(col("_gr") > q.offset && col("_gr") <= q.offset + l)
          .drop("_gr")
      case Some(l) if groupTags.nonEmpty =>
        // the reference's LIMIT is ALWAYS IgnoreTag — global over the
        // series-major row stream, not per series
        // (QuerySchema.LimitType, engine/executor/schema.go:1265 — only
        // top/bottom switch to MultipleRows, still IgnoreTag). ORDER BY
        // time DESC reverses the WHOLE stream, series order included
        // (server_test.go:10481 order-desc emits server2 before
        // server1). The single-partition window runs over the query's
        // final output, already reduced.
        val grpOrd = groupTags.map(t =>
          if (q.orderDesc) col(t).desc else col(t).asc)
        val w = Window.orderBy((grpOrd :+ timeOrd): _*)
        out = out.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") > q.offset && col("_rn") <= q.offset + l)
          .drop("_rn")
      case Some(l) =>
        // exact-time ties pick deterministically — the same
        // (ns, value-name-ASC) keys the final emission sorts by
        // (HintLimit "limit 1" picks the tv1 point, not an arbitrary
        // same-ts row)
        val tieTb = out.columns.toSeq
          .filterNot(c => c == "time" || c.startsWith("__")).sorted
          .map(c2 => (if (c2.contains(".")) col(s"`$c2`") else col(c2))
            .asc_nulls_last)
        val nsTb =
          if (out.columns.contains("__tns"))
            Seq(if (q.orderDesc) col("__tns").desc else col("__tns").asc)
          else Nil
        out = out.orderBy(((timeOrd +: nsTb) ++ tieTb): _*)
          .offset(q.offset).limit(l)
      case None => ()
    }
    // `__ord` is a hidden in-bucket order hint (distinct first-seen
    // order) — consumed by the sort, never rendered; `__tns` breaks
    // sub-ms ties on the ns axis (kept — the gateway renders from it)
    val ordHint =
      if (out.columns.contains("__ord")) Seq(col("__ord")) else Nil
    // JOIN results keep the join's emission order within a series —
    // the reference does NOT re-sort them on time (Join_Table table3
    // exp interleaves 00:00/00:10)
    val joinOrdered = out.schema.fields.exists(f =>
      f.name == "__ord" &&
        f.dataType == org.apache.spark.sql.types.StringType)
    val nsHint =
      if (out.columns.contains("__tns"))
        Seq(if (q.orderDesc) col("__tns").desc else col("__tns").asc)
      else Nil
    // a raw projection OVER A SUBQUERY keeps the inner's multi-series
    // emission order — series blocks (tag order) first, time within
    // (Sliding_Window::8 "select * from (… group by time,country)"
    // renders the ""-country block before "american"); a raw select
    // over a real measurement stays time-major (OrderByTime::2)
    // …but only for a STAR outer: an explicit projection subset over
    // the same grouped inner re-merges TIME-major (Subqueries::3
    // "SELECT host FROM (… GROUP BY host)" exp t=0s before t=20s,
    // vs ::5's star form emitting series blocks)
    val subSeriesTags: Seq[String] =
      if (q.fromSub.exists(s => s.intervalNs.isDefined ||
            s.groupTags.nonEmpty) && calls.isEmpty &&
          exprCalls.isEmpty && analytics.isEmpty && groupTags.isEmpty &&
          q.projs.contains(PStar))
        mEff.tags.filter(out.columns.contains)
      else Nil
    // a grouped-inner tag flattened into the outer's COLUMNS renders the
    // reference's empty-string tag, not null (SubqueryForLogicalOptimize
    // "outer filter#1" exp country "")
    subSeriesTags.foreach { t =>
      out = out.withColumn(t, coalesce(col(t), lit("")))
    }
    // deterministic tie-break on exact-time ties: value columns in NAME
    // order, ASC nulls-last regardless of the time direction — the
    // reference's merged multi-series stream emits this order
    // (OrderByTime::2 sparse DESC keeps free=1 before used=3;
    // Constant_Column::1 same-ts rows come out value-ascending)
    val tieHint = out.columns.toSeq
      .filterNot(c => c == "time" || c.startsWith("__") ||
        groupTags.contains(c) || subSeriesTags.contains(c)).sorted
      .map(c => (if (c.contains(".")) col(s"`$c`") else col(c))
        .asc_nulls_last)
    // inherited subquery/CTE emission rank: same-ns ties keep the
    // inner's own order (CTE_Query exp), ahead of the value tie-break
    val sordHint =
      if (out.columns.contains("__sord")) Seq(col("__sord").asc) else Nil
    // Statement-class-aware emission (round 18): an AGGREGATED statement
    // (function calls / expression calls / GROUP BY time) emits one row
    // per series per bucket — the bound the reference itself assumes
    // when it materializes a statement's whole result into one response
    // — so on the SMALL-INPUT profile the global range sort's partition-
    // bounds sampling job (a separate job re-executing the entire final
    // stage) is pure scheduling floor: emit through one single-partition
    // sort instead (graft.ExecProfile.boundedSort). RAW per-point selects
    // — and everything on the scale profile, where series cardinality is
    // data-dependent — keep the scalable range sort. Only the TOP-LEVEL
    // statement's emission converts (emitDepth above).
    val aggregated =
      calls.nonEmpty || exprCalls.nonEmpty || q.intervalNs.isDefined
    def emit(df: DataFrame, ord: Seq[Column]): DataFrame =
      if (aggregated && emitDepth.get == 1)
        graft.ExecProfile.boundedSort(df, ord: _*)
      else df.orderBy(ord: _*)
    (if (!sorted) out
     else if (joinOrdered)
       emit(out, groupTags.map(col) ++ ordHint)
     else emit(out, (((groupTags ++ subSeriesTags).map(col) :+
       timeOrd) ++ nsHint ++ ordHint ++ sordHint ++ tieHint)))
      .drop("__ord", "__sord")
  }
}
