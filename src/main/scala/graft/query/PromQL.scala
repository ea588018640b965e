package graft.query

import org.apache.spark.sql.{Column, DataFrame, SessionShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{PromBinOp, PromRange}
import graft.functions.PromFunctions

/** PromQL text frontend: parser + evaluator over the PromRange /
  * PromBinOp / PromFunctions builders.
  *
  * Reference surface: `lib/util/lifted/promql2influxql/transpiler.go:45`
  * (+ `binary_expr.go`, `call.go`, `selector.go`, `aggregate_expr.go`),
  * served at `httpd/handler_prom.go:534-562`. The reference transpiles
  * PromQL to InfluxQL and runs it on its own engine; here the transpile
  * target is the Spark logical plan directly — a range query becomes one
  * declarative DataFrame program (window replication → partial aggregates
  * → label-key joins), so Catalyst sees the whole query and every eval
  * step of a range query is computed in the same distributed pass, not
  * step-by-step like a Prometheus evaluator loop.
  *
  * Evaluation model (Prometheus range query `query_range(start,end,step)`
  * without the explicit start/end — the data's own extent bounds it):
  *  - an instant vector selector at eval time T is the latest sample per
  *    series in (T−lookback, T] — implemented as a range window with
  *    end-inclusive assignment ([[PromRange.rangeWindow]]) + `max_by`;
  *  - a range selector `m[d]` feeds the range functions, which evaluate
  *    per step with Prometheus's (T−d, T] membership;
  *  - series sets are DataFrames of (labels…, eval_ms, value); a missing
  *    label is the empty string (matches PromQL `{l=""}` semantics);
  *  - label-matching binary ops join on shared labels + eval_ms.
  *
  * Determinism: every aggregation sum goes through DECIMAL(28,10) (order-
  * independent), last-sample selection tie-breaks on the metric's `tie`
  * columns — the same rules the DuckDB oracle mirrors.
  */
object PromQL {

  /** One metric in the catalog: label columns + sample value + event time.
    * `tie` orders equal-timestamp samples deterministically. */
  case class Metric(df: DataFrame, labels: Seq[String],
                    time: String = "ts", value: String = "value",
                    tie: Seq[String] = Nil,
                    extentMs: Option[(Long, Long)] = None,
                    stale: Option[String] = None)

  /** A series set mid-evaluation: df columns = labels ++ (eval_ms, value). */
  case class Vec(df: DataFrame, labels: Seq[String])

  // ------------------------------------------------------------------ AST
  sealed trait Expr
  case class Num(v: Double) extends Expr
  /** `@` modifier target: a fixed unix timestamp, or the query range's
    * start()/end() (which require explicit `boundsMs`). */
  sealed trait At
  case class AtMs(ms: Long) extends At
  case object AtStart extends At
  case object AtEnd extends At
  case class Sel(name: String, matchers: Seq[(String, String, String)],
                 rangeS: Option[Long], offsetS: Long,
                 at: Option[At] = None) extends Expr
  /** `<expr>[range:resolution]` — a subquery: the inner expression is
    * evaluated at `resolution` steps and the resulting series feed the
    * enclosing range function (reference `LogicalPromSubquery`,
    * `logic_plan.go:4698`). */
  case class SubQ(inner: Expr, rangeS: Long, stepS: Option[Long])
    extends Expr
  case class FnCall(fn: String, args: Seq[Expr]) extends Expr
  case class Agg(op: String, by: Option[Seq[String]],
                 without: Option[Seq[String]],
                 param: Option[Expr], body: Expr) extends Expr
  case class Bin(op: String, l: Expr, r: Expr, bool: Boolean,
                 on: Option[Seq[String]], ignoring: Seq[String],
                 groupLeft: Option[Seq[String]],
                 groupRight: Option[Seq[String]]) extends Expr

  // ---------------------------------------------------------------- lexer
  private sealed trait Tok
  private case class TId(s: String) extends Tok
  private case class TNum(v: Double) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TDur(seconds: Long) extends Tok
  private case class TOp(s: String) extends Tok

  private val aggOps = Set("sum", "avg", "min", "max", "count", "topk",
    "bottomk", "count_values", "group", "stddev", "stdvar", "quantile",
    "limitk", "limit_ratio")

  private def lex(q: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && q(i) != '\n') i += 1 }
      else if (c.isDigit || (c == '.' && i + 1 < n && q(i + 1).isDigit)) {
        val start = i
        while (i < n && (q(i).isDigit || q(i) == '.' || q(i) == 'e' ||
          ((q(i) == '-' || q(i) == '+') && q(i - 1) == 'e'))) i += 1
        // duration literal: 5m / 1h30m / 90s / 250ms
        if (i < n && "smhdwy".contains(q(i)) &&
            !q.substring(start, i).contains('.')) {
          var total = 0L
          var j = start
          while (j < n && q(j).isDigit) {
            var k = j
            while (k < n && q(k).isDigit) k += 1
            val num = q.substring(j, k).toLong
            val (mult, adv) =
              if (k + 1 < n && q(k) == 'm' && q(k + 1) == 's') (0L, 2)
              else q(k) match {
                case 's' => (1L, 1)
                case 'm' => (60L, 1)
                case 'h' => (3600L, 1)
                case 'd' => (86400L, 1)
                case 'w' => (604800L, 1)
                case 'y' => (31536000L, 1)
                case _ => sys.error(s"bad duration at: ${q.substring(j)}")
              }
            total += num * mult
            j = k + adv
            if (j >= n || !q(j).isDigit) { i = j; out += TDur(total); j = n }
          }
        } else out += TNum(q.substring(start, i).toDouble)
      }
      else if (c.isLetter || c == '_') {
        // ':' continues an identifier (recording-rule names) but never
        // starts one — a leading ':' is the subquery resolution separator
        val start = i
        while (i < n && (q(i).isLetterOrDigit || q(i) == '_' ||
          q(i) == ':')) i += 1
        val id = q.substring(start, i)
        // upstream lexes inf/nan (any case) as FLOAT literals
        if (id.equalsIgnoreCase("inf"))
          out += TNum(Double.PositiveInfinity)
        else if (id.equalsIgnoreCase("nan")) out += TNum(Double.NaN)
        else out += TId(id)
      }
      else if (c == '"' || c == '\'') {
        val quote = c; i += 1
        val sb = new StringBuilder
        while (i < n && q(i) != quote) {
          if (q(i) == '\\' && i + 1 < n) { sb += q(i + 1); i += 2 }
          else { sb += q(i); i += 1 }
        }
        i += 1
        out += TStr(sb.toString)
      }
      else {
        val two = if (i + 1 < n) q.substring(i, i + 2) else ""
        if (Set("==", "!=", ">=", "<=", "=~", "!~").contains(two)) {
          out += TOp(two); i += 2
        } else { out += TOp(c.toString); i += 1 }
      }
    }
    out.result()
  }

  // --------------------------------------------------------------- parser
  def parse(q: String): Expr = {
    val p = new Parser(lex(q))
    val e = p.parseExpr()
    require(p.atEnd, s"trailing tokens in PromQL: $q")
    e
  }

  /** True when any selector in `query` is pinned with `@ start()` or
    * `@ end()`. Those pins resolve against the REQUEST's bounds
    * (`resolveAt` below), so a results cache keyed only on (query, step)
    * must neither reuse extents across requests with different bounds
    * nor evaluate gaps with gap-sub-range bounds — the reference's
    * results-cache lineage (Cortex `isAtModifierCachable`) refuses to
    * cache such queries for the same reason. */
  def usesBoundRelativeAt(query: String): Boolean =
    selectors(parse(query)).exists(s =>
      s.at.contains(AtStart) || s.at.contains(AtEnd))

  /** Every selector in `e`, in source order. */
  private def selectors(e: Expr): Seq[Sel] = e match {
    case s: Sel => Seq(s)
    case SubQ(inner, _, _) => selectors(inner)
    case FnCall(_, args) => args.flatMap(selectors)
    case Agg(_, _, _, param, body) =>
      param.toSeq.flatMap(selectors) ++ selectors(body)
    case b: Bin => selectors(b.l) ++ selectors(b.r)
    case _ => Nil
  }

  private class Parser(var toks: List[Tok]) {
    def atEnd: Boolean = toks.isEmpty
    private def peek: Option[Tok] = toks.headOption
    private def next(): Tok = {
      val t = toks.head; toks = toks.tail; t
    }
    private def isOp(s: String) = peek.contains(TOp(s))
    private def isId(s: String) = peek match {
      case Some(TId(x)) => x.equalsIgnoreCase(s)
      case _ => false
    }
    private def expectOp(s: String): Unit = {
      require(isOp(s), s"expected '$s', got $peek"); next()
    }

    // precedence (low→high): or | and,unless | cmp | +,- | *,/,% | ^
    def parseExpr(): Expr = parseOr()
    private def parseOr(): Expr = parseBinLevel(Seq("or"), parseAnd _)
    private def parseAnd(): Expr =
      parseBinLevel(Seq("and", "unless"), parseCmp _)
    private def parseCmp(): Expr =
      parseBinLevel(Seq("==", "!=", ">", "<", ">=", "<="), parseAdd _)
    private def parseAdd(): Expr = parseBinLevel(Seq("+", "-"), parseMul _)
    private def parseMul(): Expr =
      parseBinLevel(Seq("*", "/", "%", "atan2"), parsePow _)
    private def parsePow(): Expr = {
      val l = parseUnary()
      if (isOp("^")) { // right-assoc
        next(); val (bool, on, ig, gl, gr) = parseMatching()
        Bin("^", l, parsePow(), bool, on, ig, gl, gr)
      } else l
    }
    private def parseUnary(): Expr =
      if (isOp("-")) { next(); Bin("-", Num(0), parsePow(), bool = false,
        None, Nil, None, None) } // operand is a ^-level expr: -2^2 = -(2^2)
      else if (isOp("+")) { next(); parseUnary() } // unary + is identity
      else parseAtom()

    private def parseBinLevel(ops: Seq[String], sub: () => Expr): Expr = {
      var l = sub()
      var done = false
      while (!done) {
        val op = ops.find(o =>
          if (o.head.isLetter) isId(o) else isOp(o))
        op match {
          case Some(o) =>
            next()
            val (bool, on, ig, gl, gr) = parseMatching()
            l = Bin(o.toLowerCase, l, sub(), bool, on, ig, gl, gr)
          case None => done = true
        }
      }
      l
    }

    /** [bool] [on(...)|ignoring(...)] [group_left(...)|group_right(...)] */
    private def parseMatching(): (Boolean, Option[Seq[String]], Seq[String],
        Option[Seq[String]], Option[Seq[String]]) = {
      var bool = false
      if (isId("bool")) { next(); bool = true }
      var on: Option[Seq[String]] = None
      var ig: Seq[String] = Nil
      if (isId("on")) { next(); on = Some(parseLabelList()) }
      else if (isId("ignoring")) { next(); ig = parseLabelList() }
      var gl: Option[Seq[String]] = None
      var gr: Option[Seq[String]] = None
      if (isId("group_left")) { next(); gl = Some(parseOptLabelList()) }
      else if (isId("group_right")) { next(); gr = Some(parseOptLabelList()) }
      (bool, on, ig, gl, gr)
    }

    private def parseLabelList(): Seq[String] = {
      expectOp("(")
      val out = Seq.newBuilder[String]
      while (!isOp(")")) {
        next() match {
          case TId(s) => out += s
          case t => sys.error(s"expected label, got $t")
        }
        if (isOp(",")) next()
      }
      expectOp(")")
      out.result()
    }
    private def parseOptLabelList(): Seq[String] =
      if (isOp("(")) parseLabelList() else Nil

    private def parseAtom(): Expr = subqueryTail(parseAtom0())

    /** `[d:r]` after any expression = subquery (a bare `[d]` is only
      * produced inside selectors, handled by parseSelectorTail). */
    private def subqueryTail(e: Expr): Expr =
      if (isOp("[")) {
        next()
        val range = next() match {
          case TDur(s) => s
          case t => sys.error(s"expected duration, got $t")
        }
        expectOp(":")
        val step = peek match {
          case Some(TDur(s)) => next(); Some(s)
          case _ => None
        }
        expectOp("]")
        SubQ(e, range, step)
      } else e

    private def parseAtom0(): Expr = next() match {
      case TNum(v) => Num(v)
      case TOp("(") =>
        val e = parseExpr(); expectOp(")"); e
      case TId(name) if aggOps.contains(name.toLowerCase) =>
        parseAggTail(name.toLowerCase)
      case TId(name) if isOp("(") =>
        next()
        val args = Seq.newBuilder[Expr]
        while (!isOp(")")) {
          peek match {
            case Some(TStr(s)) => next(); args += StrArg(s)
            case _ => args += parseExpr()
          }
          if (isOp(",")) next()
        }
        expectOp(")")
        FnCall(name.toLowerCase, args.result())
      case TId(name) => parseSelectorTail(name)
      case t => sys.error(s"unexpected token $t")
    }

    private def parseAggTail(op: String): Expr = {
      var by: Option[Seq[String]] = None
      var without: Option[Seq[String]] = None
      def modifier(): Boolean =
        if (isId("by")) { next(); by = Some(parseLabelList()); true }
        else if (isId("without")) {
          next(); without = Some(parseLabelList()); true
        } else false
      modifier()
      expectOp("(")
      // topk/bottomk/count_values take a leading parameter
      val param =
        if (Set("topk", "bottomk", "quantile", "limitk", "limit_ratio")
            .contains(op)) {
          val p = parseExpr(); expectOp(","); Some(p)
        } else if (op == "count_values") {
          var parens = 0
          while (isOp("(")) { next(); parens += 1 }
          val p = next() match {
            case TStr(s) => StrArg(s)
            case t => sys.error(s"count_values needs a string, got $t")
          }
          (1 to parens).foreach(_ => expectOp(")"))
          expectOp(",")
          Some(p)
        } else None
      val body = parseExpr()
      expectOp(")")
      modifier()
      Agg(op, by, without, param, body)
    }

    private def parseSelectorTail(name: String): Expr = {
      val matchers = Seq.newBuilder[(String, String, String)]
      if (isOp("{")) {
        next()
        while (!isOp("}")) {
          val label = next() match {
            case TId(s) => s
            case t => sys.error(s"expected label name, got $t")
          }
          val op = next() match {
            case TOp(o) if Set("=", "==", "!=", "=~", "!~").contains(o) =>
              if (o == "==") "=" else o
            case t => sys.error(s"expected matcher op, got $t")
          }
          val v = next() match {
            case TStr(s) => s
            case t => sys.error(s"expected string value, got $t")
          }
          matchers += ((label, op, v))
          if (isOp(",")) next()
        }
        expectOp("}")
      }
      var range: Option[Long] = None
      var subStep: Option[Option[Long]] = None // Some(step) when `[d:r]`
      if (isOp("[")) {
        next()
        val d = next() match {
          case TDur(s) => s
          case t => sys.error(s"expected duration, got $t")
        }
        if (isOp(":")) { // selector subquery m[d:r]
          next()
          val st = peek match {
            case Some(TDur(s)) => next(); Some(s)
            case _ => None
          }
          subStep = Some(st)
          range = Some(d)
        } else range = Some(d)
        expectOp("]")
      }
      var offset = 0L
      var at: Option[At] = None
      // Prometheus rejects repeated modifiers outright ("offset may not be
      // set multiple times") rather than letting the last one win.
      var seenOffset = false
      var more = true
      while (more) {
        if (isId("offset")) {
          if (seenOffset) sys.error("offset may not be set multiple times")
          seenOffset = true
          next()
          offset = next() match {
            case TDur(s) => s
            case t => sys.error(s"expected duration after offset, got $t")
          }
        } else if (isOp("@")) {
          if (at.isDefined) sys.error("@ <timestamp> may not be set multiple times")
          next()
          // `@ -300` lexes as TOp("-") TNum(300) — pre-1970 pins are legal
          val neg = if (isOp("-")) { next(); true } else false
          at = Some(next() match {
            case TNum(v) =>
              AtMs(math.round((if (neg) -v else v) * 1000))
            case TId(kw) if !neg && (kw == "start" || kw == "end") =>
              expectOp("("); expectOp(")")
              if (kw == "start") AtStart else AtEnd
            case t => sys.error(s"expected timestamp after @, got $t")
          })
        } else more = false
      }
      subStep match {
        case Some(st) =>
          SubQ(Sel(name, matchers.result(), None, offset, at), range.get, st)
        case None => Sel(name, matchers.result(), range, offset, at)
      }
    }
  }

  /** String argument (count_values / label_replace / label_join). */
  case class StrArg(s: String) extends Expr

  // ------------------------------------------------------------ evaluator
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(28,10)")).cast("double")

  /** A PromQL scalar mid-evaluation. Prometheus scalars are per-STEP
    * values, not constants — `time()` varies with the eval timestamp and
    * `scalar(v)` with the data — so three representations:
    *  - [[SConst]]: a number literal (and arithmetic over literals);
    *  - [[STime]]: a pure function of the eval timestamp — `time()` and
    *    arithmetic combining it with constants. Applied to a vector it
    *    needs NO join, just the partner's own `eval_ms` column;
    *  - [[SSteps]]: a data-derived (eval_ms, _sv) series — `scalar(v)` —
    *    joined to the partner vector on eval_ms.
    */
  private sealed trait Scal
  private case class SConst(v: Double) extends Scal
  private case class STime(f: Column => Column) extends Scal
  private case class SSteps(df: DataFrame) extends Scal

  /** `boundsMs`: explicit query-range [start, end] in epoch ms — the
    * batch stand-in for Prometheus's query_range(start, end). When given,
    * the result holds only the eval steps in [start, end]; eval grids
    * (absent(), `@` replication, standalone vector()/time()) derive from
    * it with NO data pass, and every selector without an `@` pin reads
    * only the samples those steps can see (see `Eval.metricOf`). When
    * absent, the grids fall back to a min/max-of-time scan of the metric
    * and every step of the metric's history is evaluated. */
  def evaluate(catalog: Map[String, Metric], query: String,
               step: String, lookback: String = "5 minutes",
               boundsMs: Option[(Long, Long)] = None): DataFrame = {
    val ast = parse(query)
    // the referenced metrics, rebound onto the execution profile their
    // plan size selects (graft.ExecProfile)
    val used = selectors(ast).map(_.name).distinct
      .flatMap(n => catalog.get(n).map(n -> _))
    val profile = graft.ExecProfile.statementSession(used.map(_._2.df))
    val cat = profile.fold(catalog)(s => used.map { case (n, m) =>
      n -> m.copy(df = SessionShim.rebind(m.df, s)) }.toMap)
    val ev = new Eval(cat, PromRange.durationSeconds(step),
      PromRange.durationSeconds(lookback), boundsMs, boundsMs)
    def run(): DataFrame = {
      val out = ev.evalVec(ast) match {
        case Left(v) =>
          v.df.select((v.labels.sorted.map(col) :+ col("eval_ms") :+
            col("value")): _*)
        case Right(SSteps(df)) =>
          df.select(col("eval_ms"), col("_sv").as("value"))
        case Right(s) => sys.error(
          s"PromQL query is a grid-free scalar ($s): pass boundsMs and " +
            "wrap in vector() to materialize it")
      }
      boundsMs.fold(out) { case (lo, hi) =>
        out.filter(col("eval_ms").between(lo, hi)) }
    }
    profile.fold(run())(SessionShim.withActive(_)(run()))
  }

  /** Fold a grid-free constant scalar expression (number literals and
    * arithmetic over them — upstream `literals.test`'s whole surface)
    * to its value, without a SparkSession or catalog. Data-dependent
    * expressions error. */
  def evaluateConst(query: String): Double =
    new Eval(Map.empty, 1L, 300L, None, None).evalVec(parse(query)) match {
      case Right(SConst(v)) => v
      case other => sys.error(s"not a constant scalar: $other")
    }

  /** `boundsMs`: the [lo, hi] epoch-ms range of eval steps this
    * evaluator must get right — the query range at the top level, the
    * widened inner range in a subquery. `queryMs`: the top-level query
    * range, which `@ start()`/`@ end()` name at every depth. */
  private class Eval(catalog: Map[String, Metric], stepS: Long,
                     lookbackS: Long, boundsMs: Option[(Long, Long)],
                     queryMs: Option[(Long, Long)]) {
    private val stepStr = s"$stepS seconds"

    def evalVec(e: Expr): Either[Vec, Scal] = e match {
      case Num(v) => Right(SConst(v))
      case StrArg(s) => sys.error(s"unexpected string arg: $s")
      case s: Sel =>
        require(s.rangeS.isEmpty,
          s"range vector ${s.name}[..] outside a range function")
        Left(instant(s))
      case sq: SubQ =>
        sys.error("subquery [d:r] is only valid inside a range function")
      case a: Agg => Left(evalAgg(a))
      case f: FnCall => evalFn(f)
      case b: Bin => evalBin(b)
    }

    // -- selectors ---------------------------------------------------------
    /** The selector's metric and its matcher-filtered, offset-shifted
      * samples. Under `boundsMs` [lo, hi] an unpinned selector keeps only
      * the samples an eval step in [lo, hi] can see: a step T reads
      * (T − w, T] of the shifted axis, w = lookback (+1 ms, inclusive
      * start) or the range, so the raw times [lo − offset − w − 1 s,
      * hi − offset] — Prometheus's own [start − lookback, end] selection.
      * The bound compares the RAW time column, so cached batches and
      * parquet row groups outside it are skipped by their min/max stats.
      * An `@`-pinned selector reads around its pin instead (its callers
      * filter the pinned window). */
    private def metricOf(s: Sel): (Metric, DataFrame) = {
      val m = catalog.getOrElse(s.name, sys.error(s"unknown metric ${s.name}"))
      var df = m.df
      if (s.at.isEmpty) boundsMs.foreach { case (lo, hi) =>
        val reachMs = math.max(lookbackS, s.rangeS.getOrElse(0L)) * 1000L +
          1000L
        val fromMs = lo - s.offsetS * 1000L - reachMs
        val toMs = hi - s.offsetS * 1000L
        df = df.filter(col(m.time) >= timestamp_micros(lit(fromMs * 1000L)) &&
          col(m.time) <= timestamp_micros(lit(toMs * 1000L)))
      }
      s.matchers.foreach { case (label, op, v) =>
        val c = if (df.columns.contains(label)) col(label) else lit("")
        val cond = op match {
          case "=" => c === lit(v)
          case "!=" => c =!= lit(v)
          case "=~" => c.rlike("^(?:" + v + ")$")
          case "!~" => !c.rlike("^(?:" + v + ")$")
        }
        df = df.filter(cond)
      }
      if (s.offsetS != 0)
        df = df.withColumn(m.time,
          timestamp_micros(unix_micros(col(m.time)) + s.offsetS * 1000000L))
      (m, df)
    }

    /** An `@` pin resolved to epoch ms (start()/end() need explicit
      * bounds — there is no "query range" to anchor them to otherwise). */
    private def resolveAt(a: At): Long = a match {
      case AtMs(ms) => ms
      case AtStart => queryMs.map(_._1)
        .getOrElse(sys.error("@ start() needs explicit boundsMs"))
      case AtEnd => queryMs.map(_._2)
        .getOrElse(sys.error("@ end() needs explicit boundsMs"))
    }

    /** Latest sample per series in [T−lookback, T] for every step T —
      * Prometheus staleness keeps a sample at exactly T−lookback alive
      * (inclusive start, unlike range selectors), hence the +1ms width.
      *
      * With an `@` modifier the selection time is PINNED: the latest
      * sample per series in [at−lookback, at] is replicated across every
      * step of the eval grid (Prometheus `@` semantics — the sample is
      * fixed, the series still appears at each step of the range). */
    // One instant vector per distinct selector per query: a binop like
    // `events / on(et) sum by (et) (events)` names the same selector on
    // both sides, and sharing the Vec gives both sides the IDENTICAL
    // subplan — Spark's ReuseExchange then executes the expensive
    // newest-wins aggregation's shuffle once instead of twice.
    private val instantCache =
      scala.collection.mutable.HashMap.empty[Sel, Vec]
    private def instant(s: Sel): Vec =
      instantCache.getOrElseUpdate(s, instantUncached(s))

    /** Shared newest-wins machinery for a selector: (metric, source
      * frame, pick aggregate, unwrap). */
    private def pickFor(s: Sel): (Metric, DataFrame, Column,
        DataFrame => DataFrame) = {
      val (m, df) = metricOf(s)
      val tus = unix_micros(col(m.time))
      // Newest-wins ordering key. A struct key forces SortAggregate (the
      // struct agg buffer is not UnsafeRow-mutable), i.e. a map-side
      // SORT of every gridded sample. With the common single integral
      // tiebreak, (µs, tie) packs order-isomorphically into one
      // DECIMAL(38,0) — µs·10²⁰ + (tie + 2⁶³) — whose buffer IS mutable,
      // so the whole newest-wins pass stays a hash aggregation. Exact
      // for |µs| < 10¹⁸ (≈ ±31,688 years); the step 10²⁰ exceeds the
      // shifted-tie range 2⁶⁴, so lexicographic order is preserved for
      // negative epochs too.
      import org.apache.spark.sql.types._
      val integral: Set[DataType] =
        Set(LongType, IntegerType, ShortType, ByteType)
      val ordKey = m.tie match {
        case Nil => tus.cast(DecimalType(38, 0))
        case Seq(tc) if integral.contains(df.schema(tc).dataType) =>
          // a NULL tie must degrade to worst-tiebreak, not nullify the
          // whole key (max_by skips null-keyed rows — the sample would
          // silently vanish from last-sample selection)
          tus.cast(DecimalType(18, 0)) *
            lit(BigDecimal("100000000000000000000")) +
            (coalesce(col(tc), lit(Long.MinValue))
              .cast(DecimalType(20, 0)) +
              lit(BigDecimal("9223372036854775808")))
        case ties => struct(tus +: ties.map(col): _*)
      }
      // Staleness markers (Prometheus stale NaN, modeled as an explicit
      // flag column): a marker is kept through newest-wins so it MASKS
      // older samples inside the lookback, then the masked series drops.
      // The struct-valued max_by buffer costs ~2x on this hot
      // aggregation (measured: q73 0.63 s -> 1.25 s at sf0.1), so only
      // metrics that actually carry markers pay it — the common
      // unmarked catalog keeps the plain double pick.
      val (pick, unwrap): (Column, DataFrame => DataFrame) = m.stale match {
        case Some(c) =>
          val staleC = coalesce(col(c), lit(false))
          (max_by(struct(col(m.value).cast("double").as("v"),
              staleC.as("st")), ordKey).as("_sv"),
            (d: DataFrame) => d.filter(!col("_sv.st"))
              .withColumn("value", col("_sv.v")).drop("_sv"))
        case None =>
          (max_by(col(m.value).cast("double"), ordKey).as("value"),
            (d: DataFrame) => d)
      }
      (m, df, pick, unwrap)
    }

    /** An `@`-pinned selector evaluated ONCE, ungridded: one row per
      * series (labels + value), no `eval_ms`. */
    private def pinnedUngridded(s: Sel): (Metric, DataFrame) = {
      val (m, df, pick, unwrap) = pickFor(s)
      val atMs = resolveAt(s.at.get)
      // compare on the RAW time column, not unix_micros(time): a
      // predicate on a function of the column never reaches the
      // parquet row-group stats, which turns a 1-lookback read into
      // a full-table scan (measured 13.8 s at the ×100 scale point)
      (m, unwrap(df
        .filter(col(m.time) >=
            timestamp_micros(lit((atMs - lookbackS * 1000L) * 1000L)) &&
          col(m.time) <= timestamp_micros(lit(atMs * 1000L)))
        .groupBy(m.labels.map(col): _*)
        .agg(pick)))
    }

    private def instantUncached(s: Sel): Vec = {
      val (m, df, pick, unwrap) = pickFor(s)
      s.at match {
        case Some(a) =>
          val (_, pinned) = pinnedUngridded(s)
          // grid is tiny (one row per step) — literal-explode replication
          Vec(withGrid(pinned, m), m.labels)
        case None =>
          val out = unwrap(PromRange.withRangeWindow(df, m.time,
              s"${lookbackS * 1000 + 1} milliseconds", stepStr,
              inclusiveEnd = true)
            .groupBy(col("window") +: m.labels.map(col): _*)
            .agg(pick))
            .withColumn("eval_ms", unix_millis(col("window.end")))
            .drop("window")
          Vec(out, m.labels)
      }
    }

    /** The grid's step bounds (kmin, kmax): from `boundsMs` when
      * provided, else the metric's registered `extentMs` (parquet footer
      * stats via [[graft.sources.ParquetStats]] — a metadata lookup, the
      * reference's shard-group time range), else a min/max scan of the
      * metric's own time extent — all ceil'd to step multiples. */
    private def gridBounds(m: Metric): Option[(Long, Long)] = {
      val ssMs = stepS * 1000L
      boundsMs.orElse(m.extentMs)
        // cold parquet-backed metric with no registered extent: footer
        // stats (a driver metadata read) before any scan-stage job
        .orElse(graft.sources.ParquetStats.timeExtentMsOf(m.df, m.time))
        .orElse {
          val b = m.df.agg(min(unix_millis(col(m.time))),
            max(unix_millis(col(m.time)))).collect()(0)
          if (b.isNullAt(0)) None else Some((b.getLong(0), b.getLong(1)))
        }
        .map { case (lo, hi) =>
          // floorDiv-based ceil: truncating `/` rounds toward zero, which
          // disagrees with the oracle's `//` floor for pre-1970 epochs
          (Math.floorDiv(lo + ssMs - 1, ssMs),
            Math.floorDiv(hi + ssMs - 1, ssMs))
        }
    }

    /** The eval-step grid (one `eval_ms` per step) over `bounds` as a
      * frame. */
    private def evalGrid(m: Metric,
                         bounds: Option[(Long, Long)]): DataFrame = {
      val spark = m.df.sparkSession
      val ssMs = stepS * 1000L
      bounds match {
        case None =>
          spark.range(0, 0).select((col("id") * ssMs).as("eval_ms"))
        case Some((kmin, kmax)) =>
          // size the grid's partition count to the grid, not to
          // defaultParallelism — a 700-point hourly grid in 32 slices
          // is 32 near-empty shuffle-map tasks per consumer
          val slices = math.max(1L, math.min(
            spark.sparkContext.defaultParallelism.toLong,
            (kmax + 1 - kmin) / 65536 + 1)).toInt
          spark.range(kmin, kmax + 1, 1, slices)
            .select((col("id") * ssMs).as("eval_ms"))
      }
    }

    /** Replicate `df`'s rows across the eval grid. A driver-small grid
      * (≤ 64k steps, ≈ 512 KB of longs) attaches as ONE exploded array
      * literal — a pure projection, no join and no scheduled job (round
      * 18: the former crossJoin(broadcast(grid)) paid a broadcast-build
      * job per query). Grids past the literal cap keep the broadcast
      * cross join, over the same bounds (for a cold metric each bounds
      * computation can be a scan job). Identical rows either way. */
    private def withGrid(df: DataFrame, m: Metric): DataFrame = {
      val bounds = gridBounds(m)
      bounds match {
        case Some((kmin, kmax)) if kmax + 1 - kmin <= 65536 =>
          df.withColumn("eval_ms",
            explode(typedlit((kmin to kmax).map(_ * stepS * 1000L))))
        case _ => df.crossJoin(broadcast(evalGrid(m, bounds)))
      }
    }

    /** A range-function argument: either a range selector `m[d]` (raw
      * samples) or a subquery `expr[d:r]` (the inner expression evaluated
      * at r-steps becomes the sample stream). */
    private def rangeSource(fn: String, arg: Expr): (DataFrame, Metric,
        Long, Option[Long]) = arg match {
      case s: Sel if s.rangeS.isDefined =>
        // `m[5m] @ T`: rangeFn applies the pin to the window evaluation
        val (m, df0) = metricOf(s)
        // range vectors never contain staleness markers — they are
        // dropped from the window, not treated as samples
        val df = m.stale.map(c =>
          df0.filter(!coalesce(col(c), lit(false)))).getOrElse(df0)
        (df, m.copy(df = df), s.rangeS.get, s.at.map(resolveAt))
      case sq: SubQ =>
        // `expr[d:r] @ T` parses the pin onto a Sel-shaped inner — it
        // belongs to the SUBQUERY (its eval range ends at T), not to the
        // inner selector, so lift it off before evaluating the inner
        val (innerExpr, atMs) = sq.inner match {
          case s: Sel if s.at.isDefined => (s.copy(at = None), s.at.map(resolveAt))
          case e => (e, None)
        }
        // bounded: the inner steps the outer (T − range, T] windows
        // read — around the pin, else the outer bounds widened by the
        // range. Unbounded stays unbounded: the outer grid of a pinned
        // subquery is the inner result's own extent.
        val rangeMs = sq.rangeS * 1000L
        val innerBounds = boundsMs.map { case (lo, hi) =>
          atMs.fold((lo - rangeMs, hi))(a => (a - rangeMs, a)) }
        val inner = new Eval(catalog, sq.stepS.getOrElse(stepS), lookbackS,
          innerBounds, queryMs)
        val v = inner.evalVec(innerExpr) match {
          case Left(x) => x
          case Right(d) => sys.error(s"scalar subquery: $d")
        }
        val df = v.df.withColumn("__ts", timestamp_millis(col("eval_ms")))
        (df, Metric(df, v.labels, time = "__ts", value = "value",
          tie = Nil), sq.rangeS, atMs)
      case other =>
        sys.error(s"function $fn expects a range vector, got $other")
    }

    /** Range vector routed through fn; evaluates per step. With an `@`
      * pin the window is FIXED at (at−range, at]: shift samples so the
      * pin lands on the next step-grid point (relative sample↔boundary
      * distances — what rate extrapolation sees — are preserved), run
      * the normal windowed evaluation, keep only the pinned window, and
      * replicate it across the eval grid (Prometheus `@` semantics). */
    /** Applies an `@` pin to a range-fn input: keep only (at−range, at],
      * shift so the pin lands on the next step-grid point (preserving
      * sample↔boundary distances), and report that grid point. */
    private def pinWindow(df1: DataFrame, m1: Metric, rangeS: Long,
        atMsOpt: Option[Long]): (DataFrame, Metric, Option[Long]) =
      atMsOpt match {
        case None => (df1, m1, None)
        case Some(atMs) =>
          val ssMs = stepS * 1000L
          val tp = Math.floorDiv(atMs + ssMs - 1, ssMs) * ssMs
          val shiftUs = (tp - atMs) * 1000L
          val d2 = df1 // raw-column bounds: parquet row-group prunable
            .filter(col(m1.time) >
                timestamp_micros(lit((atMs - rangeS * 1000L) * 1000L)) &&
              col(m1.time) <= timestamp_micros(lit(atMs * 1000L)))
            .withColumn(m1.time,
              timestamp_micros(unix_micros(col(m1.time)) + shiftUs))
          (d2, m1.copy(df = d2), Some(tp))
      }

    /** Replicates a pinned window's single result across the eval grid. */
    private def unpin(out: DataFrame, pin: Option[Long],
        gridOf: Metric): DataFrame = pin match {
      case None => out
      case Some(tp) =>
        withGrid(
          out.filter(col("eval_ms") === tp).drop("eval_ms"), gridOf)
    }

    private def rangeFn(fn: String, arg: Expr): Vec = {
      val (df1, m1, rangeS, atMsOpt) = rangeSource(fn, arg)
      val (df, m, pin) = pinWindow(df1, m1, rangeS, atMsOpt)
      val range = s"$rangeS seconds"
      val counterCols = Map("rate" -> "rate", "increase" -> "increase",
        "delta" -> "delta", "irate" -> "irate", "idelta" -> "idelta")
      val overCols = Map("sum_over_time" -> "sum_ot",
        "avg_over_time" -> "avg_ot", "min_over_time" -> "min_ot",
        "max_over_time" -> "max_ot", "count_over_time" -> "count_ot",
        "last_over_time" -> "last_v")
      // present_over_time: 1 for any window that holds a sample
      val out =
        if (counterCols.contains(fn))
          PromRange.counterRate(df, m.time, m.value, m.labels, range,
              stepStr, m.tie, inclusiveEnd = true)
            .withColumn("value", col(counterCols(fn)).cast("double"))
        else if (overCols.contains(fn))
          PromRange.overTime(df, m.time, m.value, m.labels, range, stepStr,
              inclusiveEnd = true)
            .withColumn("value", col(overCols(fn)).cast("double"))
        else if (fn == "present_over_time")
          PromRange.overTime(df, m.time, m.value, m.labels, range, stepStr,
              inclusiveEnd = true)
            .withColumn("value", lit(1.0))
        else if (fn == "changes" || fn == "resets")
          PromRange.changesResets(df, m.time, m.value, m.labels, range,
              stepStr, inclusiveEnd = true)
            .withColumn("value", col(fn).cast("double"))
        else sys.error(s"unsupported range function $fn")
      val res = unpin(out, pin, m1)
      Vec(res.select((m.labels.map(col) :+ col("eval_ms") :+
        col("value")): _*), m.labels)
    }

    // -- aggregations ------------------------------------------------------
    private def evalAgg(a: Agg): Vec = {
      // `agg(metric @ t)` peephole: a pinned vector is CONSTANT across
      // eval steps, so every step-wise aggregation commutes with the
      // grid replication. Aggregate the ONE pinned instant (dummy step
      // 0) through the unchanged per-step code below, then attach the
      // grid to the aggregated result — without this, `sum(m @ t)` over
      // a 500k-series metric replicates 500k rows × steps through the
      // aggregation (measured 10 s at the ×100 scale point; now the
      // replicated frame is |groups| × steps).
      val regrid: Option[DataFrame => DataFrame] = a.body match {
        case sel: Sel if sel.at.isDefined =>
          val (m, _) = metricOf(sel)
          Some((d: DataFrame) => withGrid(d.drop("eval_ms"), m))
        case _ => None
      }
      val v = a.body match {
        case sel: Sel if regrid.isDefined =>
          val (m, pinned) = pinnedUngridded(sel)
          Vec(pinned.withColumn("eval_ms", lit(0L)), m.labels)
        case _ => evalVec(a.body) match {
          case Left(x) => x
          case Right(s) => sys.error(s"cannot aggregate scalar $s")
        }
      }
      // no modifier → aggregate everything away (keep = ∅); `without ()`
      // keeps all labels; `by ()` keeps none
      val keep: Seq[String] = (a.by, a.without) match {
        case (Some(bys), _) => bys
        case (None, Some(wo)) => v.labels.filterNot(wo.contains)
        case (None, None) => Nil
      }
      // `by` on a label the input lacks → constant "" (absent label)
      val df0 = keep.foldLeft(v.df)((d, l) =>
        if (d.columns.contains(l)) d else d.withColumn(l, lit("")))
      val groups = (keep :+ "eval_ms").map(col)
      // Non-finite rules (Prometheus): sum/avg propagate NaN and ±Inf
      // (the DECIMAL cast maps all three to null — they must be handled
      // around it), mixed +Inf/−Inf → NaN; min/max skip NaN samples
      // unless the group is all-NaN.
      val v0 = col("value")
      val anyNaN = max(when(isnan(v0), 1).otherwise(0)) === 1
      val anyPos = max(when(v0 === Double.PositiveInfinity, 1)
        .otherwise(0)) === 1
      val anyNeg = max(when(v0 === Double.NegativeInfinity, 1)
        .otherwise(0)) === 1
      def nanOr(c: Column): Column =
        when(anyNaN || (anyPos && anyNeg), lit(Double.NaN))
          .when(anyPos, lit(Double.PositiveInfinity))
          .when(anyNeg, lit(Double.NegativeInfinity))
          .otherwise(c)
      val nonNaN = when(!isnan(v0), v0)
      val aggregated: Vec = a.op match {
        case "sum" =>
          Vec(df0.groupBy(groups: _*)
            .agg(nanOr(dsum(col("value"))).as("value")), keep)
        case "avg" =>
          Vec(df0.groupBy(groups: _*)
            .agg(nanOr(dsum(col("value")) / count(col("value")))
              .as("value")), keep)
        case "min" =>
          Vec(df0.groupBy(groups: _*)
            .agg(coalesce(min(nonNaN), lit(Double.NaN)).as("value")), keep)
        case "max" =>
          Vec(df0.groupBy(groups: _*)
            .agg(coalesce(max(nonNaN), lit(Double.NaN)).as("value")), keep)
        case "count" =>
          Vec(df0.groupBy(groups: _*)
            .agg(count(lit(1)).cast("double").as("value")), keep)
        case "group" =>
          Vec(df0.groupBy(groups: _*).agg(lit(1.0).as("value")), keep)
        case "stddev" =>
          Vec(df0.groupBy(groups: _*)
            .agg(stddev_pop(col("value")).as("value")), keep)
        case "stdvar" =>
          Vec(df0.groupBy(groups: _*)
            .agg(var_pop(col("value")).as("value")), keep)
        case "quantile" =>
          // Prometheus interpolates at rank q·(n−1) — the R-7 estimator,
          // which is exactly Spark's percentile()
          val q = a.param match {
            case Some(Num(v)) => v
            case other => sys.error(s"quantile needs a number: $other")
          }
          Vec(df0.groupBy(groups: _*)
            .agg(expr(s"percentile(value, $q)").as("value")), keep)
        case "count_values" =>
          val label = a.param match {
            case Some(StrArg(s)) => s
            case other => sys.error(s"count_values needs a label: $other")
          }
          // integral values format without the trailing ".0" (Prometheus
          // FormatFloat 'g': 6 → "6"); the destination label is
          // OVERWRITTEN before grouping, so counting a value into a label
          // that is also a grouping key merges across its old values
          val fmt = when(!isnan(col("value")) &&
              col("value") === floor(col("value")) &&
              abs(col("value")) < 1e15,
              col("value").cast("long").cast("string"))
            .otherwise(col("value").cast("string"))
          val outKeep = (keep.filterNot(_ == label) :+ label).distinct
          val out = df0.withColumn(label, fmt)
            .groupBy((outKeep :+ "eval_ms").map(col): _*)
            .agg(count(lit(1)).cast("double").as("value"))
          Vec(out, outKeep)
        case op @ ("topk" | "bottomk") =>
          val k = a.param match {
            case Some(Num(n)) => n.toInt
            case other => sys.error(s"$op needs a number: $other")
          }
          // NaN sorts away from the selected end (Spark would rank NaN as
          // the LARGEST double — exactly backwards for topk). Bounded-heap
          // aggregate instead of a window rank: map-side partials keep ≤k
          // rows per (group, eval step), so the shuffle carries the
          // selected rows only — a window would move every series sample
          // into one partition per group key (SeriesOps.topPerSeries doc).
          graft.expressions.TopKRows.register(df0.sparkSession)
          val sortVal =
            if (op == "topk") nanvl(col("value"), lit(Double.NegativeInfinity))
            else nanvl(col("value"), lit(Double.PositiveInfinity))
          val payload = df0.columns.toSeq
          val sortCols = sortVal.as("_tk_s0") +:
            v.labels.zipWithIndex.map { case (l, i) =>
              col(l).as(s"_tk_s${i + 1}") } // full label set: total order
          val mask = (if (op == "topk") "D" else "A") + "A" * v.labels.size
          val st = struct((sortCols ++ payload.map(col)): _*)
          // result keeps the input series' full label sets
          val out = df0.groupBy((keep :+ "eval_ms").map(col): _*)
            .agg(call_function("topk_rows", st, lit(k),
              lit(1 + v.labels.size), lit(mask)).as("_tk_top"))
            .select(explode(col("_tk_top")).as("_tk_row"))
            .select(payload.map(c => col(s"_tk_row.$c").as(c)): _*)
          Vec(out, v.labels)
        // Prometheus's experimental limit aggregations pick an ARBITRARY
        // k/ratio subset of series; this engine makes the pick
        // deterministic (stable across runs and partitionings) by
        // hashing the series labels — upstream only guarantees the
        // limit_ratio(r) / limit_ratio(-(1-r)) partition property, which
        // the hash split preserves exactly.
        case op @ ("limitk" | "limit_ratio") =>
          val frac = pmod(xxhash64(v.labels.map(col): _*), lit(1000000000L))
            .cast("double") / 1e9
          op match {
            case "limitk" =>
              val k = scalarArg(a.param.getOrElse(
                sys.error("limitk needs a number"))).toInt
              // bounded heap on (hash frac, labels) asc — same shape as
              // topk above, shuffle carries only the picked series
              graft.expressions.TopKRows.register(df0.sparkSession)
              val payload = df0.columns.toSeq
              val sortCols = frac.as("_tk_s0") +:
                v.labels.zipWithIndex.map { case (l, i) =>
                  col(l).as(s"_tk_s${i + 1}") }
              val st = struct((sortCols ++ payload.map(col)): _*)
              val out = df0.groupBy((keep :+ "eval_ms").map(col): _*)
                .agg(call_function("topk_rows", st, lit(k),
                  lit(1 + v.labels.size),
                  lit("A" * (1 + v.labels.size))).as("_tk_top"))
                .select(explode(col("_tk_top")).as("_tk_row"))
                .select(payload.map(c => col(s"_tk_row.$c").as(c)): _*)
              Vec(out, v.labels)
            case _ =>
              val r = scalarArg(a.param.getOrElse(
                sys.error("limit_ratio needs a number")))
              require(r >= -1.0 && r <= 1.0,
                s"limit_ratio must be in [-1, 1]: $r")
              val kept =
                if (r >= 0) frac < lit(r) else frac >= lit(1.0 + r)
              Vec(df0.filter(kept), v.labels)
          }
        case other => sys.error(s"unsupported aggregation $other")
      }
      regrid match {
        case Some(f) => Vec(f(aggregated.df), aggregated.labels)
        case None => aggregated
      }
    }

    // -- functions ---------------------------------------------------------
    private val mathFns: Map[String, Column => Column] = Map(
      "abs" -> abs, "ceil" -> ceil2, "floor" -> floor2, "exp" -> exp,
      "ln" -> log, "log2" -> log2, "log10" -> log10, "sqrt" -> sqrt,
      // trigonometric family (promql functions.go): plain, hyperbolic,
      // inverse, and degree/radian conversion
      "sin" -> sin, "cos" -> cos, "tan" -> tan,
      "sinh" -> sinh, "cosh" -> cosh, "tanh" -> tanh,
      "asin" -> asin, "acos" -> acos, "atan" -> atan,
      "asinh" -> ((c: Column) => log(c + sqrt(c * c + lit(1.0)))),
      "acosh" -> ((c: Column) => log(c + sqrt(c * c - lit(1.0)))),
      "atanh" -> ((c: Column) => lit(0.5) * log((lit(1.0) + c) /
        (lit(1.0) - c))),
      "deg" -> degrees, "rad" -> radians,
      "sgn" -> ((c: Column) => signum(c).cast("double")))
    private def ceil2(c: Column): Column = ceil(c).cast("double")
    private def floor2(c: Column): Column = floor(c).cast("double")

    private def evalFn(f: FnCall): Either[Vec, Scal] = f.fn match {
      case fn if mathFns.contains(fn) =>
        evalVec(f.args.head) match {
          case Left(v) => Left(Vec(v.df.withColumn("value",
            mathFns(fn)(col("value"))), v.labels))
          case Right(SConst(s)) => Right(SConst(scalarMath(fn, s)))
          case Right(STime(g)) => Right(STime(ev => mathFns(fn)(g(ev))))
          case Right(SSteps(df)) => Right(SSteps(
            df.withColumn("_sv", mathFns(fn)(col("_sv")))))
        }
      case "clamp_min" | "clamp_max" | "clamp" =>
        val Left(v) = evalVec(f.args.head): @unchecked
        val lo = f.fn match {
          case "clamp_max" => None
          case _ => Some(scalarArg(f.args(1)))
        }
        val hi = f.fn match {
          case "clamp" => Some(scalarArg(f.args(2)))
          case "clamp_max" => Some(scalarArg(f.args(1)))
          case _ => None
        }
        var c = col("value")
        lo.foreach(l => c = greatest(c, lit(l)))
        hi.foreach(h => c = least(c, lit(h)))
        Left(Vec(v.df.withColumn("value", c), v.labels))
      case "round" =>
        // Prometheus rounds ties UP via the reciprocal:
        // floor(v·(1/to) + 0.5) / (1/to) — the float result differs from
        // the v/to form (e.g. round(2.15, 0.1)), so mirror it exactly
        val Left(v) = evalVec(f.args.head): @unchecked
        val to = if (f.args.size > 1) scalarArg(f.args(1)) else 1.0
        val inv = 1.0 / to
        Left(Vec(v.df.withColumn("value",
          floor(col("value") * lit(inv) + lit(0.5)).cast("double") /
            lit(inv)), v.labels))
      case "pi" =>
        Right(SConst(math.Pi))
      case "timestamp" =>
        // the sample timestamp of each series element — which, for an
        // evaluated instant vector, IS the eval timestamp in seconds
        val Left(v) = evalVec(f.args.head): @unchecked
        Left(Vec(v.df.withColumn("value",
          col("eval_ms").cast("double") / 1000.0), v.labels))
      case "time" =>
        // the eval timestamp in seconds, as a pure function of eval_ms —
        // applied to a vector it reads the partner's own eval_ms column
        Right(STime(ev => ev.cast("double") / 1000.0))
      case "scalar" =>
        // the value of a one-series vector per step; NaN when the series
        // count differs from 1 (Prometheus scalar()). Steps where the
        // argument is empty yield no row — the batch grid is data-derived.
        evalVec(f.args.head) match {
          case Left(v) => Right(SSteps(v.df.groupBy(col("eval_ms"))
            .agg(when(count(lit(1)) === 1, max(col("value")))
              .otherwise(lit(Double.NaN)).as("_sv"))))
          case Right(sc) => Right(sc)
        }
      case "vector" =>
        // scalar → a zero-label instant vector. Data-derived scalars carry
        // their own grid; constants/time() need boundsMs for one.
        evalVec(f.args.head) match {
          case Right(SSteps(df)) => Left(Vec(
            df.select(col("eval_ms"), col("_sv").as("value")), Nil))
          case Right(sc) =>
            require(boundsMs.isDefined,
              "vector(<literal>) needs explicit boundsMs for an eval grid")
            val anyMetric = catalog.values.headOption
              .getOrElse(sys.error("vector(): empty catalog"))
            val c = sc match {
              case SConst(v) => lit(v)
              case STime(g) => g(col("eval_ms"))
              case SSteps(_) => sys.error("unreachable")
            }
            Left(Vec(evalGrid(anyMetric, gridBounds(anyMetric))
              .withColumn("value", c), Nil))
          case Left(v) => sys.error(s"vector() expects a scalar, got $v")
        }
      case "label_replace" =>
        val Left(v) = evalVec(f.args.head): @unchecked
        val Seq(dst, repl, src, re) = f.args.drop(1).map(strArg)
        Left(Vec(PromFunctions.labelReplace(v.df, dst, repl, src, re),
          (v.labels :+ dst).distinct))
      case "label_join" =>
        val Left(v) = evalVec(f.args.head): @unchecked
        val dst = strArg(f.args(1)); val sep = strArg(f.args(2))
        val srcs = f.args.drop(3).map(strArg)
        Left(Vec(PromFunctions.labelJoin(v.df, dst, sep, srcs),
          (v.labels :+ dst).distinct))
      case "histogram_quantile" =>
        val q = scalarArg(f.args.head)
        val Left(v) = evalVec(f.args(1)): @unchecked
        require(v.labels.contains("le"), "histogram_quantile needs 'le'")
        val rest = v.labels.filterNot(_ == "le")
        val df = v.df.withColumn("_le_num",
          when(col("le") === "+Inf", lit(Double.MaxValue))
            .otherwise(col("le").cast("double")))
        val out = PromFunctions.histogramQuantile(df, q,
            rest :+ "eval_ms", le = "_le_num")
          .withColumnRenamed("quantile", "value")
        Left(Vec(out, rest))
      case fn @ ("absent" | "absent_over_time") =>
        // 1 at every eval step where the (filtered) vector is empty. The
        // eval grid derives from the metric's own time extent (a batch
        // range-query has no external start/end); output labels are the
        // selector's equality matchers, per Prometheus.
        val s = f.args.head match {
          case sel: Sel if fn == "absent" && sel.rangeS.isEmpty => sel
          case sel: Sel if fn == "absent_over_time" && sel.rangeS.isDefined =>
            sel
          case other => sys.error(s"$fn: bad argument $other")
        }
        val (m, _) = metricOf(s)
        val present =
          (if (fn == "absent") instant(s).df
           else rangeFn("count_over_time", s).df)
            .select(col("eval_ms")).distinct()
        val grid = evalGrid(m, gridBounds(m))
        val eqLabels = s.matchers.collect { case (l, "=", v) => l -> v }
        var out = grid.join(present, Seq("eval_ms"), "left_anti")
          .withColumn("value", lit(1.0))
        eqLabels.foreach { case (l, v) => out = out.withColumn(l, lit(v)) }
        Left(Vec(out, eqLabels.map(_._1)))
      case "sort" | "sort_desc" =>
        // presentation-order only — the series set is unchanged
        val Left(v) = evalVec(f.args.head): @unchecked
        val ord = if (f.fn == "sort") col("value").asc_nulls_last
                  else col("value").desc_nulls_last
        Left(Vec(v.df.orderBy(ord), v.labels))
      case "sort_by_label" | "sort_by_label_desc" =>
        // experimental Prometheus label-order sort — presentation only
        val Left(v) = evalVec(f.args.head): @unchecked
        val keys = f.args.drop(1).map(strArg)
        require(keys.nonEmpty, s"${f.fn} needs at least one label")
        val ords = keys.map { l =>
          val c = if (v.df.columns.contains(l)) col(l) else lit("")
          if (f.fn == "sort_by_label") c.asc_nulls_first else c.desc_nulls_last
        }
        Left(Vec(v.df.orderBy(ords: _*), v.labels))
      case fn @ ("minute" | "hour" | "day_of_week" | "day_of_month" |
                 "day_of_year" | "days_in_month" | "month" | "year") =>
        // Prometheus date component family: each sample VALUE is an epoch
        // in seconds (truncated toward zero, Go int64 conversion),
        // rendered in UTC. No argument defaults to vector(time()) — the
        // eval timestamp itself (`promql2influxql/call.go` *_prom family).
        val arg =
          if (f.args.nonEmpty) f.args.head
          else FnCall("vector", List(FnCall("time", Nil)))
        val Left(v) = evalVec(arg): @unchecked
        val t = timestamp_seconds(col("value").cast("long"))
        val part = fn match {
          case "minute" => minute(t)
          case "hour" => hour(t)
          // Spark: 1=Sunday..7=Saturday; Prometheus: 0=Sunday..6=Saturday
          case "day_of_week" => dayofweek(t) - lit(1)
          case "day_of_month" => dayofmonth(t)
          case "day_of_year" => dayofyear(t)
          case "days_in_month" => dayofmonth(last_day(t))
          case "month" => month(t)
          case "year" => year(t)
        }
        Left(Vec(v.df.withColumn("value", part.cast("double")), v.labels))
      // Prometheus 3.x renamed holt_winters → double_exponential_smoothing
      case "holt_winters" | "double_exponential_smoothing" =>
        val (df1, m1, rangeS, atMsOpt) = rangeSource(f.fn, f.args.head)
        val (df, m, pin) = pinWindow(df1, m1, rangeS, atMsOpt)
        val sf = scalarArg(f.args(1))
        val tf = scalarArg(f.args(2))
        require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
          "holt_winters smoothing/trend factors must be in (0, 1)")
        val out = PromRange.holtWinters(df, m.time, m.value, m.labels,
            s"$rangeS seconds", stepStr, sf, tf, inclusiveEnd = true)
          .withColumn("value", col("holt_winters").cast("double"))
        Left(Vec(unpin(out, pin, m1).select((m.labels.map(col) :+
          col("eval_ms") :+ col("value")): _*), m.labels))
      case fn @ ("stddev_over_time" | "stdvar_over_time" |
                 "mad_over_time" | "quantile_over_time") =>
        val vecArg =
          if (fn == "quantile_over_time") f.args(1) else f.args.head
        val phi =
          if (fn == "quantile_over_time") Some(scalarArg(f.args.head))
          else None
        val (df1, m1, rangeS, atMsOpt) = rangeSource(fn, vecArg)
        val (df, m, pin) = pinWindow(df1, m1, rangeS, atMsOpt)
        val colName = fn match {
          case "stddev_over_time" => "stddev_ot"
          case "stdvar_over_time" => "stdvar_ot"
          case "mad_over_time" => "mad_ot"
          case _ => "quantile_ot"
        }
        val out = PromRange.statsOverTime(df, m.time, m.value, m.labels,
            s"$rangeS seconds", stepStr, phi, inclusiveEnd = true)
          .withColumn("value", col(colName).cast("double"))
        Left(Vec(unpin(out, pin, m1).select((m.labels.map(col) :+
          col("eval_ms") :+ col("value")): _*), m.labels))
      case fn @ ("deriv" | "predict_linear") =>
        val (df1, m1, rangeS, atMsOpt) = rangeSource(fn, f.args.head)
        val (df, m, pin) = pinWindow(df1, m1, rangeS, atMsOpt)
        val predictS =
          if (fn == "predict_linear") scalarArg(f.args(1)) else 0.0
        val out = PromRange.linearRegression(df, m.time, m.value, m.labels,
            s"$rangeS seconds", stepStr, predictS, inclusiveEnd = true)
          .withColumn("value",
            col(if (fn == "deriv") "deriv" else "predict").cast("double"))
        Left(Vec(unpin(out, pin, m1).select((m.labels.map(col) :+
          col("eval_ms") :+ col("value")): _*), m.labels))
      case fn =>
        // range-vector function over a range selector or subquery
        Left(rangeFn(fn, f.args.head))
    }

    private def scalarMath(fn: String, x: Double): Double = fn match {
      case "abs" => math.abs(x); case "ceil" => math.ceil(x)
      case "floor" => math.floor(x); case "exp" => math.exp(x)
      case "ln" => math.log(x); case "log2" => math.log(x) / math.log(2)
      case "log10" => math.log10(x); case "sqrt" => math.sqrt(x)
      case "sin" => math.sin(x); case "cos" => math.cos(x)
      case "tan" => math.tan(x); case "sinh" => math.sinh(x)
      case "cosh" => math.cosh(x); case "tanh" => math.tanh(x)
      case "asin" => math.asin(x); case "acos" => math.acos(x)
      case "atan" => math.atan(x)
      case "asinh" => math.log(x + math.sqrt(x * x + 1))
      case "acosh" => math.log(x + math.sqrt(x * x - 1))
      case "atanh" => 0.5 * math.log((1 + x) / (1 - x))
      case "deg" => math.toDegrees(x); case "rad" => math.toRadians(x)
      case "sgn" => math.signum(x)
      case o => sys.error(s"scalar math $o unsupported")
    }

    private def scalarArg(e: Expr): Double = e match {
      case Num(v) => v
      case Bin("-", Num(0), Num(v), _, _, _, _, _) => -v
      case other => sys.error(s"expected a number, got $other")
    }
    private def strArg(e: Expr): String = e match {
      case StrArg(s) => s
      case other => sys.error(s"expected a string, got $other")
    }

    // -- binary ops --------------------------------------------------------
    private def evalBin(b: Bin): Either[Vec, Scal] = {
      (evalVec(b.l), evalVec(b.r)) match {
        case (Right(x), Right(y)) => Right(scalScal(b, x, y))
        case (Left(v), Right(sc)) => Left(vecScal(b, v, sc, vecIsLeft = true))
        case (Right(sc), Left(v)) => Left(vecScal(b, v, sc, vecIsLeft = false))
        case (Left(l), Left(r)) => Left(vecVec(b, l, r))
      }
    }

    /** vector ⊙ scalar (either side): const → literal operand; time() →
      * the vector's own eval_ms column; scalar(v) → eval_ms join. No
      * label matching — the scalar applies to every series (Prometheus
      * scalar-vector rule); comparisons filter (or 0/1 with bool). */
    private def vecScal(b: Bin, v: Vec, sc: Scal, vecIsLeft: Boolean): Vec = {
      val (df, operand) = sc match {
        case SConst(s) => (v.df, lit(s))
        case STime(g) => (v.df, g(col("eval_ms")))
        case SSteps(sdf) => (v.df.join(sdf, "eval_ms"), col("_sv"))
      }
      val out =
        if (cmpOps(b.op)) {
          val o = if (vecIsLeft) b.op else flip(b.op)
          if (b.bool) df.withColumn("value",
            when(cmpCol(o, col("value"), operand), 1.0).otherwise(0.0))
          else df.filter(cmpCol(o, col("value"), operand))
        } else {
          val (lc, rc) = if (vecIsLeft) (col("value"), operand)
                         else (operand, col("value"))
          df.withColumn("value", arithCol(b.op, lc, rc))
        }
      Vec(out.drop("_sv"), v.labels)
    }

    /** scalar ⊙ scalar across the three representations; comparisons
      * between scalars require `bool` (Prometheus) and yield 1/0. */
    private def scalScal(b: Bin, x: Scal, y: Scal): Scal = {
      if (cmpOps(b.op)) require(b.bool,
        "comparisons between scalars must use the bool modifier")
      def colFn(s: Scal): Option[Column => Column] = s match {
        case SConst(v) => Some(_ => lit(v))
        case STime(g) => Some(g)
        case SSteps(_) => None
      }
      def apply2(l: Column, r: Column): Column =
        if (cmpOps(b.op)) when(cmpCol(b.op, l, r), 1.0).otherwise(0.0)
        else arithCol(b.op, l, r)
      (x, y) match {
        case (SConst(a), SConst(c)) =>
          if (cmpOps(b.op))
            SConst(if (cmpBool(b.op, a, c)) 1.0 else 0.0)
          else SConst(scalarOp(b.op, a, c))
        case (SSteps(ld), SSteps(rd)) =>
          SSteps(ld.join(rd.withColumnRenamed("_sv", "_sv2"), "eval_ms")
            .withColumn("_sv", apply2(col("_sv"), col("_sv2")))
            .drop("_sv2"))
        case (SSteps(ld), other) =>
          val g = colFn(other).get
          SSteps(ld.withColumn("_sv", apply2(col("_sv"), g(col("eval_ms")))))
        case (other, SSteps(rd)) =>
          val g = colFn(other).get
          SSteps(rd.withColumn("_sv", apply2(g(col("eval_ms")), col("_sv"))))
        case (l, r) => // at least one STime, no SSteps
          val (gl, gr) = (colFn(l).get, colFn(r).get)
          STime(ev => apply2(gl(ev), gr(ev)))
      }
    }

    private def cmpBool(op: String, x: Double, y: Double): Boolean =
      op match {
        case "==" => x == y; case "!=" => x != y
        case ">" => x > y; case "<" => x < y
        case ">=" => x >= y; case "<=" => x <= y
      }

    private def flip(op: String): String = op match {
      case ">" => "<"; case "<" => ">"; case ">=" => "<="
      case "<=" => ">="; case o => o
    }

    private def scalarOp(op: String, x: Double, y: Double): Double =
      op match {
        case "+" => x + y; case "-" => x - y; case "*" => x * y
        case "/" => x / y; case "%" => x % y
        case "^" => math.pow(x, y)
        case "atan2" => math.atan2(x, y)
        case o => sys.error(s"scalar op $o unsupported")
      }

    private def arithCol(op: String, l: Column, r: Column): Column =
      op match {
        case "+" => l + r; case "-" => l - r; case "*" => l * r
        case "/" => l.cast("double") / r.cast("double")
        // Prometheus % is Go math.Mod: sign follows the dividend
        // (Spark/Java % semantics), NOT pmod
        case "%" => l % r; case "^" => pow(l, r)
        case "atan2" => atan2(l.cast("double"), r.cast("double"))
        case o => sys.error(s"vector op $o unsupported")
      }

    private def cmpCol(op: String, l: Column, r: Column): Column = op match {
      case "==" => l === r; case "!=" => l =!= r
      case ">" => l > r; case "<" => l < r
      case ">=" => l >= r; case "<=" => l <= r
    }

    private def vecVec(b: Bin, l: Vec, r: Vec): Vec = {
      // PromQL default matching is on the FULL label set (one-to-one) —
      // align both schemas first: a label a side lacks is the empty string,
      // which is exactly Prometheus's "absent label" matching rule.
      val allLabels = (l.labels ++ r.labels).distinct
      def widen(df: DataFrame) = allLabels.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit("")))
      val ld = widen(l.df); val rd = widen(r.df)
      val keys0 = b.on.getOrElse(allLabels.filterNot(b.ignoring.contains))
      val keys = (keys0 :+ "eval_ms").distinct
      b.op match {
        case "and" =>
          Vec(PromBinOp.and(ld, rd, keys, None, Nil), allLabels)
        case "unless" =>
          Vec(PromBinOp.unless(ld, rd, keys, None, Nil), allLabels)
        case "or" =>
          Vec(ld.unionByName(rd.join(
            ld.select(keys.map(col): _*).distinct(), keys, "left_anti")),
            allLabels)
        case op if Set("+", "-", "*", "/", "%", "^", "atan2")
            .contains(op) =>
          (b.groupLeft, b.groupRight) match {
            case (None, None) =>
              Vec(PromBinOp.arith(ld, rd, op, keys, None, Nil), keys0)
            case (Some(extra), None) => // many(left)-to-one(right)
              val rSel = rd.select((keys.map(col) ++
                extra.map(e => col(e).as(s"_r_$e")) :+
                col("value").as("_rv")): _*)
              var out = ld.join(rSel, keys)
                .withColumn("value", arithCol(op, col("value"), col("_rv")))
                .drop("_rv")
              extra.foreach(e => out = out
                .withColumn(e, col(s"_r_$e")).drop(s"_r_$e"))
              Vec(out, (allLabels ++ extra).distinct)
            case (None, Some(extra)) => // one(left)-to-many(right)
              val lSel = ld.select((keys.map(col) ++
                extra.map(e => col(e).as(s"_l_$e")) :+
                col("value").as("_lv")): _*)
              var out = rd.join(lSel, keys)
                .withColumn("value", arithCol(op, col("_lv"), col("value")))
                .drop("_lv")
              extra.foreach(e => out = out
                .withColumn(e, col(s"_l_$e")).drop(s"_l_$e"))
              Vec(out, (allLabels ++ extra).distinct)
            case _ => sys.error("cannot use both group_left and group_right")
          }
        case op if cmpOps(op) =>
          if (b.bool) {
            val rSel = rd.select((keys.map(col) :+
              col("value").as("_rv")): _*)
            Vec(ld.join(rSel, keys)
              .withColumn("value",
                when(cmpCol(op, col("value"), col("_rv")), 1.0)
                  .otherwise(0.0))
              .drop("_rv"), allLabels)
          } else
            Vec(PromBinOp.comparison(ld, rd, op, keys, None, Nil),
              allLabels)
        case other => sys.error(s"unsupported binary op $other")
      }
    }
    private val cmpOps = Set("==", "!=", ">", "<", ">=", "<=")
  }
}
