package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}
import graft.query.PromQL
import graft.query.PromQL.Metric

/** PromQL frontend: unit cases + a replay of the upstream Prometheus
  * `.test` corpus the reference e2e-loads (`tests/prom_test.go:1429-1441`,
  * corpus `tests/testdata/aggregators.test`). The harness parses `load`
  * blocks (`a+bxN` series notation) and `eval instant at T` cases, skips
  * queries using features outside the supported surface, and requires
  * every attempted case to match.
  */
class PromQLSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- corpus harness
  private case class EvalCase(atS: Long, query: String,
                              expected: Seq[(Map[String, String], Double)],
                              line: Int)

  /** `0+10x10` → 0,10,…,100 ; `3+0x10` ; bare numbers ; NaN ; `stale`
    * (the upstream staleness marker → a flagged sample). */
  private def expandValues(spec: Seq[String])
      : Option[Seq[Option[(Double, Boolean)]]] = {
    val out = Seq.newBuilder[Option[(Double, Boolean)]]
    val rx = """^(-?[0-9.]+)(?:([+-][0-9.]+))?x([0-9]+)$""".r
    for (tok <- spec) tok match {
      case rx(start, inc, n) =>
        val s = start.toDouble
        val i = if (inc == null) 0.0 else inc.toDouble
        (0 to n.toInt).foreach(k => out += Some((s + i * k, false)))
      case "_" => out += None
      case "stale" => out += Some((0.0, true))
      case "NaN" => out += Some((Double.NaN, false))
      case "Inf" | "+Inf" => out += Some((Double.PositiveInfinity, false))
      case "-Inf" => out += Some((Double.NegativeInfinity, false))
      case t if t.matches("-?[0-9.]+(e[+-]?[0-9]+)?") =>
        out += Some((t.toDouble, false))
      case _ => return None // unknown notation — skip the series
    }
    Some(out.result())
  }

  private def parseLabels(s: String): Map[String, String] =
    """(\w+)\s*=\s*"([^"]*)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Build a catalog from accumulated `load` series. */
  private def buildCatalog(
      loads: Seq[(Long, String, Map[String, String],
        Seq[Option[(Double, Boolean)]])]): Map[String, Metric] = {
    loads.groupBy(_._2).map { case (metric, series) =>
      val labelCols = series.flatMap(_._3.keys).distinct.sorted
      var id = 0L
      val rows = series.flatMap { case (stepS, _, labels, vals) =>
        vals.zipWithIndex.collect { case (Some((v, st)), i) =>
          id += 1
          Row.fromSeq(labelCols.map(c => labels.getOrElse(c, "")) ++
            Seq(new Timestamp(i * stepS * 1000L), v, id, st))
        }
      }
      val schema = StructType(
        labelCols.map(StructField(_, StringType)) ++
          Seq(StructField("ts", TimestampType),
            StructField("value", DoubleType), StructField("id", LongType),
            StructField("stale", BooleanType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      metric -> Metric(df, labelCols, time = "ts", value = "value",
        tie = Seq("id"), stale = Some("stale"))
    }
  }

  /** Queries using only features the frontend supports. */
  private def supported(q: String): Boolean = {
    val lower = q.toLowerCase
    val banned = Seq("scalar(", "limitk",
      "limit_ratio", "absent",
      "time()",
      "vector(", "{__name__",
      "big") // near-DoubleMax means need Prometheus's incremental mean
    !banned.exists(lower.contains)
  }

  private def runCorpus(path: String): (Int, Seq[String]) = {
    val lines = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
      .getLines().toVector
    var loads = Vector.empty[(Long, String, Map[String, String],
      Seq[Option[(Double, Boolean)]])]
    var catalog: Option[Map[String, Metric]] = None
    var attempted = 0
    val failures = Seq.newBuilder[String]
    val durRx = """(\d+)([smh])"""
    def durS(s: String): Long = {
      val m = s"^$durRx$$".r.findFirstMatchIn(s).get
      m.group(1).toLong * (m.group(2) match {
        case "s" => 1L; case "m" => 60L; case "h" => 3600L })
    }
    var i = 0
    while (i < lines.length) {
      val line = lines(i).trim
      if (line == "clear") { loads = Vector.empty; catalog = None; i += 1 }
      else if (line.startsWith("load ")) {
        val stepS = durS(line.stripPrefix("load ").trim)
        i += 1
        while (i < lines.length && lines(i).trim.nonEmpty &&
            !lines(i).trim.startsWith("eval") &&
            !lines(i).trim.startsWith("clear") &&
            !lines(i).trim.startsWith("load") &&
            !lines(i).trim.startsWith("#")) {
          val l = lines(i).trim
          val (name, rest) =
            if (l.contains("{")) {
              val b = l.indexOf('{'); val e = l.indexOf('}')
              (l.substring(0, b).trim,
                (parseLabels(l.substring(b, e + 1)),
                  l.substring(e + 1).trim))
            } else {
              val parts = l.split("\\s+", 2)
              (parts(0), (Map.empty[String, String], parts(1)))
            }
          expandValues(rest._2.split("\\s+").toSeq).foreach { vals =>
            loads :+= ((stepS, name, rest._1, vals))
          }
          catalog = None
          i += 1
        }
      }
      else if (line.startsWith("eval instant at ") ||
               line.startsWith("eval_ordered instant at ")) {
        val body = line.replaceFirst("^eval(_ordered)? instant at ", "")
        val sp = body.indexOf(' ')
        val atS = durS(body.substring(0, sp))
        val query = body.substring(sp + 1)
        val evalLine = i
        i += 1
        // scalar expectation: exactly one bare numeric result line
        // (literals.test's whole shape) — folded via evaluateConst,
        // no catalog or Spark job involved
        def scalarOf(t: String): Option[Double] = t match {
          case "NaN" => Some(Double.NaN)
          case "Inf" | "+Inf" => Some(Double.PositiveInfinity)
          case "-Inf" => Some(Double.NegativeInfinity)
          case v => scala.util.Try(v.toDouble).toOption
        }
        val scalarExp =
          if (i < lines.length && !lines(i).trim.contains("{") &&
              lines(i).trim.nonEmpty &&
              (i + 1 >= lines.length || lines(i + 1).trim.isEmpty))
            scalarOf(lines(i).trim)
          else None
        if (scalarExp.isDefined) {
          i += 1
          val res = scala.util.Try(PromQL.evaluateConst(query))
          res.failed.foreach(e => info(
            s"skip line ${evalLine + 1} [$query]: ${e.getMessage.take(120)}"))
          res.toOption.foreach { got =>
            attempted += 1
            val exp = scalarExp.get
            val matches = got == exp || (exp.isNaN && got.isNaN) ||
              math.abs(got - exp) <= 1e-9 * math.max(1.0, math.abs(exp))
            if (!matches)
              failures += s"line ${evalLine + 1}: $query\n  expected " +
                s"$exp\n  got $got"
          }
        } else {
        val expected = Seq.newBuilder[(Map[String, String], Double)]
        var ok = true
        while (i < lines.length && lines(i).trim.nonEmpty &&
            !lines(i).trim.startsWith("#")) {
          val l = lines(i).trim
          val m = """^[\w:]*\{([^}]*)\}\s+(\S+)$""".r.findFirstMatchIn(l)
            .orElse("""^([\w:]+)\s+(-?[\d.]+)$""".r.findFirstMatchIn(l)
              .map(x => x)) // bare-metric results unsupported → None below
          m match {
            case Some(mm) if l.contains("{") =>
              val parsed = mm.group(2) match {
                case "NaN" => Some(Double.NaN)
                case "Inf" | "+Inf" => Some(Double.PositiveInfinity)
                case "-Inf" => Some(Double.NegativeInfinity)
                case v => scala.util.Try(v.toDouble).toOption
              }
              parsed match {
                // finite values near DoubleMax need Prometheus's
                // incremental-mean algorithm — out of scope
                case Some(d) if d.isInfinite || math.abs(d) < 1e300 =>
                  expected += ((parseLabels(mm.group(1)), d))
                case _ => ok = false
              }
            case _ => ok = false
          }
          i += 1
        }
        if (ok && supported(query) && loads.nonEmpty) {
          if (catalog.isEmpty) catalog = Some(buildCatalog(loads))
          val stepForEval = if (atS == 0) 300L else atS
          val res = scala.util.Try {
            PromQL.evaluate(catalog.get, query, s"$stepForEval seconds")
              .filter(org.apache.spark.sql.functions.col("eval_ms") ===
                atS * 1000L)
              .collect()
          }
          res.failed.foreach(e => info(
            s"skip line ${evalLine + 1} [$query]: ${e.getMessage.take(120)}"))
          res.toOption.foreach { rows =>
            attempted += 1
            // normalize: drop ""-labels (absent), compare as sets
            val got = rows.map { r =>
              val fields = r.schema.fieldNames
              val labels = fields.filter(f => f != "eval_ms" && f != "value")
                .map(f => f -> Option(r.getAs[String](f)).getOrElse(""))
                .filter(_._2.nonEmpty).toMap
              labels -> r.getAs[Double]("value")
            }.toSeq
            val exp = expected.result()
            val matches = got.size == exp.size && exp.forall { case (el, ev) =>
              got.exists { case (gl, gv) =>
                gl == el && (gv == ev || (ev.isNaN && gv.isNaN) ||
                  math.abs(gv - ev) <= 1e-6 * math.max(1.0, math.abs(ev)))
              }
            }
            if (!matches)
              failures += s"line ${evalLine + 1}: $query\n  expected " +
                s"${expected.result()}\n  got ${got.toList}"
          }
        }
        }
      }
      else i += 1
    }
    (attempted, failures.result())
  }

  test("replays the upstream aggregators.test corpus subset") {
    val (attempted, failures) = runCorpus(
      "/root/reference/tests/testdata/aggregators.test")
    assert(failures.isEmpty, failures.mkString("\n\n"))
    assert(attempted >= 25, s"only $attempted corpus cases attempted")
  }

  // The reference names selectors/operators/staleness corpus files too
  // (`tests/prom_test.go:1439-1441`) but does not ship them; these are
  // authored to the documented Prometheus semantics in the same format
  // and replayed through the identical harness.
  // histograms.test covers classic le-bucket quantiles; native-histogram
  // notation is out of scope (documented in the corpus header)
  test("replays the authored literals.test corpus in full") {
    val path = getClass.getResource("/promql/literals.test").getPath
    val (attempted, failures) = runCorpus(path)
    assert(failures.isEmpty, failures.mkString("\n\n"))
    // every eval in the file is a scalar fold — nothing may be skipped
    val total = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
      .getLines().count(_.startsWith("eval "))
    assert(attempted == total,
      s"literals: only $attempted/$total cases attempted")
  }

  for (corpus <- Seq("selectors", "operators", "staleness", "functions",
      "histograms", "at_modifier", "subquery"))
    test(s"replays the authored $corpus.test corpus in full") {
      val path = getClass.getResource(s"/promql/$corpus.test").getPath
      val (attempted, failures) = runCorpus(path)
      assert(failures.isEmpty, failures.mkString("\n\n"))
      val total = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8).getLines()
        .count(_.trim.startsWith("eval instant"))
      assert(attempted == total,
        s"$corpus: only $attempted/$total cases attempted — authored " +
          "cases must all run, not be skipped")
    }

  // ------------------------------------------------------------ unit cases
  private lazy val cat: Map[String, Metric] = {
    val reqs = Seq(
      ("api", "0", 10.0), ("api", "1", 20.0), ("web", "0", 30.0))
      .zipWithIndex.map { case ((job, inst, v), i) =>
        (job, inst, new Timestamp(300000L), v, i.toLong)
      }.toDF("job", "instance", "ts", "value", "id")
    Map("requests" -> Metric(reqs, Seq("job", "instance"), tie = Seq("id")))
  }

  test("trig math fns, atan2 binop, sgn, pi, present_over_time") {
    val sin0 = PromQL.evaluate(cat, "sin(requests * 0)", "300 seconds")
      .select("value").as[Double].collect()
    assert(sin0.forall(_ == 0.0))
    val at = PromQL.evaluate(cat, "requests atan2 requests",
        "300 seconds")
      .select("value").as[Double].collect()
    assert(at.forall(v => math.abs(v - math.Pi / 4) < 1e-12))
    val sgn = PromQL.evaluate(cat, "sgn(requests - 15)", "300 seconds")
      .select("value").as[Double].collect().toSet
    assert(sgn == Set(-1.0, 1.0))
    val pi = PromQL.evaluate(cat, "requests * 0 + pi()", "300 seconds")
      .select("value").as[Double].collect()
    assert(pi.forall(_ == math.Pi))
    val pres = PromQL.evaluate(cat,
        "present_over_time(requests[5m])", "300 seconds")
      .select("value").as[Double].collect()
    assert(pres.nonEmpty && pres.forall(_ == 1.0))
  }

  test("% follows the dividend's sign (Go math.Mod), not pmod") {
    val out = PromQL.evaluate(cat, "(requests - 15) % 4", "300 seconds")
      .select("value").as[Double].collect().toSet
    // values 10,20,30 → -5,5,15 → Go math.Mod(−5,4) = −1
    assert(out == Set(-1.0, 1.0, 3.0))
  }

  test("holt_winters tracks trend; sort orders presentation") {
    // 1,2,4 at 5m,10m,15m; sf=tf=0.5 → s0=1,b0=1; s1=2,b1=1; s2=3.5
    val cdf = Seq(1.0, 2.0, 4.0).zipWithIndex.map { case (v, i) =>
      ("a", new Timestamp((i + 1) * 300000L), v, i.toLong)
    }.toDF("job", "ts", "value", "id")
    val cat2 = Map("m" -> Metric(cdf, Seq("job"), tie = Seq("id")))
    val hw = PromQL.evaluate(cat2, "holt_winters(m[15m], 0.5, 0.5)",
        "900 seconds")
      .filter(org.apache.spark.sql.functions.col("eval_ms") === 900000L)
      .select("value").as[Double].collect().toSeq
    assert(hw == Seq(3.5))
    // Prometheus 3.x spelling is an exact alias
    val des = PromQL.evaluate(cat2,
        "double_exponential_smoothing(m[15m], 0.5, 0.5)", "900 seconds")
      .filter(org.apache.spark.sql.functions.col("eval_ms") === 900000L)
      .select("value").as[Double].collect().toSeq
    assert(des == hw)
    val sorted = PromQL.evaluate(cat, "sort_desc(requests)", "300 seconds")
      .select("value").as[Double].collect().toSeq
    assert(sorted == sorted.sorted.reverse)
  }

  test("limitk / limit_ratio pick a deterministic series subset") {
    def at(q: String) = PromQL.evaluate(cat, q, "300 seconds")
      .filter(org.apache.spark.sql.functions.col("eval_ms") === 300000L)
    assert(at("limitk(2, requests)").count() == 2)
    assert(at("limitk(5, requests)").count() == 3) // k past series count
    // deterministic: same subset every evaluation
    val a = at("limitk(2, requests)").select("job", "instance")
      .as[(String, String)].collect().toSet
    val b = at("limitk(2, requests)").select("job", "instance")
      .as[(String, String)].collect().toSet
    assert(a == b)
    // the upstream partition property: limit_ratio(r) and
    // limit_ratio(-(1-r)) split the series exactly
    val lo = at("limit_ratio(0.4, requests)").select("job", "instance")
      .as[(String, String)].collect().toSet
    val hi = at("limit_ratio(-0.6, requests)").select("job", "instance")
      .as[(String, String)].collect().toSet
    assert((lo & hi).isEmpty)
    assert((lo | hi).size == 3)
  }

  test("timestamp() returns the eval time in seconds") {
    val out = PromQL.evaluate(cat, "timestamp(requests)", "300 seconds")
      .filter(org.apache.spark.sql.functions.col("eval_ms") === 300000L)
      .select("value").as[Double].collect()
    assert(out.nonEmpty && out.forall(_ == 300.0))
  }

  test("selector with matchers + regex") {
    val out = PromQL.evaluate(cat, """requests{job=~"a.*"}""", "300 seconds")
      .select("job", "value").as[(String, Double)].collect().toSet
    assert(out == Set(("api", 10.0), ("api", 20.0)))
  }

  test("aggregation by / without") {
    val by = PromQL.evaluate(cat, "sum by (job) (requests)", "300 seconds")
      .select("job", "value").as[(String, Double)].collect().toSet
    assert(by == Set(("api", 30.0), ("web", 30.0)))
    val wo = PromQL.evaluate(cat, "sum without (instance) (requests)",
        "300 seconds")
      .select("job", "value").as[(String, Double)].collect().toSet
    assert(wo == by)
  }

  test("binary op with on() and comparison filter") {
    val ratio = PromQL.evaluate(cat,
        """requests / on(job, instance) sum by (job, instance)(requests)""",
        "300 seconds")
      .select("value").as[Double].collect()
    assert(ratio.forall(_ == 1.0))
    val hot = PromQL.evaluate(cat, "requests > 15", "300 seconds")
      .select("value").as[Double].collect().toSet
    assert(hot == Set(20.0, 30.0))
  }

  test("group_left carries the many side's labels") {
    val out = PromQL.evaluate(cat,
        "requests / on(job) group_left sum by (job)(requests)",
        "300 seconds")
      .select("job", "instance", "value")
      .as[(String, String, Double)].collect().toSet
    assert(out == Set(("api", "0", 10.0 / 30.0), ("api", "1", 20.0 / 30.0),
      ("web", "0", 1.0)))
  }

  test("rate() over a range selector uses Prometheus counter semantics") {
    // counter with one reset: 0,10,20,5 at 0,5,10,15m; eval at 15m [15m]
    val cdf = Seq(0.0, 10.0, 20.0, 5.0).zipWithIndex.map { case (v, i) =>
      ("c0", new Timestamp(i * 300000L), v, i.toLong)
    }.toDF("job", "ts", "value", "id")
    val c = Map("ctr" -> Metric(cdf, Seq("job"), tie = Seq("id")))
    val out = PromQL.evaluate(c, "rate(ctr[15m])", "900 seconds")
      .filter($"eval_ms" === 900000L)
      .select("value").as[Double].collect().head
    // samples at 5,10,15m in (0,15]: rawInc=(5-10)+20=15 over 600s span;
    // durStart=300>thresh=330? no (300<330) → but zero-cap:
    // durZero=600*(10/15)=400 > 300 → keep 300 → extrapolate full left;
    // durEnd=0 → extrap=(600+300+0)/600=1.5 → inc=22.5, rate=22.5/900
    assert(math.abs(out - 22.5 / 900.0) < 1e-12)
  }

  test("deriv and predict_linear from PromQL text") {
    val cdf = Seq(10.0, 20.0, 30.0).zipWithIndex.map { case (v, i) =>
      ("a", new Timestamp((i + 1) * 600000L), v, i.toLong)
    }.toDF("job", "ts", "value", "id")
    val c = Map("m" -> Metric(cdf, Seq("job"), tie = Seq("id")))
    val d = PromQL.evaluate(c, "deriv(m[30m])", "1800 seconds")
      .filter($"eval_ms" === 1800000L).select("value").as[Double]
      .collect().head
    assert(math.abs(d - 1.0 / 60.0) < 1e-6)
    val p = PromQL.evaluate(c, "predict_linear(m[30m], 600)", "1800 seconds")
      .filter($"eval_ms" === 1800000L).select("value").as[Double]
      .collect().head
    assert(math.abs(p - 40.0) < 1e-3) // ramp value at 40min
  }

  test("subquery: range function over an inner aggregation") {
    // two series; sum(m) at 10m-steps = 11, 22, 33 → max over (0,30m] = 33
    val rows = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
      ("b", 1, 10.0), ("b", 2, 20.0), ("b", 3, 30.0))
      .zipWithIndex.map { case ((j, step, v), i) =>
        (j, new Timestamp(step * 600000L), v, i.toLong)
      }.toDF("job", "ts", "value", "id")
    val c = Map("m" -> Metric(rows, Seq("job"), tie = Seq("id")))
    val out = PromQL.evaluate(c, "max_over_time(sum(m)[30m:10m])",
        "1800 seconds")
      .filter($"eval_ms" === 1800000L)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(33.0))
    // bare selector subquery form parses too
    val last = PromQL.evaluate(c, "last_over_time(m[30m:10m])",
        "1800 seconds")
      .filter($"eval_ms" === 1800000L)
      .select("job", "value").as[(String, Double)].collect().toSet
    assert(last == Set(("a", 3.0), ("b", 30.0)))
    // subqueries outside a range function are rejected
    intercept[Exception](PromQL.evaluate(c, "sum(m)[30m:10m]",
      "1800 seconds"))
  }

  test("absent(): 1 on steps with no matching samples, matcher labels") {
    // samples only at 10m and 30m → with 10m steps/lookback, 20m... all
    // steps have lookback [T-10m,T]: 10m ✓, 20m covers (10m sample at
    // exactly T-10m → INCLUSIVE → present), 30m ✓ — use a 5m lookback
    val rows = Seq(("x", new Timestamp(600000L), 1.0, 0L),
      ("x", new Timestamp(1800000L), 2.0, 1L))
      .toDF("job", "ts", "value", "id")
    val c = Map("m" -> Metric(rows, Seq("job"), tie = Seq("id")))
    val out = PromQL.evaluate(c, """absent(m{job="x"})""", "600 seconds",
        lookback = "5 minutes")
      .select("eval_ms", "job", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set((1200000L, "x", 1.0))) // only the 20m step is empty
    val none = PromQL.evaluate(c, """absent(m{job="nope"})""",
        "600 seconds", lookback = "5 minutes")
      .count()
    assert(none == 3L) // absent everywhere on the 10/20/30m grid
  }

  test("parser rejects trailing garbage and unknown metrics") {
    intercept[Exception](PromQL.evaluate(cat, "requests}", "300 seconds"))
    intercept[Exception](PromQL.evaluate(cat, "nope", "300 seconds"))
  }

  test("@ pins a range selector's window and replicates across the grid") {
    // same counter as the rate() test: 0,10,20,5 at 0,5,10,15m
    val cdf = Seq(0.0, 10.0, 20.0, 5.0).zipWithIndex.map { case (v, i) =>
      ("c0", new Timestamp(i * 300000L), v, i.toLong)
    }.toDF("job", "ts", "value", "id")
    val c = Map("ctr" -> Metric(cdf, Seq("job"), tie = Seq("id")))
    val out = PromQL.evaluate(c, "rate(ctr[15m] @ 900)", "900 seconds")
      .select("eval_ms", "value").as[(Long, Double)].collect().toMap
    // grid spans ceil(0)..ceil(15m) at 15m steps → 0 and 900000, and the
    // pinned window's value (22.5/900, see the un-pinned test) appears at
    // BOTH steps — that's the whole point of @
    assert(out.keySet == Set(0L, 900000L))
    assert(out.values.forall(v => math.abs(v - 22.5 / 900.0) < 1e-12))
  }

  test("duplicate modifiers are rejected; negative @ parses") {
    intercept[Exception](
      PromQL.evaluate(cat, "requests offset 5m offset 5m", "300 seconds"))
    intercept[Exception](
      PromQL.evaluate(cat, "rate(requests[5m] @ 100 @ 200)", "300 seconds"))
    // a pre-1970 pin lexes (TOp("-") TNum) and yields an empty result
    // rather than a tokenizer error
    val n = PromQL.evaluate(cat, "rate(requests[5m] @ -300)", "300 seconds")
      .count()
    assert(n == 0L)
  }

  test("unbounded grid over a cold parquet metric reads footer extents: " +
      "no min/max bounds job is scheduled") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_prom_extent").toString
    // INT96 (the spark default) has no INT64 footer stats — write µs,
    // like the driver's testdata and IncAgg's sink do
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    Seq((new Timestamp(0L), 1.0, 1L, "a"),
        (new Timestamp(900000L), 2.0, 2L, "a"))
      .toDF("ts", "value", "id", "job")
      .write.mode("overwrite").parquet(s"$dir/m.parquet")
    // a PLAIN parquet-backed metric with NO registered extent — the
    // footer fallback must supply the grid bounds
    val m = Metric(spark.read.parquet(s"$dir/m.parquet"),
      labels = Seq("job"), time = "ts", value = "value", tie = Seq("id"))
    assert(m.extentMs.isEmpty)
    val coldCat = Map("coldm" -> m)
    // the footer probe itself is a driver-side metadata read, no job
    assert(graft.sources.ParquetStats.timeExtentMsOf(m.df, "ts")
      .contains((0L, 900000L)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def countJobs(body: => Unit): Int = {
        Thread.sleep(200); jobs.set(0)
        body
        Thread.sleep(300) // let the listener bus drain
        jobs.get()
      }
      var out: Array[org.apache.spark.sql.Row] = null
      val coldJobs = countJobs {
        out = PromQL.evaluate(coldCat, "coldm", "300 seconds").collect()
      }
      assert(out.nonEmpty)
      // job-count parity with an explicitly wired extent: the cold path
      // must not add a min/max bounds job on top of the evaluation
      val wired = Map("coldm" -> m.copy(extentMs = Some((0L, 900000L))))
      var out2: Array[org.apache.spark.sql.Row] = null
      val wiredJobs = countJobs {
        out2 = PromQL.evaluate(wired, "coldm", "300 seconds").collect()
      }
      assert(out.length == out2.length)
      assert(coldJobs == wiredJobs,
        s"cold=$coldJobs wired=$wiredJobs — bounds job leaked")
      // a filtered frame must NOT trust footers (wider than the data) —
      // it falls back to the scan path and still answers correctly
      val filtered = Metric(spark.read.parquet(s"$dir/m.parquet")
          .filter(col("value") < 1.5),
        labels = Seq("job"), time = "ts", value = "value", tie = Seq("id"))
      assert(graft.sources.ParquetStats
        .timeExtentMsOf(filtered.df, "ts").isEmpty)
      val out3 = PromQL.evaluate(Map("coldm" -> filtered), "coldm",
        "300 seconds").collect()
      assert(out3.nonEmpty && out3.length < out.length,
        s"${out3.length} vs ${out.length}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---------------------------------------------------- bounded evaluation
  /** Three jobs sampled every ~37 s (jittered) for 6 h from t=0, with a
    * 40-minute hole in job "b" so absent() has steps to report. */
  private lazy val jittered: Map[String, Metric] = {
    val rnd = new scala.util.Random(11)
    val rows = for {
      job <- Seq("a", "b", "c")
      k <- 0 until 580
      t = k * 37000L + rnd.nextInt(5000)
      if !(job == "b" && t > 7200000L && t < 9600000L)
    } yield (job, new Timestamp(t), (k * 3 + rnd.nextInt(7)).toDouble)
    val df = rows.zipWithIndex.map { case ((j, t, v), i) =>
      (j, t, v, i.toLong) }.toDF("job", "ts", "value", "id")
    Map("m" -> Metric(df, Seq("job"), tie = Seq("id")))
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  test("bounded evaluate equals unbounded evaluate clipped to [lo, hi]") {
    import org.apache.spark.sql.functions.col
    val queries = Seq("m", "rate(m[5m])", "m offset 10m",
      "rate(m[5m] @ 9000)", "m @ 7000", "max_over_time(m[10m:1m])",
      "max_over_time(m[10m:1m] @ 9000)",
      "avg_over_time(sum(m)[15m:2m])", """absent(m{job="b"})""",
      "rate(m[5m]) * 2 + on(job) m", "sum(m) - count(m offset 10m)")
    val rnd = new scala.util.Random(5)
    // windows inside the data's extent (outside it the unbounded grid of
    // absent()/`@` has no steps to compare), not aligned to the step
    // (the first one spans job b's hole)
    val windows = (6500001L, 9900001L) +: Seq.fill(3) {
      val lo = 1800000L + rnd.nextInt(14000000)
      (lo, lo + 600000L + rnd.nextInt(3000000))
    }
    for (q <- queries) {
      val sizes = windows.map { case (lo, hi) =>
        val full = PromQL.evaluate(jittered, q, "120 seconds")
          .filter(col("eval_ms").between(lo, hi))
        val bounded = PromQL.evaluate(jittered, q, "120 seconds",
          boundsMs = Some((lo, hi)))
        val (f, b) = (rowSet(full), rowSet(bounded))
        assert(b == f, s"$q over [$lo, $hi]: bounded-only " +
          s"${(b -- f).take(3)}, missing ${(f -- b).take(3)}")
        f.size
      }
      assert(sizes.head > 0, s"$q: empty reference")
    }
  }

  test("a subquery's inner grid is not clipped to the query range") {
    // every (T − 10m, T] window holds 10 one-minute inner steps — also at
    // the first steps of the range
    val (lo, hi) = (3600000L, 7200000L)
    val out = PromQL.evaluate(jittered, "count_over_time(vector(1)[10m:1m])",
        "60 seconds", boundsMs = Some((lo, hi)))
      .select("eval_ms", "value").as[(Long, Double)].collect().toMap
    assert(out.keySet == (lo to hi by 60000L).toSet)
    assert(out.values.forall(_ == 10.0), out.toSeq.sorted.take(5))
  }
}
