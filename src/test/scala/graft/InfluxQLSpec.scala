package graft

import graft.query.InfluxQL
import graft.query.InfluxQL.Measurement
import graft.sources.LineProtocol

/** End-to-end InfluxQL: line-protocol writes → query string → values,
  * mirroring the reference harness shape (`tests/server_test.go`: write
  * points, run query, compare exact results). */
class InfluxQLSpec extends SparkSpec {
  import spark.implicits._

  // cpu measurement: 2 hosts × points at t=0s,60s,120s (epoch ns)
  private lazy val cpu: Measurement = {
    val lines = Seq(
      "cpu,host=server01 value=10,core=1i 0",
      "cpu,host=server01 value=20,core=2i 60000000000",
      "cpu,host=server01 value=30,core=3i 120000000000",
      "cpu,host=server02 value=100 0",
      "cpu,host=server02 value=200 120000000000").toDS()
    val df = LineProtocol.toMeasurementTable(LineProtocol.parse(lines), "cpu",
      tagKeys = Seq("host"), floatKeys = Seq("value"), intKeys = Seq("core"))
    Measurement(df, tags = Seq("host"))
  }
  private lazy val catalog = Map("cpu" -> cpu)

  private def run(q: String) = InfluxQL.execute(catalog, q)

  test("aggregate with tag grouping") {
    val out = run("SELECT mean(value), max(value) FROM cpu GROUP BY host")
      .select("host", "mean", "max").as[(String, Double, Double)]
      .collect().toSet
    assert(out == Set(("server01", 20.0, 30.0), ("server02", 150.0, 200.0)))
  }

  test("GROUP BY time(1m) windows align to epoch") {
    val out = run(
      "SELECT sum(value) FROM cpu WHERE host = 'server01' " +
      "GROUP BY time(1m) fill(none)")
      .select("time", "sum").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 10.0), (60000L, 20.0), (120000L, 30.0)))
  }

  test("lexer: backslash escapes inside single-quoted strings") {
    // reference scanner ScanString: \' and \\ round-trip; an
    // escape-blind lexer would end the string at the embedded quote
    import InfluxQL.TStr
    val toks = InfluxQL.lex("""SELECT 'it\'s' , 'a\\b' , 'x\d'""")
    assert(toks.collect { case TStr(s) => s } ==
      List("it's", """a\b""", """x\d"""))
    // a string whose content is an escaped quote only — still terminated
    assert(InfluxQL.lex("""'\''""") == List(TStr("'")))
    intercept[IllegalArgumentException](InfluxQL.lex("""'unterminated\'"""))
    // predicate comparison with an escaped quote evaluates (0 matches)
    val out = run("""SELECT count(value) FROM cpu WHERE host = 'it\'s'""")
    assert(out.count() == 0 || out.select("count").as[Long].head() == 0L)
  }

  test("regex tag predicate and selector functions") {
    val out = run(
      "SELECT first(value), last(value), spread(value) FROM cpu WHERE host =~ /server0[0-9]/ GROUP BY host")
      .select("host", "first", "last", "spread")
      .as[(String, Double, Double, Double)].collect().toSet
    assert(out == Set(("server01", 10.0, 30.0, 20.0),
      ("server02", 100.0, 200.0, 100.0)))
  }

  test("time range predicate prunes points") {
    val out = run(
      "SELECT count(value) FROM cpu WHERE time >= '1970-01-01 00:01:00' GROUP BY host")
      .select("host", "count").as[(String, Long)].collect().toSet
    assert(out == Set(("server01", 2L), ("server02", 1L)))
  }

  test("fill(previous) carries values across empty buckets") {
    val out = run(
      "SELECT mean(value) FROM cpu WHERE host = 'server02' AND " +
      "time < '1970-01-01T00:03:00Z' GROUP BY host, time(1m) " +
      "fill(previous)")
      .select("time", "mean").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 100.0), (60000L, 100.0), (120000L, 200.0)))
  }

  test("fill(previous) with tz() and time(d, offset) fills the local grid") {
    // points at 05:00Z Jan 1 / Jan 3 2024 = 00:00 EST Jan 1 / Jan 3;
    // 1d buckets at a 4h local offset start at 04:00 EST, so both points
    // fall in buckets starting 04:00 EST the PREVIOUS local day =
    // 09:00:00Z Dec 31 / Jan 2 — and fill(previous) bridges the Jan 1
    // local-day gap with the Dec 31 bucket's value.
    val jan1 = 1704085200000000000L // 2024-01-01T05:00:00Z in epoch ns
    val jan3 = jan1 + 2L * 86400000000000L
    val lines = Seq(
      s"m,host=a value=1 $jan1",
      s"m,host=a value=9 $jan3").toDS()
    val df = LineProtocol.toMeasurementTable(LineProtocol.parse(lines), "m",
      tagKeys = Seq("host"), floatKeys = Seq("value"))
    val out = InfluxQL.execute(Map("m" -> Measurement(df, tags = Seq("host"))),
        "SELECT mean(value) FROM m GROUP BY host, time(1d, 4h) " +
        "fill(previous) TZ('America/New_York')")
      .select("time", "mean").as[(Long, Double)].collect().toSeq
      .sortBy(_._1)
    val dec31_0900Z = 1704013200000L // bucket start 04:00 EST Dec 31, as UTC
    assert(out == Seq(
      (dec31_0900Z, 1.0),
      (dec31_0900Z + 86400000L, 1.0),  // empty local day → LOCF
      (dec31_0900Z + 2 * 86400000L, 9.0)))
  }

  test("fill(100) substitutes constant; fill(linear) interpolates") {
    val v = run(
      "SELECT mean(value) FROM cpu WHERE host = 'server02' GROUP BY host, time(1m) fill(7)")
      .select("mean").as[Double].collect().toSeq
    assert(v == Seq(100.0, 7.0, 200.0))
    val l = run(
      "SELECT mean(value) FROM cpu WHERE host = 'server02' GROUP BY host, time(1m) fill(linear)")
      .select("mean").as[Double].collect().toSeq
    assert(l == Seq(100.0, 150.0, 200.0))
  }

  test("ORDER BY time DESC + global IgnoreTag LIMIT") {
    // the reference's LIMIT is global over the series-major stream, and
    // DESC reverses series order too (server_test.go:10481,
    // schema.go:1265 IgnoreTag limit): 1 row = newest row of the LAST
    // series in tag order
    val out = run(
      "SELECT value FROM cpu GROUP BY host ORDER BY time DESC LIMIT 1")
      .select("host", "value").as[(String, Double)].collect().toSet
    assert(out == Set(("server02", 200.0)))
  }

  test("SLIMIT limits the number of series") {
    val out = run("SELECT value FROM cpu GROUP BY host SLIMIT 1")
      .select("host").distinct().as[String].collect().toSeq
    assert(out == Seq("server01"))
  }

  test("SLIMIT with SOFFSET skips leading series") {
    val out = run("SELECT value FROM cpu GROUP BY host SLIMIT 1 SOFFSET 1")
      .select("host").distinct().as[String].collect().toSeq
    assert(out == Seq("server02"))
  }

  test("UNION / UNION ALL / UNION BY NAME") {
    val all = run("SELECT count(value) FROM cpu WHERE host = 'server01' " +
      "UNION ALL SELECT count(value) FROM cpu WHERE host = 'server01'")
      .select("count").as[Long].collect().toSeq
    assert(all == Seq(3L, 3L))
    val dedup = run("SELECT count(value) FROM cpu WHERE host = 'server01' " +
      "UNION SELECT count(value) FROM cpu WHERE host = 'server01'")
      .select("count").as[Long].collect().toSeq
    assert(dedup == Seq(3L))
    val byName = run("SELECT count(value) FROM cpu " +
      "UNION ALL BY NAME SELECT count(value) FROM cpu")
      .select("count").as[Long].collect().toSeq
    assert(byName == Seq(5L, 5L))
  }

  test("IN and NOT IN subqueries compile to semi/anti joins") {
    val in = run("SELECT count(value) FROM cpu WHERE core IN " +
      "(SELECT core FROM cpu WHERE value >= 20)")
      .select("count").as[Long].collect().head
    assert(in == 2L) // cores 2,3
    val notIn = run("SELECT count(value) FROM cpu WHERE core NOT IN " +
      "(SELECT core FROM cpu WHERE value >= 20)")
      .select("count").as[Long].collect().head
    assert(notIn == 1L) // core 1 (server02 rows have null core → dropped)
  }

  test("SHOW statements") {
    assert(run("SHOW MEASUREMENTS").as[String].collect().toSeq == Seq("cpu"))
    assert(run("SHOW TAG KEYS FROM cpu").as[String].collect().toSeq ==
      Seq("host"))
    assert(run("SHOW TAG VALUES FROM cpu WITH KEY = host")
      .as[(String, String)].collect().toSet ==
      Set(("host", "server01"), ("host", "server02")))
    val fields = run("SHOW FIELD KEYS FROM cpu")
      .as[(String, String)].collect().toMap
    assert(fields.contains("value") && fields.contains("core"))
  }

  test("GROUP BY time(d, offset) shifts the bucket grid") {
    val out = run("SELECT count(value) FROM cpu WHERE host = 'server01' " +
      "GROUP BY time(1m, 30s)")
      .select("time", "count").as[(Long, Long)].collect().toSeq
    // buckets [-30s,30s),[30s,90s),[90s,150s) → t=0 | t=60 | t=120
    assert(out == Seq((-30000L, 1L), (30000L, 1L), (90000L, 1L)))
  }

  test("tz() buckets on local-time boundaries") {
    // UTC-5 (Jan): t=0 epoch is 19:00 NY on Dec 31 → the 1d NY bucket
    // starts 1969-12-31T05:00Z = epoch -68400000 ms
    val out = run("SELECT count(value) FROM cpu GROUP BY time(1d) " +
      "TZ('America/New_York')")
      .select("time", "count").as[(Long, Long)].collect().toSeq
    assert(out == Seq((-68400000L, 5L)))
  }

  test("GROUP BY * resolves through subqueries and CTEs") {
    val out = run("SELECT max(mean) FROM " +
      "(SELECT mean(value) FROM cpu GROUP BY *, time(1m)) GROUP BY host")
      .select("host", "max").as[(String, Double)].collect().toSet
    assert(out == Set(("server01", 30.0), ("server02", 200.0)))
    val cte = run("WITH m AS (SELECT mean(value) FROM cpu GROUP BY *) " +
      "SELECT max(mean) FROM m GROUP BY host")
      .select("host", "max").as[(String, Double)].collect().toSet
    assert(cte == Set(("server01", 20.0), ("server02", 150.0)))
  }

  test("SELECT INTO registers the result as a measurement") {
    val (cat2, df) = InfluxQL.executeInto(catalog,
      "SELECT mean(value) INTO rollup FROM cpu GROUP BY host")
    assert(df.count() == 2)
    assert(cat2.contains("rollup"))
    val back = InfluxQL.execute(cat2,
        "SELECT max(mean) FROM rollup GROUP BY host")
      .select("host", "max").as[(String, Double)].collect().toSet
    assert(back == Set(("server01", 20.0), ("server02", 150.0)))
    // qualified INTO target: db.rp routing is stripped like FROM
    val (cat3, _) = InfluxQL.executeInto(catalog,
      "SELECT mean(value) INTO graft.autogen.rollup2 FROM cpu GROUP BY host")
    assert(cat3.contains("rollup2"))
  }

  test("now() in WHERE time predicates") {
    // the fixture lives at epoch 0..2min, far before now() - 1h
    val past = run("SELECT count(value) FROM cpu WHERE time < now() - 1h")
      .select("count").as[Long].collect().head
    assert(past == 5L)
    val future = run("SELECT count(value) FROM cpu WHERE time > now()")
    assert(future.collect().isEmpty)
  }

  test("time literals with explicit UTC offsets parse") {
    val out = run("SELECT count(value) FROM cpu " +
      "WHERE time >= '1970-01-01T00:01:00+00:00' GROUP BY host")
      .select("host", "count").as[(String, Long)].collect().toSet
    assert(out == Set(("server01", 2L), ("server02", 1L)))
  }

  test("fill(0) keeps integer-typed columns integral") {
    val out = run("SELECT count(value) FROM cpu WHERE host = 'server02' " +
      "GROUP BY host, time(1m) fill(0)")
      .select("count").as[Long].collect().toSeq
    assert(out == Seq(1L, 0L, 1L))
  }

  test("sample(f, n) draws n deterministic rows per series; mode() works") {
    val out = run("SELECT sample(value, 2) FROM cpu GROUP BY host")
      .select("host", "sample").as[(String, Double)].collect()
    assert(out.count(_._1 == "server01") == 2)
    assert(out.count(_._1 == "server02") == 2)
    val again = run("SELECT sample(value, 2) FROM cpu GROUP BY host")
      .select("host", "sample").as[(String, Double)].collect()
    assert(out.toSet == again.toSet) // deterministic selection
    val m = run("SELECT mode(core) FROM cpu WHERE host = 'server01'")
      .select("mode").as[Long].collect().head
    assert(Set(1L, 2L, 3L).contains(m)) // all unique → any one value
  }

  test("ANSI guards: 1-point stddev/rate/irate and all-null percentile " +
      "yield null, not runtime errors") {
    // server02 has one point before 1m — stddev/rate/irate over a
    // 1-point group are null (reference golden server_test.go:2232),
    // never DIVIDE_BY_ZERO / INVALID_ARRAY_INDEX under ANSI
    val one = run("SELECT stddev(value), rate(value), irate(value) " +
      "FROM cpu WHERE host = 'server02' AND time < '1970-01-01T00:01:00Z'")
      .select("stddev", "rate", "irate")
      .as[(Option[Double], Option[Double], Option[Double])].collect().head
    assert(one == ((None, None, None)))
    // server02 never writes `core`: the group row survives via count
    // and the all-null percentile renders null (not
    // INVALID_ARRAY_INDEX on the empty collected array)
    val p = run("SELECT count(value), percentile(core, 50) FROM cpu " +
      "GROUP BY host")
      .select("host", "count", "percentile")
      .as[(String, Long, Option[Long])].collect()
      .map { case (h, c, pc) => h -> ((c, pc)) }.toMap
    assert(p("server01") == ((3L, Some(2L))) &&
      p("server02") == ((2L, None)))
  }

  test("hint stripping is quote-aware") {
    // keepHints: a hint is kept, a plain comment is stripped, a quoted
    // "/* x */" is content, an unterminated comment strips to the end
    def keep(s: String) = InfluxQL.stripComments(s, keepHints = true)
    assert(keep("SELECT /*+ f */ value FROM cpu") ==
      "SELECT /*+ f */ value FROM cpu")
    assert(keep("SHOW /* c */ MEASUREMENTS") == "SHOW   MEASUREMENTS")
    val quoted = "SELECT value FROM cpu WHERE msg = 'a /* x */ b'"
    assert(keep(quoted) == quoted)
    assert(keep("SELECT value FROM cpu /* open") == "SELECT value FROM cpu  ")
    // strip-all: hints go too (the SHOW path and the parser)
    assert(!InfluxQL.stripComments("SELECT /*+ f */ value FROM cpu",
      keepHints = false).contains("/*"))
    assert(!InfluxQL.stripComments("SHOW /* c */ MEASUREMENTS",
      keepHints = false).contains("/*"))
    val quotedHint = "SELECT value FROM cpu WHERE msg = 'a /*+ x */ b'"
    assert(InfluxQL.stripComments(quotedHint, keepHints = false) == quotedHint)
  }

  test("scalar string functions through the text frontend") {
    // str=contains, substr 0-based, position 1-based (0 absent) —
    // string_functions.go semantics
    val out = run("SELECT str(host, '01') AS s, substr(host, 1, 4) AS ss, " +
      "position(host, 'erv') AS p, strlen(host) AS l FROM cpu " +
      "WHERE value = 10")
      .select("s", "ss", "p", "l")
      .as[(Boolean, String, Long, Long)].collect().head
    assert(out == ((true, "erve", 2L, 8L)))
    // wait — host is a TAG; tags project as strings through scalars
    val jm = run("SELECT json_object('h', host, 'v', value) AS j " +
      "FROM cpu WHERE value = 200").select("j").as[String].collect().head
    assert(jm == """{"h":"server02","v":200}""", jm)
  }

  test("global aggregate without grouping") {
    val out = run("SELECT count(value), percentile(value, 50) FROM cpu")
      .select("count", "percentile").as[(Long, Double)].collect().head
    assert(out._1 == 5L && out._2 == 30.0)
  }

  test("derivative over aggregated buckets (reference ladder order)") {
    val out = run(
      "SELECT derivative(mean(value)) FROM cpu WHERE host = 'server01' GROUP BY host, time(1m)")
      .select("time", "derivative").as[(Long, Double)].collect().toSeq
    // means 10,20,30 at 1m spacing → 10/60 per second
    assert(out == Seq((60000L, 10.0 / 60), (120000L, 10.0 / 60)))
  }

  test("cumulative_sum and moving_average over buckets") {
    val cs = run(
      "SELECT cumulative_sum(sum(value)) FROM cpu WHERE host = 'server01' GROUP BY host, time(1m)")
      .select("cumulative_sum").as[Double].collect().toSeq
    assert(cs == Seq(10.0, 30.0, 60.0))
    val ma = run(
      "SELECT moving_average(mean(value), 2) FROM cpu WHERE host = 'server01' GROUP BY host, time(1m)")
      .select("moving_average").as[Double].collect().toSeq
    assert(ma == Seq(15.0, 25.0))
  }

  test("difference over raw points per series") {
    val out = run("SELECT difference(value) FROM cpu GROUP BY host")
      .select("host", "difference").as[(String, Double)].collect().toSet
    assert(out == Set(("server01", 10.0), ("server02", 100.0)))
  }

  test("FROM /regex/ unions matching measurements") {
    val lines = Seq("cpu1,host=a value=1 0", "cpu2,host=a value=10 0",
      "mem,host=a value=100 0").toDS()
    val pts = LineProtocol.parse(lines)
    def mst(name: String) = Measurement(LineProtocol.toMeasurementTable(
      pts, name, tagKeys = Seq("host"), floatKeys = Seq("value")),
      tags = Seq("host"))
    val cat = Map("cpu1" -> mst("cpu1"), "cpu2" -> mst("cpu2"),
      "mem" -> mst("mem"))
    val out = InfluxQL.execute(cat, "SELECT sum(value) FROM /cpu/ GROUP BY host")
      .select("sum").as[Double].collect().toSeq
    assert(out == Seq(11.0)) // cpu1 + cpu2, mem excluded
  }

  test("JOIN on tags merges two measurements") {
    val lines = Seq(
      "mem,host=server01 used=7 0", "mem,host=server01 used=9 60000000000",
      "mem,host=server02 used=50 0").toDS()
    val mem = Measurement(LineProtocol.toMeasurementTable(
      LineProtocol.parse(lines), "mem",
      tagKeys = Seq("host"), floatKeys = Seq("used")), tags = Seq("host"))
    val cat = catalog + ("mem" -> mem)
    val out = InfluxQL.execute(cat,
      "SELECT mean(value), mean(used) FROM cpu JOIN mem ON host GROUP BY host")
      .select("host", "mean").as[(String, Double)].collect().toMap
    // inner join fans cpu rows × mem rows per host; mean(value) over the
    // fanned rows: server01 cpu(10,20,30)×mem(2) → mean 20; server02 → 150
    assert(out == Map("server01" -> 20.0, "server02" -> 150.0))
    val lj = InfluxQL.execute(cat,
      "SELECT count(used) FROM cpu LEFT JOIN mem ON host GROUP BY host")
      .select("host", "count").as[(String, Long)].collect().toMap
    assert(lj == Map("server01" -> 6L, "server02" -> 2L))
  }

  test("JOIN of two subqueries with aliases and qualified ON keys") {
    // reference sql_test.go:205-221 — `FROM (SELECT…) AS t1 LEFT JOIN
    // (SELECT…) AS t2 ON (t1.x = t2.x and …)` with qualified projections
    val lines = Seq(
      "mem,host=server01 used=7 0", "mem,host=server01 used=9 60000000000",
      "mem,host=server03 used=50 0").toDS()
    val mem = Measurement(LineProtocol.toMeasurementTable(
      LineProtocol.parse(lines), "mem",
      tagKeys = Seq("host"), floatKeys = Seq("used")), tags = Seq("host"))
    val cat = catalog + ("mem" -> mem)
    val out = InfluxQL.execute(cat,
      "SELECT t1.vsum, t2.usum FROM " +
        "(SELECT sum(value) AS vsum FROM cpu GROUP BY host) AS t1 " +
        "INNER JOIN (SELECT sum(used) AS usum FROM mem GROUP BY host) " +
        "AS t2 ON (t1.host = t2.host) GROUP BY host")
      .select("host", "`t1.vsum`", "`t2.usum`")
      .as[(String, Double, Double)].collect().toSet
    // only server01 is in both: cpu 10+20+30, mem 7+9
    assert(out == Set(("server01", 60.0, 16.0)))
    // LEFT JOIN keeps server02 with a null right side; bare OUTER JOIN
    // (= full join, ast.go:7439) keeps all three hosts
    val lj = InfluxQL.execute(cat,
      "SELECT t1.vsum, t2.usum FROM " +
        "(SELECT sum(value) AS vsum FROM cpu GROUP BY host) AS t1 " +
        "LEFT JOIN (SELECT sum(used) AS usum FROM mem GROUP BY host) " +
        "AS t2 ON t1.host = t2.host GROUP BY host")
    assert(lj.select("host").as[String].collect().toSet ==
      Set("server01", "server02"))
    val fj = InfluxQL.execute(cat,
      "SELECT t1.vsum, t2.usum FROM " +
        "(SELECT sum(value) AS vsum FROM cpu GROUP BY host) AS t1 " +
        "OUTER JOIN (SELECT sum(used) AS usum FROM mem GROUP BY host) " +
        "AS t2 ON host GROUP BY host")
    assert(fj.select("host").as[String].collect().toSet ==
      Set("server01", "server02", "server03"))
    // measurement AS alias + suffix-renamed collision via qualified ref
    val ma = InfluxQL.execute(cat,
      "SELECT t2.used FROM cpu AS t1 INNER JOIN mem AS t2 ON host " +
        "WHERE t2.used > 8")
    // inner join on host keeps server01 only (mem server03 unmatched);
    // used>8 leaves the 9.0 point, fanned across the three cpu rows
    assert(ma.select("`t2.used`").as[Double].collect().toSet == Set(9.0))
  }

  test("subquery: outer aggregate over inner per-tag aggregates") {
    val out = run(
      "SELECT mean(max) FROM (SELECT max(value) FROM cpu GROUP BY host)")
      .select("mean").as[Double].collect().head
    assert(out == (30.0 + 200.0) / 2) // mean of per-host maxima
    val nested = run(
      "SELECT sum(count) FROM (SELECT count(value) FROM cpu WHERE value > 15 GROUP BY host)")
      .select("sum").as[Double].collect().head
    assert(nested == 4.0) // server01: 20,30 ; server02: 100,200
  }

  test("arithmetic projections: materialize + int/int division is float") {
    val out = run(
      "SELECT value * 2 + core AS v2, core / 2 AS half FROM cpu WHERE host = 'server01'")
      .orderBy("time").select("v2", "half").as[(Double, Double)].collect()
    assert(out.toSeq == Seq((21.0, 0.5), (42.0, 1.0), (63.0, 1.5)))
  }

  test("arithmetic over aggregates") {
    val out = run(
      "SELECT mean(value) * 100 / max(value) AS pct FROM cpu GROUP BY host")
      .select("host", "pct").as[(String, Double)].collect().toMap
    assert(out == Map("server01" -> 2000.0 / 30, "server02" -> 7500.0 / 100))
  }

  test("WHERE: parentheses and AND/OR precedence") {
    // AND binds tighter: matches (server01 AND >15) OR value=100
    val flat = run(
      "SELECT value FROM cpu WHERE host = 'server01' AND value > 15 OR value = 100")
      .select("value").as[Double].collect().toSet
    assert(flat == Set(20.0, 30.0, 100.0))
    // parens override: server01 AND (>15 OR =100) → only server01 rows
    val grouped = run(
      "SELECT value FROM cpu WHERE host = 'server01' AND (value > 15 OR value = 100)")
      .select("value").as[Double].collect().toSet
    assert(grouped == Set(20.0, 30.0))
  }

  test("top/bottom selectors keep timestamps per series") {
    val top = run("SELECT top(value, 2) FROM cpu GROUP BY host")
      .select("host", "time", "top").as[(String, Long, Double)]
      .collect().toSet
    assert(top == Set(("server01", 120000L, 30.0), ("server01", 60000L, 20.0),
      ("server02", 120000L, 200.0), ("server02", 0L, 100.0)))
    val bottom = run("SELECT bottom(value, 1) FROM cpu GROUP BY host")
      .select("host", "bottom").as[(String, Double)].collect().toSet
    assert(bottom == Set(("server01", 10.0), ("server02", 100.0)))
  }

  test("LIKE and MATCH predicates") {
    val like = run("SELECT count(value) FROM cpu WHERE host LIKE 'server%'")
      .select("count").as[Long].collect().head
    assert(like == 5L)
    val like1 = run("SELECT count(value) FROM cpu WHERE host LIKE '%01'")
      .select("count").as[Long].collect().head
    assert(like1 == 3L)
  }

  test("WITH: CTE usable as a measurement by the main query") {
    val out = run(
      "WITH hosted AS (SELECT max(value) FROM cpu GROUP BY host) " +
      "SELECT mean(max) FROM hosted")
      .select("mean").as[Double].collect().head
    assert(out == (30.0 + 200.0) / 2)
    // CTE referenced by a later CTE
    val chained = run(
      "WITH a AS (SELECT max(value) FROM cpu GROUP BY host), " +
      "b AS (SELECT sum(max) FROM a) SELECT count(sum) FROM b")
      .select("count").as[Long].collect().head
    assert(chained == 1L)
  }

  test("blank rows: all-null projected fields are not emitted") {
    // server02 points have no `core` field → rows vanish from SELECT core
    val out = run("SELECT core FROM cpu GROUP BY host")
      .select("host", "core").as[(String, Long)].collect().toSet
    assert(out == Set(("server01", 1L), ("server01", 2L), ("server01", 3L)))
    // but remain when any projected field is present
    val both = run("SELECT core, value FROM cpu GROUP BY host")
    assert(both.count() == 5)
  }

  test("GROUP BY * expands to all measurement tags") {
    val out = run("SELECT count(value) FROM cpu GROUP BY *")
      .select("host", "count").as[(String, Long)].collect().toMap
    assert(out == Map("server01" -> 3L, "server02" -> 2L))
  }

  test("golden: math on selected fields (server_test.go:1178 shape)") {
    val out = run(
      "SELECT value / 2 + core AS mixed FROM cpu WHERE host = 'server01'")
      .orderBy("time").select("mixed").as[Double].collect().toSeq
    assert(out == Seq(6.0, 12.0, 18.0))
  }

  test("golden: duration literals in time predicates") {
    // time >= 1m relative to epoch: duration literal compares as ns → µs
    val out = run("SELECT count(value) FROM cpu WHERE time >= 1m GROUP BY host")
      .select("host", "count").as[(String, Long)].collect().toMap
    assert(out == Map("server01" -> 2L, "server02" -> 1L))
  }

  test("golden: OFFSET pages through the global row stream") {
    // IgnoreTag limit: OFFSET skips rows of the series-major stream
    // (server_test.go:5061 "group by * limit 3 offset 1" skips az_0's
    // row, not one row per series)
    val out = run(
      "SELECT value FROM cpu GROUP BY host ORDER BY time ASC LIMIT 1 OFFSET 1")
      .select("host", "value").as[(String, Double)].collect().toSet
    assert(out == Set(("server01", 20.0)))
  }

  test("raw projection returns fields with tags") {
    val out = run("SELECT value FROM cpu WHERE value > 150")
      .select("time", "value").as[(Long, Double)].collect().toSeq
    assert(out == Seq((120000L, 200.0)))
  }

  test("math functions: composed, inside and over aggregates") {
    // cpu server01 values: 10, 20, 30
    val sq = run("SELECT sqrt(abs(value - 20)) AS s FROM cpu " +
        "WHERE host = 'server01'")
      .select("s").as[Double].collect().toSet
    assert(sq == Set(math.sqrt(10.0), 0.0))
    val agg = run("SELECT mean(abs(value - 20)) AS m, " +
        "abs(min(value) - 100) AS am, sum(floor(value / 7)) AS sf " +
        "FROM cpu WHERE host = 'server01'")
      .select("m", "am", "sf").as[(Double, Double, Double)].collect().head
    assert(agg == ((20.0 / 3, 90.0, 7.0)))  // floors: 1+2+4
    val trig = run("SELECT atan2(value, value) AS a, " +
        "pow(value, 2) AS p, log(value, 10) AS lg FROM cpu " +
        "WHERE host = 'server01' AND value = 10")
      .select("a", "p", "lg").as[(Double, Double, Double)].collect().head
    assert(math.abs(trig._1 - math.Pi / 4) < 1e-12)
    assert(trig._2 == 100.0)
    assert(math.abs(trig._3 - 1.0) < 1e-12)
  }

  test("unknown functions still fail loudly") {
    assertThrows[RuntimeException](
      run("SELECT frobnicate(value) FROM cpu").collect())
  }

  test("WHERE accepts scalar expressions on either side") {
    val out = run("SELECT value FROM cpu WHERE abs(value - 25) < 10")
      .select("value").as[Double].collect().toSet
    assert(out == Set(20.0, 30.0))
    val both = run("SELECT value FROM cpu WHERE value * 2 > core * 15")
      .select("value").as[Double].collect().toSet
    assert(both == Set(10.0, 20.0, 30.0)) // null-core rows never match
    // plain conds still parse through the pruning fast path
    val plain = run("SELECT count(value) FROM cpu WHERE host = 'server01'")
      .select("count").as[Long].collect().head
    assert(plain == 3L)
  }

  test("client-connect probes: SHOW DATABASES / RETENTION POLICIES, " +
      "CREATE DATABASE") {
    assert(run("SHOW DATABASES").as[String].collect().toSeq ==
      Seq("graft"))
    val rp = run("SHOW RETENTION POLICIES")
      .select("name", "default").as[(String, Boolean)].collect().toSeq
    assert(rp == Seq(("autogen", true)))
    // accepted no-op in the single-database model
    assert(InfluxQL.executeManage(catalog, "CREATE DATABASE whatever")
      == catalog)
  }

  test("DELETE and DROP manage the catalog functionally") {
    import graft.query.InfluxQL
    val cat0 = catalog
    val afterDelete = InfluxQL.executeManage(cat0,
      "DELETE FROM cpu WHERE host = 'server02'")
    assert(InfluxQL.execute(afterDelete, "SELECT count(value) FROM cpu")
      .select("count").as[Long].collect().head == 3L)
    val afterTime = InfluxQL.executeManage(cat0,
      "DELETE FROM cpu WHERE time >= 1m")
    assert(InfluxQL.execute(afterTime, "SELECT count(value) FROM cpu")
      .select("count").as[Long].collect().head == 2L)
    val afterDropSeries = InfluxQL.executeManage(cat0,
      "DROP SERIES FROM cpu WHERE host = 'server01'")
    assert(InfluxQL.execute(afterDropSeries,
        "SELECT count(value) FROM cpu")
      .select("count").as[Long].collect().head == 2L)
    val afterDropM = InfluxQL.executeManage(cat0, "DROP MEASUREMENT cpu")
    assert(!afterDropM.contains("cpu"))
    assert(cat0.contains("cpu")) // original untouched
  }

  test("SHOW … CARDINALITY: exact counts, HLL estimate, schema constants") {
    def one(q: String): Long =
      run(q).select("count").as[Long].collect().head
    assert(one("SHOW SERIES EXACT CARDINALITY FROM cpu") == 2L)
    assert(one("SHOW TAG VALUES EXACT CARDINALITY FROM cpu WITH KEY = host")
      == 2L)
    assert(one("SHOW MEASUREMENT EXACT CARDINALITY") == 1L)
    assert(one("SHOW TAG KEY EXACT CARDINALITY FROM cpu") == 1L)
    // fields = value, core (time/tags excluded)
    assert(one("SHOW FIELD KEY EXACT CARDINALITY FROM cpu") == 2L)
    // estimated tier: HLL++ sketch — exact at this tiny cardinality,
    // within relativeSD elsewhere; the point is it parses + runs
    assert(one("SHOW SERIES CARDINALITY FROM cpu") == 2L)
    assert(one("SHOW TAG VALUES CARDINALITY FROM cpu WITH KEY = host") == 2L)
  }

  test("SHOW TAG VALUES / SERIES accept WHERE, LIMIT and OFFSET") {
    // WHERE prunes contributing rows: only server02 points before 1m
    val vals = run("SHOW TAG VALUES FROM cpu WITH KEY = host " +
        "WHERE time < '1970-01-01 00:01:00'")
      .select("value").as[String].collect().toSet
    assert(vals == Set("server01", "server02"))
    val one = run("SHOW TAG VALUES FROM cpu WITH KEY = host " +
        "WHERE value > 50").select("value").as[String].collect().toSet
    assert(one == Set("server02"))
    // sorted output pages deterministically
    assert(run("SHOW TAG VALUES FROM cpu WITH KEY = host LIMIT 1")
      .select("value").as[String].collect().toSeq == Seq("server01"))
    assert(run("SHOW TAG VALUES FROM cpu WITH KEY = host LIMIT 1 OFFSET 1")
      .select("value").as[String].collect().toSeq == Seq("server02"))
    assert(run("SHOW SERIES FROM cpu WHERE host = 'server01'").count() == 1)
    assert(run("SHOW SERIES EXACT CARDINALITY FROM cpu " +
        "WHERE host = 'server02'")
      .select("count").as[Long].collect().head == 1L)
  }

  test("SHOW MEASUREMENTS filters WITH MEASUREMENT = / =~ and pages") {
    val two = Map("cpu" -> cpu, "cpu_total" -> cpu, "mem" -> cpu)
    def names(q: String): Seq[String] =
      InfluxQL.execute(two, q).as[String].collect().toSeq
    assert(names("SHOW MEASUREMENTS") == Seq("cpu", "cpu_total", "mem"))
    assert(names("SHOW MEASUREMENTS WITH MEASUREMENT =~ /cpu/") ==
      Seq("cpu", "cpu_total"))
    assert(names("SHOW MEASUREMENTS WITH MEASUREMENT = cpu") == Seq("cpu"))
    assert(names("SHOW MEASUREMENTS LIMIT 1 OFFSET 2") == Seq("mem"))
  }

  test("ops probes: full SHOW grammar parses with reference column sets") {
    def cols(q: String): Seq[String] = run(q).columns.toSeq
    assert(cols("SHOW QUERIES") ==
      Seq("qid", "query", "database", "duration", "status", "host"))
    assert(run("SHOW QUERIES").count() == 0)
    assert(cols("SHOW USERS") == Seq("user", "admin", "rwuser"))
    assert(cols("SHOW GRANTS FOR admin") == Seq("database", "privilege"))
    assert(cols("SHOW SHARDS") == Seq("id", "database", "retention_policy",
      "shard_group", "start_time", "end_time", "expiry_time", "owners"))
    assert(cols("SHOW SHARD GROUPS") == Seq("id", "database",
      "retention_policy", "start_time", "end_time", "expiry_time"))
    assert(cols("SHOW SUBSCRIPTIONS") ==
      Seq("retention_policy", "name", "mode", "destinations"))
    assert(cols("SHOW CONTINUOUS QUERIES") == Seq("name", "query"))
    assert(cols("SHOW STREAMS") == Seq("database", "retention",
      "measurement", "Name", "source measurement", "dimensions", "calls",
      "interval", "delay", "condition"))
    assert(cols("SHOW DOWNSAMPLES") == Seq("rpName", "field_operator",
      "duration", "sampleInterval", "timeInterval"))
    assert(cols("SHOW CONFIGS") ==
      Seq("component", "instance", "name", "value"))
    // ON <db> scoping accepted on every SHOW (routing-only here)
    assert(run("SHOW MEASUREMENTS ON graft").collect().nonEmpty)
    assert(run("SHOW TAG KEYS ON graft FROM cpu").collect().nonEmpty)
    assert(run("SHOW RETENTION POLICIES ON graft").collect().nonEmpty)
    val detail = run("SHOW MEASUREMENTS DETAIL")
      .select("Detail").as[String].collect().toSeq
    assert(detail.exists(_.startsWith("ENGINE TYPE: tsstore")))
    assert(detail.exists(_ == "TAG KEYS: host"))
    assert(detail.exists(_.startsWith("FIELD KEYS: ")))
    val stats = run("SHOW STATS").select("name", "value")
      .as[(String, String)].collect().toMap
    assert(stats("engine") == "spark" && stats("measurements") == "1")
    assert(run("SHOW CLUSTER").count() == 1)
    // KILL QUERY: accepted no-op; non-numeric id fails loudly
    assert(InfluxQL.executeManage(catalog, "KILL QUERY 42") == catalog)
    intercept[RuntimeException] {
      InfluxQL.executeManage(catalog, "KILL QUERY abc")
    }
    // meta-level drops are accepted no-ops; unknown DROPs still fail
    for (q <- Seq("DROP DATABASE graft", "DROP RETENTION POLICY autogen",
        "DROP SHARD 3", "DROP SUBSCRIPTION sub", "DROP CONTINUOUS QUERY cq"))
      assert(InfluxQL.executeManage(catalog, q) == catalog, q)
    // meta/auth mutations: same accepted-no-op contract
    for (q <- Seq("ALTER RETENTION POLICY autogen ON graft DURATION 0s",
        "GRANT ALL ON graft TO admin", "REVOKE ALL ON graft FROM admin",
        "SET PASSWORD FOR admin = 'pw'"))
      assert(InfluxQL.executeManage(catalog, q) == catalog, q)
    intercept[RuntimeException] {
      InfluxQL.executeManage(catalog, "DROP GIBBERISH x")
    }
  }

  test("smoothing family through the text frontend matches Smoothing API") {
    import graft.operators.Smoothing
    val viaSql = run(
        "SELECT exponential_moving_average(value, 3) FROM cpu " +
        "WHERE host = 'server01'")
      .select("time", "exponential_moving_average")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val viaApi = Smoothing.ema(cpu.df.filter($"host" === "server01"),
        "value", "ts", Seq("host"), 3)
      .selectExpr("_t div 1000 as t", "ema")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(viaSql == viaApi && viaSql.nonEmpty)
    // kaufmans_efficiency_ratio: trending series → ER = 1
    val ker = run(
        "SELECT kaufmans_efficiency_ratio(value, 2) FROM cpu " +
        "WHERE host = 'server01'")
      .select("kaufmans_efficiency_ratio").as[Double].collect().toSeq
    assert(ker == Seq(1.0)) // {10,20,30}: |30-10| / (10+10) = 1
    // rsi parses too; combining with another analytic fails loudly
    assert(run("SELECT relative_strength_index(value, 2) FROM cpu " +
      "WHERE host = 'server01'").count() >= 0)
    intercept[RuntimeException] {
      run("SELECT exponential_moving_average(value, 3), " +
        "derivative(value) FROM cpu WHERE host = 'server01'").count()
    }
  }

  test("unknown fields project as null; all-null rows vanish (schema-on-read)") {
    // server_test.go TestServer_Query_NonExistent shapes
    val mixed = run("SELECT value, foo FROM cpu WHERE host = 'server02'")
    assert(mixed.columns.toSeq == Seq("time", "value", "foo"))
    val rows = mixed.select("value", "foo")
      .collect().map(r => (r.getDouble(0), r.isNullAt(1))).toSeq
    assert(rows == Seq((100.0, true), (200.0, true)))
    // only-unknown projection → every row blank → no series at all
    assert(run("SELECT foo FROM cpu").count() == 0)
  }

  test("top(field, tag, N) selects each tag's maximum, then the top N") {
    // top 2 hosts by their own maxima: server02 (200) and server01 (30)
    val out = run("SELECT top(value, host, 2) FROM cpu")
      .select("host", "top").as[(String, Double)].collect().toSet
    assert(out == Set(("server02", 200.0), ("server01", 30.0)))
    // N=1: only the globally best host's maximum remains
    val one = run("SELECT top(value, host, 1) FROM cpu")
      .select("host", "top").as[(String, Double)].collect().toSet
    assert(one == Set(("server02", 200.0)))
    val bot = run("SELECT bottom(value, host, 1) FROM cpu")
      .select("host", "bottom").as[(String, Double)].collect().toSet
    assert(bot == Set(("server01", 10.0)))
    // plain form unchanged: top 2 raw rows
    val plain = run("SELECT top(value, 2) FROM cpu")
      .select("top").as[Double].collect().toSet
    assert(plain == Set(200.0, 100.0))
  }

  test("holt_winters through the text frontend predicts N points") {
    import graft.operators.Smoothing
    val viaSql = run(
        "SELECT holt_winters(first(value), 2, 0) FROM cpu " +
        "WHERE host = 'server01' GROUP BY time(1m)")
      .select("time", "holt_winters")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(viaSql.size == 2) // 2 predicted points past the series
    assert(viaSql.map(_._1) == Seq(180000L, 240000L))
    // matches the Scala API over the same bucketed series
    val bucketed = run("SELECT first(value) FROM cpu " +
        "WHERE host = 'server01' GROUP BY time(1m)")
      .selectExpr("time * 1000 as t_us", "first")
    val viaApi = Smoothing.holtWintersFit(bucketed, "first", "t_us",
        Nil, h = 2, m = 0)
      .selectExpr("_t div 1000 as t", "hw")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(viaSql == viaApi)
  }

  test("SELECT DISTINCT keyword form equals distinct(field)") {
    val kw = run("SELECT DISTINCT core FROM cpu")
      .select("distinct").collect().toSeq
    val fn = run("SELECT distinct(core) FROM cpu")
      .select("distinct").collect().toSeq
    assert(kw.toSet == fn.toSet && kw.nonEmpty)
  }

  test("::type selectors: field/tag disambiguate, data types cast") {
    // value::field ≡ value; host::tag ≡ host
    val a = run("SELECT mean(value::field) FROM cpu GROUP BY host::tag")
      .orderBy("host").collect().toSeq
    val b = run("SELECT mean(value) FROM cpu GROUP BY host")
      .orderBy("host").collect().toSeq
    assert(a == b)
    // ::integer casts the float field in a scalar projection
    val ints = run(
        "SELECT value::integer AS iv FROM cpu WHERE host = 'server01'")
      .select("iv").as[Long].collect().toSeq
    assert(ints.sorted == Seq(10L, 20L, 30L))
    // ::string casts; unknown selector fails loudly
    val strs = run(
        "SELECT value::string AS sv FROM cpu WHERE host = 'server01' LIMIT 1")
      .select("sv").as[String].collect().head
    assert(strs == "10.0")
    intercept[RuntimeException] {
      run("SELECT value::blob FROM cpu")
    }
    // *::tag / *::field restrict the star by column class
    val tagsOnly = run("SELECT *::tag FROM cpu LIMIT 1")
    assert(tagsOnly.columns.toSeq == Seq("time", "host"))
    // star expansion emits NAME order (ResultShaper r13: the reference
    // sorts expanded stars — server_test.go AggregateSelectors baseline)
    val fieldsOnly = run("SELECT *::field FROM cpu LIMIT 1")
    assert(fieldsOnly.columns.toSeq == Seq("time", "core", "value"))
  }

  test("FROM m1, m2 sort-appends sources like FROM /regex/") {
    // second measurement: same shape, distinct host values
    val lines = Seq("mem,host=server09 value=7 0",
      "mem,host=server09 value=9 60000000000").toDS()
    val other = LineProtocol.toMeasurementTable(LineProtocol.parse(lines),
      "mem", tagKeys = Seq("host"), floatKeys = Seq("value"))
    val cat2 = catalog + ("mem" -> Measurement(other, Seq("host")))
    val out = InfluxQL.execute(cat2,
        "SELECT count(value), mean(value) FROM cpu, mem GROUP BY host")
      .select("host", "count", "mean")
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.keySet.contains("server09"))
    assert(out("server09") == ((2L, 8.0)))
    // identical to the regex form over the same catalog
    val viaRe = InfluxQL.execute(cat2,
        "SELECT count(value), mean(value) FROM /cpu|mem/ GROUP BY host")
      .select("host", "count", "mean")
      .as[(String, Long, Double)].collect().toSet
    val viaList = InfluxQL.execute(cat2,
        "SELECT count(value), mean(value) FROM cpu, mem GROUP BY host")
      .select("host", "count", "mean")
      .as[(String, Long, Double)].collect().toSet
    assert(viaList == viaRe)
  }

  test("qualified measurement refs db.rp.m and db..m resolve to m") {
    val bare = run("SELECT mean(value) FROM cpu GROUP BY host")
      .orderBy("host").collect().toSeq
    for (q <- Seq("SELECT mean(value) FROM graft.autogen.cpu GROUP BY host",
        "SELECT mean(value) FROM graft..cpu GROUP BY host",
        "SELECT mean(value) FROM autogen.cpu GROUP BY host",
        """SELECT mean(value) FROM "graft"."autogen"."cpu" GROUP BY host"""))
      assert(run(q).orderBy("host").collect().toSeq == bare, q)
  }

  test("double-quoted identifiers lex as plain identifiers") {
    val a = run("""SELECT mean("value") FROM "cpu" GROUP BY "host"""")
      .orderBy("host").collect().toSeq
    val b = run("SELECT mean(value) FROM cpu GROUP BY host")
      .orderBy("host").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("EXPLAIN prints the Catalyst plan; EXPLAIN ANALYZE the final one") {
    val plan = run("EXPLAIN SELECT mean(value) FROM cpu GROUP BY host")
      .as[String].collect().mkString("\n")
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("HashAggregate"))
    val analyzed = run(
      "EXPLAIN ANALYZE SELECT mean(value) FROM cpu GROUP BY host")
      .as[String].collect().mkString("\n")
    assert(analyzed.contains("rows emitted: 2"))
    // shaped emission names the series "explain", not the inner SELECT words
    val (name, tags, _) = InfluxQL.executeShaped(catalog,
      "EXPLAIN SELECT mean(value) FROM cpu GROUP BY host")
    assert(name == "explain" && tags.isEmpty)
  }

  test("difference(f, 'front'|'behind'|'absolute') directions") {
    // server01 values 10,20,30 → behind 10,10 · front -10,-10 · abs 10,10
    def diffs(mode: String) = run(
      s"SELECT difference(value$mode) FROM cpu WHERE host = 'server01'")
      .select("difference").as[Double].collect().toSeq
    assert(diffs("") == Seq(10.0, 10.0))            // default = behind
    assert(diffs(", 'behind'") == Seq(10.0, 10.0))
    assert(diffs(", 'front'") == Seq(-10.0, -10.0)) // prev − curr
    assert(diffs(", 'absolute'") == Seq(10.0, 10.0))
    // non_negative_difference drops negatives AFTER the direction applies
    val nn = run("SELECT non_negative_difference(value, 'front') " +
      "FROM cpu WHERE host = 'server01'")
    assert(nn.count() == 0)
    // reference arg validation message (agg_functions.go:1069)
    val e = intercept[RuntimeException](
      run("SELECT difference(value, 'sideways') FROM cpu").collect())
    assert(e.getMessage.contains("front, behind or absolute"))
  }

  test("topn_ddcm / topn_nagt2: heavy-hitter group keys by row count") {
    // host row counts: server01 = 3, server02 = 2
    val top1 = run("SELECT topn_ddcm(value, 0, 1) FROM cpu GROUP BY host")
      .select("host", "topn_ddcm").as[(String, Long)].collect().toSeq
    assert(top1 == Seq(("server01", 3L)))
    // countLowerBound 2 admits both hosts; sorted by estimate desc
    val both = run("SELECT topn_nagt2(value, 2, 5) FROM cpu GROUP BY host")
      .select("host", "topn_nagt2").as[(String, Long)].collect().toSeq
    assert(both == Seq(("server01", 3L), ("server02", 2L)))
    // countLowerBound filters below-threshold keys
    val only3 = run("SELECT topn_ddcm(value, 3, 5) FROM cpu GROUP BY host")
      .select("host").as[String].collect().toSeq
    assert(only3 == Seq("server01"))
    // time column is 0 (topn_transform.go:559 AppendTime(0))
    val t0 = run("SELECT topn_ddcm(value, 0, 1) FROM cpu GROUP BY host")
      .select("time").as[Long].head()
    assert(t0 == 0L)
  }

  test("ad_rmse_ext: half-vs-half normalized RMSE per group") {
    // server01 sorted values 10,20,30: odd length drops the middle →
    // pred [10], act [30]; rmse = 20, denom = max(1, min(10,30)) = 10
    // server02 values 100,200: pred [100], act [200]; rmse=100, denom=100
    val out = run("SELECT ad_rmse_ext(value) FROM cpu GROUP BY host")
      .select("host", "ad_rmse_ext").as[(String, Double)].collect().toMap
    assert(out("server01") == 2.0 && out("server02") == 1.0)
    // single-point series → 0 (agg_func.go:94)
    val one = run("SELECT ad_rmse_ext(value) FROM cpu " +
      "WHERE host = 'server01' AND time = 0").select("ad_rmse_ext")
      .as[Double].head()
    assert(one == 0.0)
  }

  test("compare(field, offsetSeconds): period-over-period on one axis") {
    // server01 raw values: t=0s→10, 60s→20, 120s→30. A DIMENSIONLESS
    // compare collapses the merged arm stream to ONE row at its first
    // time, each arm taking its first value in time order (the
    // reference Align transform's no-group path,
    // align_transform.go:228): value1 = 10 (t=0), value2 = 10 (the
    // shifted arm's first row, t=60 ← orig 0).
    val out = run(
      "SELECT compare(value, 60) FROM cpu WHERE host = 'server01'")
      .select("time", "value1", "value2", "value1/value2")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq((0L, Some(10.0), Some(10.0), Some(1.0))))
    // two offsets → value1..value3 + two ratio columns
    val cols = run(
      "SELECT compare(value, 60, 120) FROM cpu WHERE host = 'server01'")
      .columns.toSeq
    assert(cols.containsSlice(
      Seq("value1", "value2", "value3", "value1/value2", "value1/value3")))
    // bucketed form — the outer GROUP BY time carries into every arm
    // (the rewrite REPLACES inner dims with the outer's, ast.go:4017):
    // per-bucket rows full-outer join across arms, edges keep null
    // history, an all-null row is never emitted
    val sub = run("SELECT compare(sum, 60) FROM (SELECT sum(value) " +
      "FROM cpu WHERE host = 'server01' GROUP BY time(1m)) " +
      "GROUP BY time(1m)")
      .select("time", "sum1", "sum2")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(sub == Seq(
      (0L, Some(10.0), None),
      (60000L, Some(20.0), Some(10.0)),
      (120000L, Some(30.0), Some(20.0)),
      (180000L, None, Some(30.0))))
    // a dimensionless outer over the same bucketed inner compares
    // GLOBAL sums — the inner's GROUP BY time is discarded by the
    // dims replacement, exactly the reference's rewrite
    val glob = run("SELECT compare(sum, 60) FROM (SELECT sum(value) " +
      "FROM cpu WHERE host = 'server01' GROUP BY time(1m))")
      .select("time", "sum1", "sum2")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(glob == Seq((0L, Some(60.0), Some(60.0))))
    // time-BOUNDED compare takes the shifted-catalog path: the history
    // arm must bring in rows from BEFORE the query window ([min−k, max−k]
    // in the reference's BuildCompareStatement) — here the collapsed
    // row's history value is the t=0 row the window itself excludes
    val bounded = run("SELECT compare(value, 60) FROM cpu WHERE " +
      "host = 'server01' AND time >= 60000000000")
      .select("time", "value1", "value2")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(bounded == Seq((60000L, Some(20.0), Some(10.0))),
      s"history arm lost the pre-window row: $bounded")
  }

  test("hint comments /*+ … */ lex away cleanly (scanner.go HINT)") {
    val out = run("SELECT /*+ filter_null_column */ mean(value) FROM cpu " +
      "/* trailing comment */ GROUP BY host")
      .select("host", "mean").as[(String, Double)].collect().toSet
    assert(out == Set(("server01", 20.0), ("server02", 150.0)))
    // a regex after FROM still lexes as a regex, not a comment
    val re = run("SELECT count(value) FROM /cp./")
      .select("count").as[Long].head()
    assert(re == 5L)
    intercept[IllegalArgumentException](
      InfluxQL.lex("SELECT /* unterminated"))
  }

  test("GROUP BY * EXCEPT drops listed tags from the group set") {
    // cpu's only tag is host: GROUP BY * EXCEPT host aggregates ALL
    // series together (sql.y:1258; select.go:382 — InfluxQL's `without`)
    val all = run("SELECT count(value) FROM cpu GROUP BY * EXCEPT host")
    assert(!all.columns.contains("host"))
    assert(all.select("count").as[Long].collect().toSeq == Seq(5L))
    // explicit dims are filtered too, and unlisted tags survive
    val keep = run("SELECT count(value) FROM cpu GROUP BY host EXCEPT nope")
      .select("host", "count").as[(String, Long)].collect().toSet
    assert(keep == Set(("server01", 3L), ("server02", 2L)))
    val none = run("SELECT count(value) FROM cpu GROUP BY host EXCEPT host")
    assert(!none.columns.contains("host") &&
      none.select("count").as[Long].head() == 5L)
  }

  test("histogram() fails with the dead-registration explanation") {
    val e = intercept[RuntimeException](
      run("SELECT histogram(value, 10) FROM cpu").collect())
    assert(e.getMessage.contains("no execution routine"))
  }

  // --------------------------------------------------- time-bound compile
  private val timeOps = Seq("=", "!=", "<", "<=", ">", ">=")

  /** Points at b−1µs, b, b+1µs and ±1 h/±1 d around each boundary `b`;
    * `value` is the point's index. */
  private def boundaryFrame(bounds: Seq[Long]) = {
    import org.apache.spark.sql.functions.timestamp_micros
    bounds.flatMap(b => Seq(b - 1, b, b + 1, b - 3600000000L,
        b + 3600000000L, b - 86400000000L, b + 86400000000L))
      .distinct.zipWithIndex.map { case (us, i) => (us, i.toDouble) }
      .toDF("us", "value").withColumn("ts", timestamp_micros($"us"))
      .drop("us")
  }

  /** The rows the pre-change `unix_micros(time) <op> µs` form selects. */
  private def oldForm(df: org.apache.spark.sql.DataFrame, op: String,
                      us: Long): Set[Double] = {
    import org.apache.spark.sql.functions.{lit, unix_micros}
    val l = unix_micros($"ts"); val r = lit(us)
    val c = op match {
      case "=" => l === r; case "!=" => l =!= r; case "<" => l < r
      case "<=" => l <= r; case ">" => l > r; case ">=" => l >= r
    }
    df.filter(c).select("value").as[Double].collect().toSet
  }

  test("time bounds on a TIMESTAMP column select the unix_micros rows, " +
      "in SELECT and in DELETE") {
    val b = InfluxQL.parseTimeUtc("2024-01-01T00:00:00.000001Z")
    val nowMs = 1704067200123L
    val nowB = nowMs * 1000L - 3600000000L // now() - 1h in µs
    val df = boundaryFrame(Seq(b, nowB))
    val m = Measurement(df, tags = Nil)
    // each literal kind and the µs instant it names: an RFC3339 string
    // with a sub-µs fraction, an epoch-ns integer with a sub-µs part
    val kinds = Seq("'2024-01-01T00:00:00.000001500Z'" -> b,
      s"${b * 1000L + 500L}" -> b)
    for ((lit, us) <- kinds; op <- timeOps) {
      val got = InfluxQL.execute(Map("m" -> m),
          s"SELECT value FROM m WHERE time $op $lit")
        .select("value").as[Double].collect().toSet
      assert(got == oldForm(df, op, us), s"SELECT time $op $lit")
    }
    // DELETE keeps the complement; now() is pinned, so `now() - 1h`
    // lands exactly on the boundary rows
    for ((lit, us) <- kinds :+ ("now() - 1h" -> nowB); op <- timeOps) {
      val kept = InfluxQL.executeManage(Map("m" -> m),
          s"DELETE FROM m WHERE time $op $lit", nowMs)("m").df
        .select("value").as[Double].collect().toSet
      val all = df.select("value").as[Double].collect().toSet
      assert(kept == all -- oldForm(df, op, us), s"DELETE time $op $lit")
    }
    // SELECT's now() is the wall clock: rows an hour or more off the
    // boundary are unambiguous
    val nowNear = System.currentTimeMillis() * 1000L - 3600000000L
    val live = boundaryFrame(Seq(nowNear)).filter(
      org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.unix_micros($"ts") - nowNear) >
        60000000L)
    for (op <- timeOps) {
      val got = InfluxQL.execute(Map("m" -> Measurement(live, Nil)),
          s"SELECT value FROM m WHERE time $op now() - 1h")
        .select("value").as[Double].collect().toSet
      assert(got == oldForm(live, op, nowNear), s"SELECT time $op now() - 1h")
    }
  }

  test("time bounds reach the scan: parquet PushedFilters and the " +
      "resident InMemoryTableScan's ts predicates") {
    val q = "SELECT count(value) FROM events WHERE " +
      "time >= '2024-01-10T00:00:00Z' AND time < '2024-01-11T00:00:00Z'"
    def plan(s: org.apache.spark.sql.SparkSession, dir: String): String = {
      val ev = Measurement(Tables.table(s, dir, "events"),
        tags = Seq("event_type"))
      val out = InfluxQL.execute(Map("events" -> ev), q)
      out.collect()
      out.queryExecution.executedPlan.toString
    }
    // parquet-backed (the suite session keeps the hot tier off)
    val pq = plan(spark, sf)
    assert("""PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts,""".r
        .findFirstIn(pq).isDefined &&
      """PushedFilters: \[[^\]]*LessThan\(ts,""".r.findFirstIn(pq).isDefined,
      s"time bounds not pushed to parquet:\n$pq")
    // resident: a fresh copy of the table in a session with the tier on
    val base = java.nio.file.Files.createTempDirectory("graft_tb").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$base/events.parquet"))
    val s2 = spark.newSession()
    s2.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    val mem = plan(s2, base)
    val scan = mem.linesIterator.find(_.contains("InMemoryTableScan"))
      .getOrElse(fail(s"no resident scan:\n$mem"))
    assert("""\(ts#\d+ >= """.r.findFirstIn(scan).isDefined &&
      """\(ts#\d+ < """.r.findFirstIn(scan).isDefined,
      s"ts bounds not on the InMemoryTableScan:\n$mem")
    Tables.table(s2, base, "events").unpersist(blocking = true)
  }

  test("EXPLAIN and EXPLAIN ANALYZE of a windowed read over resident " +
      "events show the TimeSlices node; an unbounded read has none") {
    // sf0.01's events fill 4 cached time slices; a day-long window
    // overlaps one or two of them
    val base = java.nio.file.Files.createTempDirectory("graft_ts").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf01/events.parquet"),
      java.nio.file.Paths.get(s"$base/events.parquet"))
    val s2 = spark.newSession()
    s2.conf.set(Tables.hotTierConfKey, Tables.hotTierDefaultMaxBytes.toString)
    val ev = Tables.table(s2, base, "events")
    val cat = Map("events" -> Measurement(ev, tags = Seq("event_type")))
    def text(q: String): String =
      InfluxQL.execute(cat, q).as[String].collect().mkString("\n")
    val window = "SELECT count(value) FROM events WHERE " +
      "time >= '2024-01-10T00:00:00Z' AND time < '2024-01-11T00:00:00Z'"
    // kept/total partitions and the inclusive bound
    val slices = """[12]/4 \[2024-01-10T00:00:00Z, 2024-01-10T23:59:59\.999999Z\]"""
    val explained = text(s"EXPLAIN $window")
    assert(explained.contains("TimeSlices") &&
      s"Arguments: $slices".r.findFirstIn(explained).isDefined, explained)
    val analyzed = text(s"EXPLAIN ANALYZE $window")
    assert(s"TimeSlices $slices".r.findFirstIn(analyzed).isDefined, analyzed)
    assert(analyzed.contains("rows emitted: 1"), analyzed)
    val unbounded = "SELECT count(value) FROM events"
    Seq(text(s"EXPLAIN $unbounded"), text(s"EXPLAIN ANALYZE $unbounded"))
      .foreach(t => assert(!t.contains("TimeSlices"), t))
    ev.unpersist(blocking = true)
  }
}
