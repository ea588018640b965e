package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import org.apache.spark.sql.functions._
import graft.query.{InfluxQL, PromQL}
import graft.server.{Auth, HttpGateway}
import graft.sources.ResultShaper

/** Gateway authentication/authorization e2e — the reference's
  * `httpd/handler.go:1913` authenticate middleware + `meta/authorizer
  * .go` query authorization over a real loopback socket: bootstrap
  * window, 401 contracts, per-db privilege checks, and the
  * user-management statement surface backed by real state.
  * Tests run in declaration order and build up catalog state. */
class AuthSpec extends SparkSpec {

  private def events = Tables.table(spark, sf, "events")

  private lazy val gateway: HttpGateway = {
    val cat = Map("events" -> InfluxQL.Measurement(
      events, tags = Seq("event_type")))
    val prom = Map("events" -> PromQL.Metric(
      events.withColumn("user", col("user_id").cast("string")),
      labels = Seq("event_type", "user"), time = "ts", value = "value"))
    val g = new HttpGateway(spark, cat, prom, requireAuth = true)
    g.start()
    g
  }

  private lazy val http = HttpClient.newHttpClient()
  private def url(path: String) =
    URI.create(s"http://127.0.0.1:${gateway.boundPort}$path")
  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def get(path: String,
                  headers: Seq[(String, String)] = Nil): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(url(path)).GET()
    headers.foreach { case (k, v) => b = b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(path: String, body: String,
                   headers: Seq[(String, String)] = Nil): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(url(path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def basic(u: String, p: String): (String, String) =
    "Authorization" -> ("Basic " + Base64.getEncoder
      .encodeToString(s"$u:$p".getBytes(UTF_8)))

  private def query(q: String, extra: String = "",
                    headers: Seq[(String, String)] = Nil) =
    get(s"/query?q=${enc(q)}&epoch=ms$extra", headers)

  test("bootstrap window: no admin yet, requests run unauthenticated") {
    // handler.go:1923 — auth only engages once an admin user exists,
    // so the first CREATE USER … WITH ALL PRIVILEGES can happen
    val r = query("SELECT count(value) FROM events")
    assert(r.statusCode() == 200 && r.body().contains("\"count\""))
    val mk = query("CREATE USER admin WITH PASSWORD 'secret' WITH ALL PRIVILEGES")
    assert(mk.statusCode() == 200)
    assert(gateway.auth.adminExists)
  }

  test("missing credentials 401; wrong password 401; the messages match") {
    val missing = query("SELECT count(value) FROM events")
    assert(missing.statusCode() == 401)
    assert(missing.body().contains("unable to parse authentication credentials"))
    assert(missing.headers().firstValue("WWW-Authenticate").isPresent)
    val wrong = query("SELECT count(value) FROM events",
      headers = Seq(basic("admin", "nope")))
    assert(wrong.statusCode() == 401)
    assert(wrong.body().contains("authorization failed"))
    // /write and prom routes are guarded too
    assert(post("/write", "m value=1 0").statusCode() == 401)
    assert(get("/api/v1/query_range?query=sum(events)" +
      "&start=1704067200&end=1704070800&step=1h").statusCode() == 401)
    assert(get("/api/v1/labels").statusCode() == 401)
  }

  test("admin authenticates via u/p params, Basic, and Token forms") {
    val viaParams = query("SELECT count(value) FROM events",
      extra = "&u=admin&p=secret")
    assert(viaParams.statusCode() == 200 && viaParams.body().contains("\"count\""))
    val viaBasic = query("SELECT count(value) FROM events",
      headers = Seq(basic("admin", "secret")))
    assert(viaBasic.body() == viaParams.body())
    val viaToken = query("SELECT count(value) FROM events",
      headers = Seq("Authorization" -> "Token admin:secret"))
    assert(viaToken.body() == viaParams.body())
  }

  test("GRANT READ lets a user query exactly the granted database") {
    assert(query("CREATE USER bob WITH PASSWORD 'pw'",
      extra = "&u=admin&p=secret").statusCode() == 200)
    assert(query("GRANT READ ON graft TO bob",
      extra = "&u=admin&p=secret").statusCode() == 200)
    // bob reads db=graft
    val ok = query("SELECT count(value) FROM events",
      extra = "&db=graft", headers = Seq(basic("bob", "pw")))
    assert(ok.statusCode() == 200 && ok.body().contains("\"count\""))
    // …but not another db, nor without a db, nor writes
    val otherDb = query("SELECT count(value) FROM events",
      extra = "&db=other", headers = Seq(basic("bob", "pw")))
    assert(otherDb.statusCode() == 403 &&
      otherDb.body().contains("not authorized to read"))
    assert(query("SELECT count(value) FROM events",
      headers = Seq(basic("bob", "pw"))).statusCode() == 403)
    val wr = post("/write?db=graft", "m value=1 0",
      headers = Seq(basic("bob", "pw")))
    assert(wr.statusCode() == 403 && wr.body().contains("not authorized to write"))
    // INTO needs WRITE even with READ granted
    assert(query("SELECT count(value) INTO t FROM events",
      extra = "&db=graft", headers = Seq(basic("bob", "pw")))
      .statusCode() == 403)
    // management + user-management are admin-only
    assert(query("DROP MEASUREMENT events", extra = "&db=graft",
      headers = Seq(basic("bob", "pw"))).statusCode() == 403)
    assert(query("CREATE USER eve WITH PASSWORD 'x'",
      headers = Seq(basic("bob", "pw"))).statusCode() == 403)
  }

  test("privileges compose as bits: READ+WRITE=ALL; REVOKE bit-clears") {
    assert(query("GRANT WRITE ON graft TO bob",
      extra = "&u=admin&p=secret").statusCode() == 200)
    // GRANT assigns (data.go:2913 SetPrivilege), so WRITE replaced READ
    val grants = query("SHOW GRANTS FOR bob", extra = "&u=admin&p=secret")
    assert(grants.body().contains("WRITE"), grants.body())
    // bob can now write db=graft but no longer read it
    assert(post("/write?db=graft", "scratch value=1 0",
      headers = Seq(basic("bob", "pw"))).statusCode() == 204)
    assert(query("SELECT count(value) FROM events", extra = "&db=graft",
      headers = Seq(basic("bob", "pw"))).statusCode() == 403)
    // ALL then REVOKE WRITE leaves READ (bit-clear, not erase)
    assert(query("GRANT ALL ON graft TO bob",
      extra = "&u=admin&p=secret").statusCode() == 200)
    assert(query("REVOKE WRITE ON graft FROM bob",
      extra = "&u=admin&p=secret").statusCode() == 200)
    val after = query("SHOW GRANTS FOR bob", extra = "&u=admin&p=secret")
    assert(after.body().contains("READ") && !after.body().contains("WRITE"),
      after.body())
    assert(query("SELECT count(value) FROM events", extra = "&db=graft",
      headers = Seq(basic("bob", "pw"))).statusCode() == 200)
  }

  test("SHOW USERS round-trips; reference error contracts enforced") {
    val users = query("SHOW USERS", extra = "&u=admin&p=secret")
    assert(users.statusCode() == 200)
    assert(users.body().contains("\"columns\":[\"user\",\"admin\",\"rwuser\"]"))
    assert(users.body().contains("[\"admin\",true,false]") &&
      users.body().contains("[\"bob\",false,false]"), users.body())
    // only one admin, ever (data.go:2846; 2933)
    val second = query("CREATE USER root WITH PASSWORD 'x' WITH ALL PRIVILEGES",
      extra = "&u=admin&p=secret")
    assert(second.statusCode() == 400 &&
      second.body().contains("forbidden to create new admin"))
    val grantAdmin = query("GRANT ALL PRIVILEGES TO bob",
      extra = "&u=admin&p=secret")
    assert(grantAdmin.statusCode() == 400 &&
      grantAdmin.body().contains("only one admin"))
    // admin is undroppable; duplicates and unknowns error
    assert(query("DROP USER admin", extra = "&u=admin&p=secret")
      .body().contains("forbidden to delete admin user"))
    assert(query("CREATE USER bob WITH PASSWORD 'pw'",
      extra = "&u=admin&p=secret").body().contains("user already exists"))
    assert(query("GRANT READ ON graft TO ghost",
      extra = "&u=admin&p=secret").body().contains("user not found"))
  }

  test("SET PASSWORD: self-service allowed, same password rejected") {
    // bob may change his own password but not admin's
    assert(query("SET PASSWORD FOR admin = 'hack'",
      headers = Seq(basic("bob", "pw"))).statusCode() == 403)
    val same = query("SET PASSWORD FOR bob = 'pw'",
      headers = Seq(basic("bob", "pw")))
    assert(same.statusCode() == 400 &&
      same.body().contains("same as the old one"))
    assert(query("SET PASSWORD FOR bob = 'pw2'",
      headers = Seq(basic("bob", "pw"))).statusCode() == 200)
    assert(query("SELECT count(value) FROM events", extra = "&db=graft",
      headers = Seq(basic("bob", "pw"))).statusCode() == 401)
    assert(query("SELECT count(value) FROM events", extra = "&db=graft",
      headers = Seq(basic("bob", "pw2"))).statusCode() == 200)
  }

  test("prom routes enforce db-scoped read; DROP USER cleans up") {
    // bob has READ on graft only; prom requests carry no db → ""
    assert(get("/api/v1/query_range?query=sum(events)" +
      "&start=1704067200&end=1704070800&step=1h",
      headers = Seq(basic("bob", "pw2"))).statusCode() == 403)
    assert(get("/api/v1/query_range?query=sum(events)" +
      "&start=1704067200&end=1704070800&step=1h&db=graft",
      headers = Seq(basic("bob", "pw2"))).statusCode() == 200)
    assert(get("/api/v1/labels?u=admin&p=secret").statusCode() == 200)
    assert(query("DROP USER bob", extra = "&u=admin&p=secret")
      .statusCode() == 200)
    assert(query("SELECT 1", headers = Seq(basic("bob", "pw2")))
      .statusCode() == 401)
  }

  test("user catalog persists: restart does NOT reopen the bootstrap window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_auth").toString
    val cat = Map("events" -> InfluxQL.Measurement(
      events, tags = Seq("event_type")))
    def mk() = {
      val g = new HttpGateway(spark, cat, Map.empty, requireAuth = true,
        persistDir = Some(dir))
      g.start(); g
    }
    def ask(g: HttpGateway, q: String, hs: Seq[(String, String)] = Nil) = {
      var b = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${g.boundPort}/query?q=${enc(q)}&epoch=ms")).GET()
      hs.foreach { case (k, v) => b = b.header(k, v) }
      http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    val g1 = mk()
    try {
      assert(ask(g1,
        "CREATE USER root WITH PASSWORD 'pw1' WITH ALL PRIVILEGES")
        .statusCode() == 200)
      assert(ask(g1, "CREATE USER carol WITH PASSWORD 'cpw'",
        Seq(basic("root", "pw1"))).statusCode() == 200)
      assert(ask(g1, "GRANT READ ON graft TO carol",
        Seq(basic("root", "pw1"))).statusCode() == 200)
    } finally g1.stop()
    val g2 = mk()
    try {
      // no bootstrap window: unauthenticated is refused immediately
      assert(ask(g2, "SELECT count(value) FROM events").statusCode() == 401)
      // users, passwords, and grants all survived the restart
      assert(ask(g2, "SELECT count(value) FROM events",
        Seq(basic("root", "pw1"))).statusCode() == 200)
      val carol = http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${g2.boundPort}/query?q=${enc(
          "SELECT count(value) FROM events")}&db=graft&epoch=ms"))
        .header(basic("carol", "cpw")._1, basic("carol", "cpw")._2)
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(carol.statusCode() == 200, carol.body())
      val grants = http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${g2.boundPort}/query?q=${enc(
          "SHOW GRANTS FOR carol")}&u=root&p=pw1&epoch=ms"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(grants.body().contains("READ"), grants.body())
    } finally g2.stop()
  }

  test("Auth unit: KDF salts differ per user; authorizeDatabase matrix") {
    val a = new Auth
    a.execute("CREATE USER u1 WITH PASSWORD 'pw'")
    a.execute("CREATE USER u2 WITH PASSWORD 'pw'")
    val (h1, h2) = (a.user("u1").get, a.user("u2").get)
    assert(h1.hash != h2.hash, "same password must hash differently (salt)")
    assert(a.authenticate("u1", "pw").isDefined)
    assert(a.authenticate("u1", "PW").isEmpty)
    a.execute("GRANT WRITE ON db1 TO u1")
    val u = a.user("u1").get
    // userinfo.go:54 — a WRITE grant does not imply READ
    assert(u.authorizeDatabase(Auth.WritePrivilege, "db1"))
    assert(!u.authorizeDatabase(Auth.ReadPrivilege, "db1"))
    assert(u.authorizeDatabase(Auth.NoPrivileges, "anywhere"))
    assert(Auth.privilegeName(Auth.AllPrivileges) == "ALL PRIVILEGES")
  }

  test("GRANT validates the database; qualified refs respect privileges") {
    assert(query("CREATE USER dave WITH PASSWORD 'dpw'",
      extra = "&u=admin&p=secret").statusCode() == 200)
    // unknown database → data.go:2919's error, verbatim
    val bad = query("GRANT READ ON nosuchdb TO dave",
      extra = "&u=admin&p=secret")
    assert(bad.statusCode() == 400 &&
      bad.body().contains("database not found: nosuchdb"), bad.body())
    // once the database exists the same grant succeeds
    assert(query("CREATE DATABASE dbauth", extra = "&u=admin&p=secret")
      .statusCode() == 200)
    assert(query("GRANT READ ON dbauth TO dave",
      extra = "&u=admin&p=secret").statusCode() == 200)
    // a dbauth-only reader cannot route a qualified ref into graft —
    // the view refuses to resolve databases the principal can't read.
    // Execution errors are STATEMENT-level (200 + results error, the
    // reference handler contract); the refusal reads identically to a
    // nonexistent measurement, so denied probing can't distinguish them
    val denied = query("SELECT count(value) FROM graft.autogen.events",
      extra = "&db=dbauth", headers = Seq(basic("dave", "dpw")))
    assert(denied.statusCode() == 200 &&
      denied.body().contains("measurement not found"), denied.body())
    // an admin resolves the same ref fine
    val ok = query("SELECT count(value) FROM graft.autogen.events",
      extra = "&db=dbauth", headers = Seq(basic("admin", "secret")))
    assert(ok.statusCode() == 200 &&
      ok.body().contains("\"name\":\"events\""), ok.body())
  }

  test("service routes are guarded: backup/debug admin, fence/tsdb " +
      "write, store labels read") {
    // unauthenticated → 401 on every service route (handler.go wraps
    // backup/debug/fence in checkAuth; pre-fix these were open)
    assert(get("/debug/vars").statusCode() == 401)
    assert(get("/debug/query?mod=shards").statusCode() == 401)
    assert(post("/debug/ctrl?mod=snapshot&switchon=true", "")
      .statusCode() == 401)
    assert(post("/failpoint?point=x&flag=enable", "").statusCode() == 401)
    assert(post("/backup/run?backupPath=/tmp/x", "").statusCode() == 401)
    assert(post("/backup/status", "").statusCode() == 401)
    assert(get("/fence/match_batch?points=[1.0,2.0]").statusCode() == 401)
    assert(post("/fence/delete_fence?fenceId=f1", "").statusCode() == 401)
    assert(post("/api/v1/tsdb/s1", "").statusCode() == 401)
    assert(get("/prometheus/s1/api/v1/labels").statusCode() == 401)
    // dave is a non-admin with READ on dbauth only
    val dave = Seq(basic("dave", "dpw"))
    assert(get("/debug/vars", dave).statusCode() == 403)
    assert(post("/backup/run?backupPath=/tmp/x", "", dave)
      .statusCode() == 403)
    assert(post("/fence/delete_fence?fenceId=f1", "", dave)
      .statusCode() == 403)
    assert(post("/api/v1/tsdb/s1", "", dave).statusCode() == 403)
    // … but his READ grant admits him to dbauth's store label route
    assert(get("/prometheus/dbauth/api/v1/labels", dave)
      .statusCode() == 200)
    assert(get("/prometheus/dbauth/api/v1/label/host/values", dave)
      .statusCode() == 200)
    // admin passes everywhere (backup 400s on no persistDir, not 401/403)
    val adm = Seq(basic("admin", "secret"))
    assert(get("/debug/vars", adm).statusCode() == 200)
    assert(get("/debug/query?mod=shards", adm).statusCode() == 200)
    assert(post("/backup/run?backupPath=/tmp/x", "", adm)
      .statusCode() == 400)
    assert(post("/backup/status", "", adm).statusCode() == 200)
    assert(get("/fence/match_batch?points=[1.0,2.0]", adm)
      .statusCode() == 200)
    assert(post("/api/v1/tsdb/authstore", "", adm).statusCode() == 200)
    assert(get("/prometheus/authstore/api/v1/labels", adm)
      .statusCode() == 200)
  }

  test("a READ-only user's SELECT with a quoted 'into' reads: the " +
      "library's series, no INTO write") {
    val adm = "&u=admin&p=secret"
    assert(query("CREATE USER rita WITH PASSWORD 'rpw'", extra = adm)
      .statusCode() == 200)
    assert(query("GRANT READ ON graft TO rita", extra = adm)
      .statusCode() == 200)
    val q = "SELECT count(value) FROM events WHERE event_type != 'into' " +
      "GROUP BY event_type"
    val r = query(q, extra = "&db=graft", headers = Seq(basic("rita", "rpw")))
    assert(r.statusCode() == 200, r.body())
    val cat = Map("events" -> InfluxQL.Measurement(
      events, tags = Seq("event_type")))
    val (name, tags, df0, desc) = InfluxQL.executeShapedOrd(cat, q)
    val (df, timeNs) = HttpGateway.edgeTime(df0)
    val obj = ResultShaper.toResultObj(df, name, tags,
      HttpGateway.shapedValueCols(df.columns.toIndexedSeq, tags), "ms", 0,
      timeNs = timeNs, seriesDesc = desc)
    assert(r.body() == s"""{"results":[$obj]}""")
    assert(r.body().contains("\"count\"") && !r.body().contains("written"))
  }

  test("privilege table: one statement of each kind against admin, a " +
      "READ-only and a READ+WRITE user") {
    val g = new HttpGateway(spark, Map.empty, Map.empty, requireAuth = true)
    g.start()
    def ask(q: String, user: (String, String)) =
      http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${g.boundPort}/query?db=d&q=${enc(q)}&epoch=ms"))
        .header(basic(user._1, user._2)._1, basic(user._1, user._2)._2)
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    val admin = ("root", "rpw")
    val reader = ("reader", "pw")
    val writer = ("writer", "pw")
    try {
      assert(ask("CREATE USER root WITH PASSWORD 'rpw' WITH ALL PRIVILEGES",
        admin).statusCode() == 200)
      Seq("CREATE DATABASE d", "CREATE USER reader WITH PASSWORD 'pw'",
          "CREATE USER writer WITH PASSWORD 'pw'", "GRANT READ ON d TO reader",
          "GRANT ALL ON d TO writer").foreach { q =>
        assert(ask(q, admin).statusCode() == 200, q)
      }
      val w = http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${g.boundPort}/write?db=d&precision=ms"))
        .header(basic("root", "rpw")._1, basic("root", "rpw")._2)
        .POST(HttpRequest.BodyPublishers.ofString(
          "m,host=a v=1 1000\nm,host=b v=2 2000\nds,h=a v=1 2592000000"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 204, w.body())
      val (ok, no) = (200, 403)
      // statement -> expected (reader, writer, admin); rows run in order
      // and each row's allowed runs must succeed at that point
      val table: Seq[(String, (Int, Int, Int))] = Seq(
        "SELECT count(v) FROM m" -> ((ok, ok, ok)),
        "SELECT count(v) FROM m WHERE host = 'into'" -> ((ok, ok, ok)),
        "SELECT count(v) INTO m2 FROM m" -> ((no, ok, ok)),
        "EXPLAIN SELECT count(v) FROM m" -> ((ok, ok, ok)),
        "SHOW MEASUREMENTS" -> ((ok, ok, ok)),
        "SHOW QUERIES" -> ((ok, ok, ok)),
        "SHOW DATABASES" -> ((ok, ok, ok)),
        "SHOW RETENTION POLICIES ON d" -> ((ok, ok, ok)),
        "SHOW CONTINUOUS QUERIES" -> ((ok, ok, ok)),
        "SHOW SUBSCRIPTIONS" -> ((ok, ok, ok)),
        "SHOW SHARDS" -> ((ok, ok, ok)),
        "SHOW SHARD GROUPS" -> ((ok, ok, ok)),
        "SHOW STREAMS" -> ((ok, ok, ok)),
        "SHOW DOWNSAMPLES" -> ((ok, ok, ok)),
        "SHOW CONFIGS" -> ((ok, ok, ok)),
        "CREATE DATABASE d2" -> ((no, no, ok)),
        "DROP DATABASE d2" -> ((no, no, ok)),
        "CREATE RETENTION POLICY rp1 ON d DURATION 72h REPLICATION 1" ->
          ((no, no, ok)),
        "CREATE CONTINUOUS QUERY cq1 ON d BEGIN SELECT mean(v) INTO t " +
          "FROM m GROUP BY time(10s) END" -> ((no, no, ok)),
        "DROP CONTINUOUS QUERY cq1 ON d" -> ((no, no, ok)),
        "CREATE MEASUREMENT sx (h tag, v float64) WITH SHARDKEY h" ->
          ((no, no, ok)),
        "ALTER MEASUREMENT sx WITH SHARDKEY h" -> ((no, no, ok)),
        "SHOW SHARDKEY FROM sx" -> ((ok, ok, ok)),
        "CREATE SUBSCRIPTION s1 ON d.rp1 DESTINATIONS ANY 'http://h:9092'" ->
          ((no, no, ok)),
        "DROP SUBSCRIPTION s1 ON d.rp1" -> ((no, no, ok)),
        "CREATE STREAM 'st1' INTO ssum ON SELECT sum(v) FROM m " +
          "GROUP BY time(10s) DELAY 2s" -> ((no, no, ok)),
        "DROP STREAM 'st1'" -> ((no, no, ok)),
        "CREATE DOWNSAMPLE ON d.rp1 (float(max)) WITH DURATION 72h " +
          "SAMPLEINTERVAL(25h) TIMEINTERVAL(1m)" -> ((no, no, ok)),
        "DROP DOWNSAMPLE ON d.rp1" -> ((no, no, ok)),
        // 7d shard groups: ds's point at day 30 is group 4
        "DROP SHARD 4" -> ((no, no, ok)),
        "DELETE FROM m2" -> ((no, no, ok)),
        "DROP MEASUREMENT m2" -> ((no, no, ok)),
        // authorized, then answered "no such query id"
        "KILL QUERY 999" -> ((no, no, 400)),
        "SET CONFIG sql logging.level = info" -> ((no, no, ok)),
        "PREPARE SNAPSHOT" -> ((no, no, ok)),
        "CREATE USER u9 WITH PASSWORD 'x'" -> ((no, no, ok)),
        "SHOW USERS" -> ((no, no, ok)),
        // SET PASSWORD: an admin for anyone, a user for themself (the
        // admin, authorized, is then refused the unchanged password)
        "SET PASSWORD FOR u9 = 'y'" -> ((no, no, ok)),
        "SET PASSWORD FOR writer = 'pw2'" -> ((no, ok, 400)))
      table.foreach { case (q, (r, wr, a)) =>
        Seq(reader -> r, writer -> wr, admin -> a).foreach {
          case (user, want) =>
            val got = ask(q, user)
            assert(got.statusCode() == want,
              s"${user._1}: $q -> ${got.statusCode()} ${got.body()}")
        }
      }
    } finally g.stop()
  }

  test("route privilege table: one request per route against anonymous, " +
      "READ on d, WRITE on d and admin") {
    import graft.server.Consume
    import graft.sources.PromRemoteWrite
    val prom = Map("events" -> PromQL.Metric(
      events.withColumn("user", col("user_id").cast("string")),
      labels = Seq("event_type", "user"), time = "ts", value = "value"))
    val g = new HttpGateway(spark, Map.empty, prom, requireAuth = true)
    g.start()
    def send(method: String, path: String, body: Array[Byte],
             user: Option[(String, String)]) = {
      var b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${g.boundPort}$path"))
      b = method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case _ => b.POST(HttpRequest.BodyPublishers.ofByteArray(body))
      }
      user.foreach { case (u, p) => b = b.header(basic(u, p)._1, basic(u, p)._2) }
      http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = Some(("root", "rpw"))
    val reader = Some(("reader", "pw"))
    val writer = Some(("writer", "pw"))
    def asAdmin(method: String, path: String, body: String = "") = {
      val r = send(method, path, body.getBytes(UTF_8), admin)
      assert(r.statusCode() < 300, s"$method $path: ${r.body()}")
    }
    def iql(q: String) = s"/query?db=d&q=${enc(q)}"
    def remote(name: String) = PromRemoteWrite.encode(Seq(PromRemoteWrite
      .Series(Map("__name__" -> name, "host" -> "a"), Seq((1000L, 1.0)))))
    try {
      asAdmin("GET", iql("CREATE USER root WITH PASSWORD 'rpw' WITH ALL " +
        "PRIVILEGES"))
      Seq("CREATE DATABASE d", "CREATE USER reader WITH PASSWORD 'pw'",
          "CREATE USER writer WITH PASSWORD 'pw'", "GRANT READ ON d TO reader",
          "GRANT WRITE ON d TO writer").foreach(q => asAdmin("GET", iql(q)))
      asAdmin("POST", "/write?db=d&precision=ms", "m,host=a v=1 1000")
      asAdmin("POST", "/api/v1/logstream/d/ls")
      asAdmin("POST", "/repo/d/logstreams/ls/upload", "hello")
      val cursor = enc(Consume.mint(0L, "ls").encode)
      val pivot = enc(java.util.Base64.getEncoder.encodeToString(
        "^^0".getBytes(UTF_8)))
      val range = "&start=1704067200&end=1704070800&step=1h"
      val ls = "/repo/d/logstreams/ls"
      val (ok, no, bad) = (200, 403, 400)
      // (method, path, body) -> (anonymous, reader, writer, admin); rows
      // run in order, and a create that one caller made is a 400 for the
      // next
      val table: Seq[((String, String, Array[Byte]), (Int, Int, Int, Int))] =
        Seq[(String, String, Array[Byte], (Int, Int, Int, Int))](
          ("GET", "/ping", Array(), (204, 204, 204, 204)),
          ("GET", "/status", Array(), (204, 204, 204, 204)),
          ("GET", "/metrics", Array(), (ok, ok, ok, ok)),
          ("GET", "/api/v1/status/buildinfo", Array(), (ok, ok, ok, ok)),
          ("POST", "/api/v2/query", Array(), (no, no, no, no)),
          ("GET", "/debug/vars", Array(), (401, no, no, ok)),
          ("GET", "/debug/query?mod=shards&db=d", Array(), (401, no, no, ok)),
          ("POST", "/debug/ctrl?mod=snapshot", Array(), (401, no, no, ok)),
          ("POST", "/failpoint?point=p1&flag=disable", Array(),
            (401, no, no, ok)),
          // no persist dir: admin passes the guard, then the run refuses
          ("POST", "/backup/run?backupPath=/tmp/x", Array(), (401, no, no, bad)),
          ("POST", "/backup/status", Array(), (401, no, no, ok)),
          ("POST", "/backup/abort", Array(), (401, no, no, bad)),
          // fences are gateway-wide: any user matches, only an admin
          // deletes, whatever `db` names
          ("GET", "/fence/match_batch?db=d&points=" + enc("[1.0,2.0]"),
            Array(), (401, ok, ok, ok)),
          ("POST", "/fence/delete_fence?db=d&fenceId=f1", Array(),
            (401, no, no, ok)),
          ("GET", iql("SELECT count(v) FROM m"), Array(), (401, ok, no, ok)),
          ("POST", "/write?db=d", "m,host=b v=2".getBytes(UTF_8),
            (401, no, 204, 204)),
          ("POST", "/api/v2/write?bucket=d", "m,host=c v=3".getBytes(UTF_8),
            (401, no, 204, 204)),
          // an empty Arrow / OTLP body passes the guard, then fails to decode
          ("POST", "/api/v1/arrow/doput?db=d&mst=arw", Array(),
            (401, no, bad, bad)),
          ("GET", "/api/v1/arrow/doget?db=d&q=" + enc("SELECT v FROM m"),
            Array(), (401, ok, no, ok)),
          ("POST", "/api/v1/otlp/metrics?db=d", Array(), (401, no, bad, bad)),
          ("POST", "/api/v1/otlp/logs?db=d", Array(), (401, no, bad, bad)),
          ("POST", "/api/v1/otlp/traces?db=d", Array(), (401, no, bad, bad)),
          ("POST", "/api/v1/write?db=d", remote("rw"), (401, no, 204, 204)),
          ("POST", "/api/v1/prom/write?db=d", remote("rw"), (401, no, 204, 204)),
          ("POST", "/api/v1/read?db=d", Array(), (401, bad, no, bad)),
          ("GET", "/api/v1/metadata?db=d", Array(), (401, ok, no, ok)),
          // prom series live in the default database: `db=d` reads an
          // empty prom catalog, never the default database's metrics
          ("GET", "/api/v1/series?db=d&match[]=events", Array(),
            (401, bad, no, bad)),
          ("GET", "/api/v1/labels?db=d", Array(), (401, ok, no, ok)),
          ("GET", "/api/v1/label/__name__/values?db=d", Array(),
            (401, ok, no, ok)),
          ("GET", "/api/v1/query?db=d&time=1704067200&query=" +
            enc("sum(events)"), Array(), (401, bad, no, bad)),
          ("GET", "/api/v1/query_range?db=d&query=" + enc("sum(events)") +
            range, Array(), (401, bad, no, bad)),
          ("GET", "/api/v1/prom/query?db=d&time=1704067200&query=" +
            enc("sum(events)"), Array(), (401, bad, no, bad)),
          ("GET", "/api/v1/prom/query_range?db=d&query=" +
            enc("sum(events)") + range, Array(), (401, bad, no, bad)),
          ("GET", "/api/v1/query_range?db=graft&query=" + enc("sum(events)") +
            range, Array(), (401, no, no, ok)),
          ("POST", "/api/v1/tsdb/d", Array(), (401, no, ok, ok)),
          // every /prometheus/{store}/… route authorizes {store}, never
          // the `db` param
          ("POST", "/prometheus/d/api/v1/write", remote("cpu"),
            (401, no, 204, 204)),
          ("POST", "/prometheus/s9/api/v1/write?db=d", remote("cpu"),
            (401, no, no, 204)),
          ("GET", "/prometheus/d/api/v1/query?query=cpu&time=1", Array(),
            (401, ok, no, ok)),
          ("GET", "/prometheus/nostore/api/v1/query?db=d&query=x&time=0",
            Array(), (401, no, no, ok)),
          ("GET", "/prometheus/d/api/v1/query_range?query=cpu&start=0" +
            "&end=10&step=1s", Array(), (401, ok, no, ok)),
          ("GET", "/prometheus/d/api/v1/labels", Array(), (401, ok, no, ok)),
          ("GET", "/prometheus/d/api/v1/label/host/values", Array(),
            (401, ok, no, ok)),
          // lists only the repositories the caller may read
          ("GET", "/api/v1/repository?db=d", Array(), (401, ok, ok, ok)),
          ("POST", "/api/v1/repository/r2", Array(), (401, no, no, ok)),
          ("DELETE", "/api/v1/repository/r2", Array(), (401, no, no, ok)),
          ("GET", "/api/v1/logstream/d", Array(), (401, ok, no, ok)),
          ("POST", "/api/v1/logstream/d/ls2", Array(), (401, no, ok, bad)),
          ("DELETE", "/api/v1/logstream/d/ls2", Array(), (401, no, ok, bad)),
          ("GET", s"$ls/logs?from=0&to=9999", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/histogram?from=0&to=9999", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/analytics?from=0&to=9999", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/consume/cursors?from=0", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/consume/logs?from_cursor=$cursor", Array(),
            (401, ok, no, ok)),
          ("GET", s"$ls/consume/cursor-time?cursor=$cursor", Array(),
            (401, ok, no, ok)),
          ("GET", s"$ls/context?cursor=$pivot&from=0&to=9999", Array(),
            (401, ok, no, ok)),
          ("GET", s"$ls/logbycursor", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/cursor", Array(), (401, ok, no, ok)),
          ("GET", s"$ls/cursor/c1", Array(), (401, ok, no, ok)),
          ("POST", s"$ls/records", """{"time":1,"msg":"a"}""".getBytes(UTF_8),
            (401, no, ok, ok)),
          ("POST", s"$ls/upload", "line".getBytes(UTF_8), (401, no, ok, ok)),
          ("POST", s"$ls/recalldata", Array(), (401, no, ok, ok)),
          ("POST", s"$ls/stream-task", ("""{"id":"t1","query":"select """ +
            """count(v) from ls group by time(5s)"}""").getBytes(UTF_8),
            (401, no, ok, bad)),
          ("DELETE", s"$ls/stream-task/t1", Array(), (401, no, ok, bad))
        ).map { case (m, p, b, want) => ((m, p, b), want) }
      table.foreach { case ((method, path, body), (an, rd, wr, ad)) =>
        Seq(None -> an, reader -> rd, writer -> wr, admin -> ad).foreach {
          case (user, want) =>
            val got = send(method, path, body, user)
            assert(got.statusCode() == want, s"${user.map(_._1)
              .getOrElse("anonymous")}: $method $path -> " +
              s"${got.statusCode()} ${got.body()}")
        }
      }
      // the reader's READ on d shows none of the default database's
      // prom metrics
      val names = send("GET", "/api/v1/label/__name__/values?db=d",
        Array(), reader).body()
      assert(names == """{"status":"success","data":[]}""", names)
      val labels = send("GET", "/api/v1/labels?db=d", Array(), reader).body()
      assert(labels == """{"status":"success","data":["__name__"]}""", labels)
      // a store write lands in its store whatever `db` says
      val store = send("GET", "/prometheus/s9/api/v1/labels", Array(),
        admin).body()
      assert(store.contains("host"), store)
      // the repository list shows a user only what they may read
      asAdmin("GET", iql("CREATE DATABASE e"))
      def repos(user: Option[(String, String)]) =
        send("GET", "/api/v1/repository", Array(), user).body()
      assert(repos(reader) == "[\"d\"]", repos(reader))
      assert(repos(writer) == "[]", repos(writer))
      assert(repos(admin).contains("\"e\"") && repos(admin).contains("\"d\""),
        repos(admin))
    } finally g.stop()
  }

  test("Auth unit: SET PASSWORD re-salts (old snapshot can't precompute)") {
    val a = new Auth
    a.execute("CREATE USER u1 WITH PASSWORD 'pw'")
    val before = a.user("u1").get
    a.execute("SET PASSWORD FOR u1 = 'pw2'")
    val after = a.user("u1").get
    assert(after.salt != before.salt,
      "password change must generate a fresh salt")
    assert(a.authenticate("u1", "pw2").isDefined)
    assert(a.authenticate("u1", "pw").isEmpty)
  }
}
