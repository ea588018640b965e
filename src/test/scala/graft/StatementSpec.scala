package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.{Retention, Statement}
import graft.server.Statement._

/** The gateway's statement classifier: one lex, one kind, one
  * privilege per `/query` statement — driver-side, no SparkSession. */
class StatementSpec extends AnyFunSuite {

  test("retention policy statements classify by their leading keywords") {
    assert(classify("create retention policy x on y")
      .isInstanceOf[RetentionDdl])
    assert(!classify("create database x").isInstanceOf[RetentionDdl])
    assert(classify("DROP RETENTION POLICY hot ON db1") == RetentionDdl(
      Retention.RpStatement("drop", "hot", "db1", None, None, None,
        default = false)))
  }

  test("kinds carry their parsed arguments and privilege") {
    val cases: Seq[(String, Statement, Privilege)] = Seq(
      ("SELECT count(v) FROM m", Data(None), Read),
      ("SHOW TAG KEYS ON d2 FROM m", Data(Some("d2")), Read),
      ("EXPLAIN SELECT count(v) FROM m", Data(None), Read),
      ("SELECT count(v) INTO t FROM m", SelectInto, OnDb(write = true)),
      ("DELETE FROM m WHERE time < 5s", Manage, Admin),
      ("set x", Manage, Admin),
      ("SHOW QUERIES", ShowQueries, Read),
      ("KILL QUERY 12", KillQuery(12L), Admin),
      ("SHOW USERS", Users(Admin), Admin),
      ("GRANT READ ON d TO bob", Users(Admin), Admin),
      ("SET PASSWORD FOR 'bob' = 'x'", Users(AdminOrSelf("bob")),
        AdminOrSelf("bob")),
      ("SHOW DATABASES DETAIL", ShowDatabases(true), Read),
      ("CREATE DATABASE db4 WITH SHARD DURATION 12h DURATION 3d NAME rp3",
        CreateDatabase("db4", Some("rp3"), Some(259200L)), Admin),
      ("DROP DATABASE \"d b\"", DropDatabase("d b"), Admin),
      ("SHOW RETENTION POLICIES ON d", ShowRetentionPolicies(Some("d")),
        Read),
      ("DROP CONTINUOUS QUERY \"cq\" ON \"d\"", DropCq("cq", Some("d")),
        Admin),
      ("DROP CONTINUOUS QUERY cq", DropCq("cq", None), Admin),
      ("SHOW CONTINUOUS QUERIES", ShowCqs, Read),
      ("ALTER MEASUREMENT d.rp.m WITH SHARDKEY b, a TYPE range",
        AlterShardKey(Some("d"), "m", Seq("a", "b"), "range"), Admin),
      ("SHOW SHARDKEY FROM m", ShowMeasurementInfo("shardkey", None, "m"),
        Read),
      ("DROP SUBSCRIPTION \"s\" ON \"d\".\"rp\"",
        DropSubscription("s", "d", "rp"), Admin),
      ("SHOW SHARDS", ShowShards, Read),
      ("SHOW SHARD GROUPS", ShowShardGroups, Read),
      ("DROP SHARD 3", DropShard(3L), Admin),
      ("DROP SHARD x", Manage, Admin),
      ("DROP STREAM 'st'", DropStream("st"), Admin),
      ("SHOW STREAMS ON d", ShowStreams(Some("d")), Read),
      ("DROP DOWNSAMPLES ON d", DropDownsample(Some("d"), None), Admin),
      ("DROP DOWNSAMPLE ON d.rp", DropDownsample(Some("d"), Some("rp")),
        Admin),
      ("DROP DOWNSAMPLE ON rp", DropDownsample(None, Some("rp")), Admin),
      ("SHOW DOWNSAMPLES", ShowDownsamples(None), Read),
      ("SET CONFIG sql logging.level = 'debug'",
        SetConfig("sql", "logging.level", "'debug'", string = true), Admin),
      ("SET CONFIG sql logging.level = 12",
        SetConfig("sql", "logging.level", "12", string = false), Admin),
      ("SHOW CONFIGS", ShowConfigs, Read),
      ("SELECT /*+ filter_null_column */ f1 FROM m",
        Data(None, pruneNullCols = true), Read),
      ("PREPARE SNAPSHOT", Unsupported, Admin))
    cases.foreach { case (sql, kind, priv) =>
      val got = classify(sql)
      assert(got == kind, sql)
      assert(got.privilege == priv, sql)
    }
  }

  test("a SELECT writes only through a parsed INTO clause") {
    assert(classify("SELECT count(v) FROM m WHERE host = 'into'") ==
      Data(None))
    assert(classify("SELECT \"into\" FROM m") == Data(None))
    assert(classify("select mean(v) into \"db\".\"rp\".t from m") ==
      SelectInto)
  }

  test("arguments that do not parse surface when the statement runs, " +
      "with the kind's privilege") {
    classify("KILL QUERY x") match {
      case Invalid(e, Admin) => assert(e.getMessage.contains("query id"))
      case k => fail(k.toString)
    }
    classify("CREATE DATABASE 0xdb0") match {
      case Invalid(e, Admin) => assert(e.getMessage ==
        "error parsing query: syntax error: unexpected DURATIONVAL, " +
          "expecting IDENT")
      case k => fail(k.toString)
    }
    assert(classify("SELECT 'unterminated").privilege == Read)
    // SET PASSWORD with no readable target needs admin
    assert(classify("SET PASSWORD FOR").privilege == Admin)
  }
}
