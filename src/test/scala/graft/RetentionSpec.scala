package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.Retention

/** Retention metadata unit surface (`meta/retentionpolicy.go` rules) —
  * pure driver-side, no SparkSession. */
class RetentionSpec extends AnyFunSuite {

  test("duration literals: units, compounds, INF, invalid") {
    assert(Retention.parseDuration("0s") == 0L)
    assert(Retention.parseDuration("INF") == 0L)
    assert(Retention.parseDuration("90s") == 90L)
    assert(Retention.parseDuration("1h30m") == 5400L)
    assert(Retention.parseDuration("2d") == 172800L)
    assert(Retention.parseDuration("1w") == 604800L)
    intercept[RuntimeException](Retention.parseDuration("5x"))
    intercept[RuntimeException](Retention.parseDuration("h"))
  }

  test("go-style rendering matches the reference's SHOW output") {
    assert(Retention.renderDuration(0) == "0s")
    assert(Retention.renderDuration(604800) == "168h0m0s")
    assert(Retention.renderDuration(5400) == "1h30m0s")
    assert(Retention.renderDuration(1800) == "30m0s")
    assert(Retention.renderDuration(90) == "1m30s")
    assert(Retention.renderDuration(59) == "59s")
  }

  test("shard-group durations derive from the policy duration") {
    assert(Retention.shardGroupFor(0) == 604800L)            // INF -> 7d
    assert(Retention.shardGroupFor(3600) == 3600L)           // <2d -> 1h
    assert(Retention.shardGroupFor(30 * 86400L) == 86400L)   // <6mo -> 1d
    assert(Retention.shardGroupFor(365 * 86400L) == 604800L) // else 7d
  }

  test("statement parsing: CREATE/ALTER/DROP with all clauses") {
    val c = Retention.parse("CREATE RETENTION POLICY hot ON db1 " +
      "DURATION 1h30m REPLICATION 2 SHARD DURATION 30m DEFAULT")
    assert(c == Retention.RpStatement("create", "hot", "db1",
      Some(5400L), Some(2L), Some(1800L), default = true))
    val a = Retention.parse("ALTER RETENTION POLICY hot ON db1 DURATION 2h")
    assert(a.verb == "alter" && a.durationS.contains(7200L) &&
      a.replicaN.isEmpty && !a.default)
    val d = Retention.parse("DROP RETENTION POLICY hot ON db1")
    assert(d == Retention.RpStatement("drop", "hot", "db1",
      None, None, None, default = false))
    intercept[RuntimeException](
      Retention.parse("CREATE RETENTION POLICY hot ON db1 BANANAS"))
  }
}
