package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.query.InfluxQL
import graft.query.InfluxQL._

/** DDL statements for continuous processing — reference:
  * `CreateStreamStatement` (`influxql/ast.go:11469`: name, target, query,
  * DELAY) and `CreateContinuousQueryStatement` (`ast.go:5352`: EVERY/FOR).
  *
  * `CREATE STREAM s INTO target SELECT sum(f) FROM m GROUP BY time(5s)[,
  * tags…] [DELAY 2s]` parses into a [[StreamStatement]]; `build` applies it
  * to a streaming source DataFrame, yielding the watermarked tumbling
  * aggregation ready for `Streams.into(df, targetPath, ckpt)`.
  */
object StreamDDL {

  case class StreamStatement(name: String, target: String,
                             calls: Seq[(String, String)], // (fn, field)
                             from: String, intervalNs: Long,
                             tags: Seq[String], delayNs: Long,
                             every: Option[Long] = None,
                             forNs: Option[Long] = None, // RESAMPLE FOR
                             onDb: Option[String] = None) // CQ ON <db>

  def parse(ddl: String): StreamStatement = {
    // the reference's stream grammar names the stream with a STRING
    // literal (sql.y CREATE STREAM STRING_TYPE INTO …): `ident` takes both
    val c = new InfluxQL.Cursor(ddl)
    import c.{accept, expect, expectIdent, ident}
    expectIdent("create")
    val isCQ = accept("continuous") && { expectIdent("query"); true }
    if (!isCQ) expectIdent("stream")
    val name = ident()
    // reference grammar (ast.go:5352): CREATE CONTINUOUS QUERY n ON db
    val onDb = if (isCQ && accept("on")) Some(ident()) else None
    var every: Option[Long] = None
    var forNs: Option[Long] = None
    if (isCQ && accept("resample")) { // RESAMPLE [EVERY <dur>] [FOR <dur>]
      if (accept("every")) every = Some(c.duration())
      if (accept("for")) forNs = Some(c.duration())
      require(every.isDefined || forNs.isDefined,
        "RESAMPLE requires EVERY and/or FOR")
    }
    accept("begin") // CQ body marker
    // two body orders: the reference's `SELECT … INTO t FROM …` and the
    // stream form `INTO t SELECT … FROM …`
    var target: String = null
    if (accept("into")) {
      target = ident()
      // qualified db.rp.mst target (sql.y TABLE_NAME_WITH_OPTION): keep
      // the measurement name, the serving layer resolves the namespace
      while (c.acceptPunct(".")) target = ident()
    }
    // reference stream form separates target and body with ON
    // (sql.y: CREATE STREAM STRING_TYPE INTO target ON SELECT …)
    accept("on")
    expectIdent("select")
    var calls = Seq.empty[(String, String)]
    var more = true
    while (more) {
      val fn = ident(); expect("(")
      val field = c.next() match {
        case TIdent(f) => f
        case TPunct("*") => "*"
        case t => sys.error(s"bad field: $t")
      }
      expect(")")
      calls :+= ((fn.toLowerCase, field))
      more = c.acceptPunct(",")
    }
    if (target == null) { expectIdent("into"); target = ident() }
    expectIdent("from")
    val from = ident()
    expectIdent("group"); expectIdent("by")
    expectIdent("time"); expect("("); val interval = c.duration(); expect(")")
    var tags = Seq.empty[String]
    while (c.acceptPunct(",")) tags :+= ident()
    val delay = if (accept("delay")) c.duration() else 0L
    accept("end")
    StreamStatement(name, target, calls, from, interval, tags, delay,
      every, forNs, onDb)
  }

  private def aggOf(fn: String, field: String): Column = fn match {
    case "count" => (if (field == "*") count(lit(1)) else count(col(field)))
      .as("count")
    case "sum" => sum(col(field)).as("sum")
    case "mean" => avg(col(field)).as("mean")
    case "min" => min(col(field)).as("min")
    case "max" => max(col(field)).as("max")
    case other => sys.error(s"stream-incompatible aggregate $other")
  }

  /** `CREATE SUBSCRIPTION name ON db.rp DESTINATIONS ALL|ANY 'url', …`
    * (`influxql/ast.go:6049`). Returns the parsed statement; wire it to a
    * stream with [[Streams.subscriptionSink]]. */
  case class Subscription(name: String, db: String, rp: String,
                          mode: String, destinations: Seq[String])

  def parseSubscription(ddl: String): Subscription = {
    val c = new InfluxQL.Cursor(ddl)
    c.expectIdent("create"); c.expectIdent("subscription")
    val name = c.ident()
    c.expectIdent("on")
    val db = c.ident()
    require(c.acceptPunct("."), "expected db.rp")
    val rp = c.ident()
    c.expectIdent("destinations")
    val mode = c.ident().toUpperCase
    require(mode == "ALL" || mode == "ANY",
      s"unknown subscription mode $mode")
    var dests = Seq.empty[String]
    var more = true
    while (more) {
      dests :+= c.str()
      more = c.acceptPunct(",")
    }
    Subscription(name, db, rp, mode, dests)
  }

  /** Apply the parsed statement to a streaming source of its FROM
    * measurement (time column `time`). */
  def build(stmt: StreamStatement, source: DataFrame,
            time: String = "time"): DataFrame =
    Streams.createStream(source, time,
      delay = s"${stmt.delayNs / 1000000} milliseconds",
      interval = s"${stmt.intervalNs / 1000000} milliseconds",
      tags = stmt.tags,
      aggs = stmt.calls.map { case (fn, f) => aggOf(fn, f) })
}
