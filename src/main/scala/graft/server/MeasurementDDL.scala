package graft.server

import graft.query.InfluxQL

/** Schema'd measurements: `CREATE MEASUREMENT`, `ALTER MEASUREMENT …
  * WITH SHARDKEY`, and the `SHOW <info> FROM mst` introspection family.
  *
  * Reference surface:
  *  - grammar `influxql/sql.y:2981` CREATE MEASUREMENT TABLE_CASE
  *    COLUMN_LISTS CMOPTIONS (column list `(region tag, v1 int64, …)`
  *    with types tag|int64|float64|bool|string, sql.y:3317; WITH options
  *    ENGINETYPE = tsstore|columnstore, SHARDKEY k1,k2, TYPE hash|range,
  *    PRIMARYKEY …, SORTKEY …, INDEXTYPE name INDEXLIST c1,c2 …);
  *  - `sql.y:3684` ALTER MEASUREMENT mst WITH SHARDKEY k1,k2 [TYPE t]
  *    (shard key stored SORTED, like the reference's sort.Strings);
  *  - `sql.y:2585` SHOW PRIMARYKEY|SORTKEY|PROPERTY|COMPACT|SHARDKEY|
  *    ENGINETYPE|INDEXES|SCHEMA FROM [db.rp.]mst, executed per
  *    `coordinator/statement_executor.go:1309` (COLUMNSTORE-only guards
  *    for primary/sort/property/compact; SHARDKEY row set
  *    [SHARD_KEYS, TYPE, SHARD_GROUP], :1399).
  *
  * The catalog is gateway state (like RPs and CQ/stream/downsample
  * registries); the storage behaviors the options describe — shard
  * routing, columnar layout, index selection — live in Spark's own
  * machinery here (hash partitioning, parquet columnar layout, Catalyst
  * pushdown), so the DDL records intent and serves introspection, and a
  * declared TAG list types the measurement before its first write. */
object MeasurementDDL {

  case class Schema(db: Option[String], rp: Option[String], name: String,
                    tags: Seq[String], fields: Seq[(String, String)],
                    shardKey: Seq[String], shardType: String,
                    engineType: String,
                    indexes: Seq[(String, Seq[String])],
                    primaryKey: Seq[String], sortKey: Seq[String])

  val infoKinds: Set[String] = Set("primarykey", "sortkey", "property",
    "compact", "shardkey", "enginetype", "indexes", "schema")

  def parseCreate(sql: String): Schema = {
    val p = new InfluxQL.Cursor(sql)
    p.expectIdent("create"); p.expectIdent("measurement")
    val (db, rp, name) = p.qualified()
    var tags = Seq.empty[String]
    var fields = Seq.empty[(String, String)]
    if (p.acceptPunct("(")) {
      var more = true
      while (more) {
        val col = p.ident()
        val tpe = p.ident().toLowerCase
        tpe match {
          case "tag" => tags :+= col
          case "int64" | "float64" | "bool" | "string" =>
            fields :+= ((col, tpe))
          case other => sys.error(
            s"expect FLOAT64, INT64, BOOL, STRING for column data type: $other")
        }
        if (!p.acceptPunct(",")) { p.expect(")"); more = false }
      }
    }
    var shardKey = Seq.empty[String]
    var shardType = "hash"
    var engine = "tsstore"
    var indexes = Seq.empty[(String, Seq[String])]
    var primaryKey = Seq.empty[String]
    var sortKey = Seq.empty[String]
    if (p.accept("with")) {
      while (!p.atEnd) {
        val opt = p.ident().toLowerCase
        opt match {
          case "enginetype" =>
            if (p.peek == InfluxQL.TOp("=")) p.next()
            engine = p.ident().toLowerCase
            require(engine == "tsstore" || engine == "columnstore",
              s"unknown engine type: $engine")
          case "shardkey" => shardKey = p.identList()
          case "type" =>
            shardType = p.ident().toLowerCase
            require(shardType == "hash" || shardType == "range",
              s"unknown shard type: $shardType")
          case "primarykey" => primaryKey = p.identList()
          case "sortkey" => sortKey = p.identList()
          case "indextype" =>
            val it = p.ident().toLowerCase
            val cols =
              if (p.accept("indexlist")) p.identList() else Nil
            indexes :+= ((it, cols))
          case "ttl" => p.next() // recorded by the RP layer, accepted here
          case "numofshards" => p.next()
          case other => sys.error(s"unknown CREATE MEASUREMENT option: $other")
        }
      }
    }
    require(p.atEnd, s"trailing tokens after CREATE MEASUREMENT")
    Schema(db, rp, name, tags, fields, shardKey, shardType, engine,
      indexes, primaryKey, sortKey)
  }

  /** ALTER MEASUREMENT mst WITH SHARDKEY … [TYPE …] → (db, rp, name,
    * sortedShardKey, shardType). */
  def parseAlter(sql: String)
      : (Option[String], Option[String], String, Seq[String], String) = {
    val p = new InfluxQL.Cursor(sql)
    p.expectIdent("alter"); p.expectIdent("measurement")
    val (db, rp, name) = p.qualified()
    var key = Seq.empty[String]
    var tpe = "hash"
    if (p.accept("with")) {
      p.expectIdent("shardkey")
      key = p.identList()
      if (p.accept("type")) tpe = p.ident().toLowerCase
    }
    (db, rp, name, key.sorted, tpe) // sql.y:3692 sort.Strings
  }

  /** SHOW <info> FROM [db.rp.]mst → (infoKind, db, rp, name). */
  def parseShowKeys(sql: String)
      : (String, Option[String], Option[String], String) = {
    val p = new InfluxQL.Cursor(sql)
    p.expectIdent("show")
    val kind = p.ident().toLowerCase
    require(infoKinds(kind), s"$kind is not support for this command")
    p.expectIdent("from")
    val (db, rp, name) = p.qualified()
    (kind, db, rp, name)
  }
}
