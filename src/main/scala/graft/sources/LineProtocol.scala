package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** InfluxDB line-protocol ingest — the reference's write path
  * (`POST /write` → parser `lib/util/lifted/vm/protoparser/influx/parser.go`
  * → shard routing `coordinator/points_writer.go:238`).
  *
  * Spark-first: parsing is a narrow map over a Dataset[String] (one line per
  * element — a file, socket, or Kafka stream source all produce this), so
  * ingest parallelism == source parallelism with zero shuffles. The parsed
  * generic rows go to per-measurement tables via [[toMeasurementTable]]
  * (schema-on-write: first write fixes each field's type — reference
  * `coordinator/write_helper.go:463`).
  *
  * Line shape: `measurement[,tag=v...] field=v[,field=v...] [ns-timestamp]`
  * with `\,`/`\ `/`\=` escapes in identifiers, `"…"` string fields
  * (`\"` escape), `i` suffix integers, and t/T/true/f/F/false booleans.
  */
object LineProtocol {

  case class Point(
      measurement: String,
      tags: Map[String, String],
      floatFields: Map[String, Double],
      intFields: Map[String, Long],
      boolFields: Map[String, Boolean],
      stringFields: Map[String, String],
      time: Long)

  /** Split on `sep` honoring backslash escapes and quotes. Escape pairs are
    * PRESERVED (nested splits still need them); [[unescape]] runs once at
    * the innermost extraction. No regex — hot path. */
  private def splitEscaped(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuotes = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        // escape pairs are opaque INSIDE quotes too — a `\"` inside a
        // string field must not close the quote
        // (Write_LineProtocol_String `value="disk\" mem\\\""`)
        cur.append(c).append(s.charAt(i + 1)); i += 2
      } else if (c == '"') {
        inQuotes = !inQuotes; cur.append(c); i += 1
      } else if (c == sep && !inQuotes) {
        out += cur.result(); cur.clear(); i += 1
      } else { cur.append(c); i += 1 }
    }
    out += cur.result()
    out.result()
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { b.append(s.charAt(i + 1)); i += 2 }
      else { b.append(c); i += 1 }
    }
    b.result()
  }

  /** Index of the first unescaped `ch`, or -1. */
  private def indexOfUnescaped(s: String, ch: Char): Int = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == ch) return i
      else i += 1
    }
    -1
  }

  /** Parse one line; None for blank/comment/malformed lines (the reference
    * collects per-line errors and continues — `parser.go` error rows). */
  def parseLine(line: String, defaultTimeNs: Long = 0L): Option[Point] = {
    val trimmed = line.trim
    if (trimmed.isEmpty || trimmed.startsWith("#")) return None
    // measurement+tags | fields | [timestamp] — split on unescaped spaces
    val sections = splitEscaped(trimmed, ' ').filter(_.nonEmpty)
    if (sections.length < 2 || sections.length > 3) return None
    try {
      val mstTags = splitEscaped(sections(0), ',')
      val measurement = unescape(mstTags.head)
      if (measurement.isEmpty) return None
      val tags = mstTags.tail.map { kv =>
        val i = indexOfUnescaped(kv, '=')
        if (i <= 0) return None
        unescape(kv.substring(0, i)) -> unescape(kv.substring(i + 1))
      }.toMap

      var ff = Map.empty[String, Double]; var intf = Map.empty[String, Long]
      var bf = Map.empty[String, Boolean]; var sf = Map.empty[String, String]
      splitEscaped(sections(1), ',').foreach { kv =>
        val i = indexOfUnescaped(kv, '=')
        if (i <= 0) return None
        val k = unescape(kv.substring(0, i)); val v = kv.substring(i + 1)
        if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
          // string-field escapes, left-to-right: `\\` → `\`, `\"` → `"`,
          // any other `\X` stays BOTH chars (the reference parser's
          // rule — Write_LineProtocol_String golden expectations:
          // `disk\\ mem` reads back as `disk\ mem`, `disk\ mem` as-is)
          sf += k -> {
            val raw = v.substring(1, v.length - 1)
            val b = new StringBuilder
            var j = 0
            while (j < raw.length) {
              val c0 = raw.charAt(j)
              if (c0 == '\\' && j + 1 < raw.length) {
                val n0 = raw.charAt(j + 1)
                if (n0 != '\\' && n0 != '"') b.append(c0)
                b.append(n0); j += 2
              } else { b.append(c0); j += 1 }
            }
            b.toString
          }
        else if (v.endsWith("i")) intf += k -> v.dropRight(1).toLong
        // unsigned suffix (reference parser): stored as Long — values
        // above 2^63-1 are rejected like any other unparseable number
        else if (v.endsWith("u")) intf += k -> v.dropRight(1).toLong
        else if (v == "t" || v == "T" || v == "true" || v == "True" ||
            v == "TRUE")
          bf += k -> true
        else if (v == "f" || v == "F" || v == "false" || v == "False" ||
            v == "FALSE")
          bf += k -> false
        else ff += k -> v.toDouble
      }
      if (ff.isEmpty && intf.isEmpty && bf.isEmpty && sf.isEmpty) return None
      val time = if (sections.length == 3) sections(2).toLong else defaultTimeNs
      Some(Point(measurement, tags, ff, intf, bf, sf, time))
    } catch { case _: NumberFormatException => None }
  }

  /** Parse a Dataset of raw lines into the generic point frame. */
  /** [[parseLine]] plus the reference's tag-array write fan-out
    * (`vm/protoparser/influx/parser.go` tag-array branch;
    * server_test.go:13187 TestServer_TagArray): `tk=[v1,v2]` writes one
    * point PER VALUE; multiple array tags zip index-aligned and must
    * share a length. Fanned points are distinct rows even at one ns —
    * the golden keeps a plain tv9 point AND the array's tv9 point side
    * by side, so the caller must skip the same-time point merge for
    * fanned batches. */
  def parseLineFanned(line: String,
                      defaultTimeNs: Long = 0L): Seq[Point] = {
    val trimmed = line.trim
    if (!trimmed.contains("=[")) return parseLine(line, defaultTimeNs).toSeq
    val sections = splitEscaped(trimmed, ' ').filter(_.nonEmpty)
    if (sections.length < 2 || sections.length > 3) return Nil
    // bracket-aware split of the measurement+tags section
    def splitTagSec(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val sb = new StringBuilder
      var depth = 0; var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '[') { depth += 1; sb.append(c) }
        else if (c == ']') { depth = math.max(0, depth - 1); sb.append(c) }
        else if (c == ',' && depth == 0) { out += sb.toString; sb.clear() }
        else sb.append(c)
        i += 1
      }
      out += sb.toString
      out.result()
    }
    val parts = splitTagSec(sections(0))
    val arrays = parts.zipWithIndex.flatMap { case (kv, i) =>
      val eq = kv.indexOf('=')
      if (eq > 0 && eq + 1 < kv.length && kv.charAt(eq + 1) == '[' &&
          kv.endsWith("]"))
        Some((i, kv.substring(0, eq),
          kv.substring(eq + 2, kv.length - 1).split(",", -1).toSeq))
      else None
    }
    if (arrays.isEmpty) return parseLine(line, defaultTimeNs).toSeq
    val n = arrays.head._3.size
    if (n == 0 || arrays.exists(_._3.size != n)) return Nil
    (0 until n).flatMap { k =>
      val rebuilt = parts.zipWithIndex.map { case (kv, i) =>
        arrays.find(_._1 == i) match {
          case Some((_, key, vs)) => s"$key=${vs(k)}"
          case None => kv
        }
      }.mkString(",")
      parseLine((rebuilt +: sections.tail).mkString(" "), defaultTimeNs)
    }
  }

  def parse(lines: Dataset[String], defaultTimeNs: Long = 0L): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.flatMap(l => parseLine(l, defaultTimeNs)).toDF()
  }

  /** Project one measurement's points into a flat table: tag columns
    * (STRING) + typed field columns + `time` LONG ns + `ts` µs TIMESTAMP
    * view — the measurement-table shape used everywhere else. */
  def toMeasurementTable(points: DataFrame, measurement: String,
                         tagKeys: Seq[String], floatKeys: Seq[String],
                         intKeys: Seq[String] = Nil, boolKeys: Seq[String] = Nil,
                         stringKeys: Seq[String] = Nil): DataFrame = {
    // `__wo` pins WRITE ORDER per row: monotonically_increasing_id over
    // the (order-preserving) point Dataset is globally monotone in line
    // order, so downstream semantics that depend on it — the merged
    // cursor's one-point-per-duplicate-ns pick
    // (difference_derivative_time_duplicate golden) — survive the
    // shuffles that erase physical row order. Hidden (`__` prefix):
    // star expansion, SHOW FIELD KEYS, blank rules and the wire codec
    // all skip it.
    val base = points.filter(col("measurement") === measurement)
      .withColumn("__wo", monotonically_increasing_id())
    val cols =
      tagKeys.map(k => col("tags").getItem(k).as(k)) ++
      floatKeys.map(k => col("floatFields").getItem(k).as(k)) ++
      intKeys.map(k => col("intFields").getItem(k).as(k)) ++
      boolKeys.map(k => col("boolFields").getItem(k).as(k)) ++
      stringKeys.map(k => col("stringFields").getItem(k).as(k)) ++
      Seq(col("time"), timestamp_micros(expr("time div 1000")).as("ts"),
        col("__wo"))
    base.select(cols: _*)
  }

  /** Schema-on-write conflict detection: a field written with two different
    * types is rejected per measurement (reference:
    * `coordinator/write_helper.go:463` updateSchemaIfNeeded; e2e
    * `tests/server_test.go:607` TestServer_Write_FieldTypeConflict).
    * Returns the conflicting (measurement, field, types) rows — empty
    * means the batch is schema-consistent. */
  def fieldTypeConflicts(points: DataFrame): DataFrame = {
    val kinds = Seq("floatFields" -> "float", "intFields" -> "integer",
      "boolFields" -> "boolean", "stringFields" -> "string")
    kinds.map { case (c, ty) =>
      points.select(col("measurement"),
        explode(map_keys(col(c))).as("field"), lit(ty).as("ftype"))
    }.reduce(_ union _)
      .distinct()
      .groupBy(col("measurement"), col("field"))
      .agg(sort_array(collect_set(col("ftype"))).as("types"))
      .filter(size(col("types")) > 1)
  }
}
