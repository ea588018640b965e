package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** InfluxQL HTTP result shaping — the reference's final sink
  * (`engine/executor/httpsender_transform.go`: chunks → `models.Rows` →
  * `{"results":[{"series":[{name,tags,columns,values}]}]}`).
  *
  * This runs AFTER all distributed work, on the final (already
  * limited/aggregated) result — the only deliberate collect() in the
  * engine, mirroring the reference where the HTTP sender is a single-node
  * endpoint too. Epoch precision conversion happens here (reference:
  * epoch arg at the HTTP layer, `tests/server_test.go:1515`). */
object ResultShaper {
  /** `col` that backtick-quotes dotted names (join outputs project
    * literal `table1.value` columns — a bare col() would parse the dot
    * as struct access). */
  private def qcol(c: String) =
    if (c.contains(".")) col(s"`$c`") else col(c)


  /** HTTP `epoch=` parameter → timestamp scaling (reference accepts
    * h/m/s/ms/u/ns, `tests/server_test.go:1515`). Timestamps are µs
    * internally; ns is emitted as µs·1000 (sub-µs digits are zero — the
    * parquet writer precision note in SURVEY §1.2). */
  private def epochOf(ts: java.sql.Timestamp, precision: String): Long = {
    val us = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
    precision match {
      case "h" => us / 3600000000L
      case "m" => us / 60000000L
      case "s" => us / 1000000L
      case "ms" => us / 1000L
      case "u" | "µ" => us
      case "ns" => us * 1000L
      case p => sys.error(s"bad epoch precision: $p")
    }
  }

  /** Go time.RFC3339Nano rendering: fractional seconds only when
    * nonzero, TRAILING ZEROS TRIMMED (".1Z" not ".100Z" —
    * HashJoin_Table sub-ms expectations). */
  private[sources] def goRfc3339(epochSec: Long, nanos: Long): String = {
    val base = java.time.format.DateTimeFormatter.ISO_INSTANT.format(
      java.time.Instant.ofEpochSecond(epochSec, 0))
    if (nanos == 0) base
    else {
      val frac = f"$nanos%09d".reverse.dropWhile(_ == '0').reverse
      base.stripSuffix("Z") + "." + frac + "Z"
    }
  }

  /** Epoch-NANOSECOND time cell (the executor's `__tns` ns axis —
    * sub-µs timestamps survive to the JSON edge: Where_Fields /
    * ExactTimeRange expectations carry full ns). */
  private def jsonNsTime(v: Any, epoch: String): String = v match {
    case null => "null"
    case ns: java.lang.Long =>
      val n = ns.longValue()
      epoch match {
        case "rfc3339" =>
          "\"" + goRfc3339(Math.floorDiv(n, 1000000000L),
            Math.floorMod(n, 1000000000L)) + "\""
        case "h" => Math.floorDiv(n, 3600000000000L).toString
        case "m" => Math.floorDiv(n, 60000000000L).toString
        case "s" => Math.floorDiv(n, 1000000000L).toString
        case "ms" => Math.floorDiv(n, 1000000L).toString
        case "u" | "µ" => Math.floorDiv(n, 1000L).toString
        case "ns" => n.toString
        case p => sys.error(s"bad epoch precision: $p")
      }
    case other => jsonScalar(other, epoch)
  }

  /** Go `encoding/json` float64 rendering (`encode.go` floatEncoder):
    * shortest decimal that round-trips, plain 'f' form for
    * 1e-6 ≤ |v| < 1e21, else 'e' form with the `e-0X` → `e-X` cleanup.
    * The reference's every numeric expectation is in this format —
    * `30` not `30.0`, `46.666666666666664` unchanged, `1e+21`. */
  private[sources] def goFloat(d: Double): String = {
    if (d.isNaN || d.isInfinite) return d.toString // reference never emits
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    val abs = math.abs(d)
    // shortest digit string that round-trips: minimal precision p whose
    // round-to-p-significant-digits value re-parses to the same double
    // (Java 17's Double.toString is not always shortest — JDK-4511638)
    val bd = {
      var p = 1
      var out: java.math.BigDecimal = null
      while (out == null && p <= 17) {
        val c = new java.math.BigDecimal(d)
          .round(new java.math.MathContext(p))
        if (c.doubleValue() == d) out = c
        p += 1
      }
      if (out == null) new java.math.BigDecimal(d) else out
    }
    if (abs >= 1e-6 && abs < 1e21)
      bd.stripTrailingZeros.toPlainString
    else {
      // 'e' form: d.dddde±XX with at least two exponent digits, then
      // Go's json cleanup drops the leading zero of a negative exponent
      val stripped = bd.stripTrailingZeros
      val digits = stripped.unscaledValue.abs.toString
      val sign = if (d < 0) "-" else ""
      val mant =
        if (digits.length == 1) digits
        else digits.head + "." + digits.tail
      val exp = digits.length - 1 - stripped.scale
      val expStr =
        if (exp < 0 && exp > -10) s"e-${-exp}"
        else if (exp < 0) s"e-${-exp}"
        else if (exp < 10) s"e+0$exp"
        else s"e+$exp"
      s"$sign$mant$expStr"
    }
  }

  /** `s` as a JSON string literal, the escape form of every reply the
    * gateway renders: quote, backslash and newline take their short
    * forms, other control characters a four-hex-digit escape. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonScalar(v: Any, epoch: String = "ms"): String = v match {
    case null => "null"
    case d: Double => goFloat(d)
    case f: Float => goFloat(f.toDouble)
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case ts: java.sql.Timestamp if epoch == "rfc3339" =>
      // the reference's DEFAULT time rendering (no epoch= param):
      // RFC3339 UTC, sub-second digits only when nonzero, trailing
      // zeros trimmed (`httpd/response_writer.go` time.RFC3339Nano)
      "\"" + goRfc3339(Math.floorDiv(ts.getTime, 1000L),
        ts.getNanos.toLong) + "\""
    case ts: java.sql.Timestamp => epochOf(ts, epoch).toString
    case d: java.sql.Date => "\"" + d.toString + "\""
    // array cells render as JSON arrays (SHOW SUBSCRIPTIONS destinations —
    // the reference emits the destination list as a JSON array)
    case xs: scala.collection.Seq[_] =>
      xs.map(jsonScalar(_, epoch)).mkString("[", ",", "]")
    case n => n.toString
  }

  /** Chunked form (`chunked=true&chunk_size=n`): each chunk is a complete
    * response document carrying at most `chunkSize` rows of one series;
    * a series split across chunks is marked `"partial":true` on every
    * chunk but its last — the reference's chunking contract
    * (`httpsender_transform.go` chunked emission). Buffered convenience
    * over [[streamSeriesJsonChunked]]. */
  def toSeriesJsonChunked(df: DataFrame, name: String, tagCols: Seq[String],
                          valueCols: Seq[String], chunkSize: Int,
                          epoch: String = "ms"): Seq[String] =
    streamSeriesJsonChunked(df, name, tagCols, valueCols, chunkSize, epoch)
      .toSeq

  /** Streaming chunked emission: rows come off `toLocalIterator` one
    * partition at a time after a series-contiguity sort, so driver
    * memory is bounded by one partition + one chunk REGARDLESS of
    * result size — the reference streams chunks the same way as its
    * cursors advance (`httpsender_transform.go`), and this is what
    * makes `chunked=true` safe for a `SELECT *` over a large
    * measurement. Series are ordered by their stringified tag values;
    * rows within a series keep plan order (the monotonic row-id
    * tiebreaker makes the contiguity sort stable). Tag-less results
    * skip the sort entirely — their plan order IS the emission order.
    * `nameCol` names each row's series like [[toResultObj]]'s. */
  def streamSeriesJsonChunked(df: DataFrame, name: String,
                              tagCols: Seq[String], valueCols: Seq[String],
                              chunkSize: Int,
                              epoch: String = "ms",
                              timeNs: Boolean = false,
                              seriesDesc: Boolean = false,
                              nameCol: Option[String] = None)
      : Iterator[String] = {
    import scala.jdk.CollectionConverters._
    // a chunk must take at least one row, or the stream never ends
    require(chunkSize > 0, s"chunk size must be positive: $chunkSize")
    val keyCols = nameCol.toSeq ++ tagCols
    val projected =
      if (keyCols.isEmpty) df.select(valueCols.map(qcol): _*)
      else {
        val key = array(keyCols.map(c =>
          coalesce(col(c).cast("string"), lit(""))): _*)
        df.withColumn("__row", monotonically_increasing_id())
          .orderBy(if (seriesDesc) key.desc else key.asc, col("__row").asc)
          .select((keyCols ++ valueCols).map(qcol): _*)
      }
    val rows = projected.toLocalIterator().asScala.buffered
    def keyOf(r: Row) = keyCols.map(r.getAs[Any])
    new Iterator[String] {
      def hasNext: Boolean = rows.hasNext
      def next(): String = {
        val key = keyOf(rows.head)
        val chunk = Vector.newBuilder[Row]
        var n = 0
        while (n < chunkSize && rows.hasNext && keyOf(rows.head) == key) {
          chunk += rows.next(); n += 1
        }
        // series-level partial iff the SAME series continues in the
        // next chunk; RESULT-level partial iff ANY chunk follows
        // (response_writer.go emits both markers —
        // Query_By_Chunked golden docs)
        val partial = rows.hasNext && keyOf(rows.head) == key
        seriesDoc(nameCol.fold(name)(_ => String.valueOf(key.head)), tagCols,
          key.drop(nameCol.size), valueCols, chunk.result(), epoch, partial,
          timeNs, resultPartial = rows.hasNext)
      }
    }
  }

  /** `"tags":{…}` member, or NOTHING for an untagged series — the
    * reference omits the key entirely when the series has no tags
    * (`models.Row` json `tags,omitempty`; every untagged expectation in
    * `tests/server_test.go` carries no "tags"). */
  private def tagsField(tagCols: Seq[String], tagVals: Seq[Any]): String =
    if (tagCols.isEmpty) ""
    else tagCols.zip(tagVals)
      // key order is NAME-SORTED regardless of the GROUP BY spelling —
      // Go json.Marshal of the tags map sorts keys
      // (Multi_Metric_Detection exp "agentSN" before "pAgentSN")
      .sortBy(_._1)
      // a null GROUP BY tag renders as the EMPTY string (the reference
      // keys absent tags as "" — server_test.go "tags":{"country":""})
      .map { case (k, v) =>
        s"${jsonScalar(k)}:${if (v == null) "\"\"" else jsonScalar(v)}" }
      .mkString(""","tags":{""", ",", "}")

  private def seriesDoc(name: String, tagCols: Seq[String],
                        tagVals: Seq[Any], valueCols: Seq[String],
                        rs: Seq[Row], epoch: String,
                        partial: Boolean,
                        timeNs: Boolean = false,
                        resultPartial: Boolean = false): String = {
    val columns = valueCols.map(c => jsonScalar(c)).mkString("[", ",", "]")
    val values = rs.map(r => valueCols
      .map(c => if (timeNs && c == "time") jsonNsTime(r.getAs[Any](c), epoch)
                else jsonScalar(r.getAs[Any](c), epoch))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val p = if (partial) ""","partial":true""" else ""
    val rp = if (resultPartial) ""","partial":true""" else ""
    s"""{"results":[{"statement_id":0,"series":[{"name":${
      jsonScalar(name)}${tagsField(tagCols, tagVals)},"columns":$columns,"values":$values$p}]$rp}]}"""
  }

  /** Shape a result into the per-series InfluxQL JSON: one series per
    * distinct tag set, `columns` = time + fields, `values` = row arrays.
    * `epoch` is the HTTP API's precision parameter (default ms). */
  def toSeriesJson(df: DataFrame, name: String, tagCols: Seq[String],
                   valueCols: Seq[String], epoch: String = "ms"): String =
    s"""{"results":[${toResultObj(df, name, tagCols, valueCols, epoch)}]}"""

  /** One result object `{"statement_id":i,"series":[…]}` — the unit the
    * reference's response writer emits per statement of a multi-statement
    * `q` (`httpd/response_writer.go:387`).
    *
    * `maxRows` is the reference's `http.max-row-limit`
    * (`httpd/config/config.go:37` DefaultMaxRowNum, truncation per
    * `handler.go:979` getResultRowsCnt): a non-chunked response never
    * buffers more than `maxRows` rows — the series that crosses the
    * limit is cut and marked `"partial":true`, remaining series are
    * dropped. The collect itself is capped at `maxRows + 1` rows so the
    * driver is protected BEFORE shaping, not after. */
  def toResultObj(df: DataFrame, name: String, tagCols: Seq[String],
                  valueCols0: Seq[String], epoch: String = "ms",
                  statementId: Int = 0,
                  maxRows: Int = Int.MaxValue,
                  timeNs: Boolean = false,
                  seriesDesc: Boolean = false,
                  nameCol: Option[String] = None,
                  pruneNullCols: Boolean = false): String = {
    val capped =
      if (maxRows == Int.MaxValue) df else df.limit(maxRows + 1)
    val rows = capped.select(
      (nameCol.toSeq ++ tagCols ++ valueCols0).map(qcol): _*).collect()
    // /*+ filter_null_column */: a value column null on EVERY result row
    // prunes from the rendered columns (the reference's null-column
    // pruning — HintQuery_FilterNullColumn exp [time,f1,tk1] only)
    val valueCols =
      if (!pruneNullCols) valueCols0
      else valueCols0.filter(c => c == "time" ||
        rows.exists(r => r.getAs[Any](c) != null))
    // nameCol: per-row series name (SHOW TAG KEYS/VALUES emit one
    // series per measurement) — groups like a tag, names the series
    def seriesName(r: Row): String =
      nameCol.map(r.getAs[String]).getOrElse(name)
    val grouped0 = rows.groupBy(r =>
        seriesName(r) +: tagCols.map(t => r.getAs[Any](t)))
      // null tags key as "" (they render as "") and sort FIRST; ORDER BY
      // time DESC reverses the series order too (the reference emits
      // series in the statement's direction)
      .toSeq.sortBy(_._1.map(v =>
        if (v == null) "" else String.valueOf(v)).mkString(","))
      .map { case (k, rs) => (k.head.asInstanceOf[String], k.tail, rs) }
    val grouped = if (seriesDesc) grouped0.reverse else grouped0
    var emitted = 0
    val keptSeries = grouped.iterator
      .takeWhile(_ => emitted < maxRows)
      .map { case (sname, tagVals, rs) =>
        val room = maxRows - emitted
        val (kept, cut) =
          if (rs.length > room) (rs.take(room), true) else (rs, false)
        emitted += kept.length
        (sname, tagVals, kept, cut)
      }.toVector
    // ANY truncation marks partial (handler.go:979): when the limit
    // lands exactly on a series boundary the next whole series is
    // dropped — the sentinel maxRows+1 row proves it — so the LAST
    // emitted series carries the marker even though it wasn't cut mid-way
    val dropped = rows.length > emitted
    val series = keptSeries.zipWithIndex
      .map { case ((sname, tagVals, kept, cut), i) =>
        val partial = cut || (dropped && i == keptSeries.length - 1)
        val columns = valueCols.map(c => jsonScalar(c)).mkString("[", ",", "]")
        val values = kept.map(r => valueCols
          .map(c =>
            if (timeNs && c == "time") jsonNsTime(r.getAs[Any](c), epoch)
            else jsonScalar(r.getAs[Any](c), epoch))
          .mkString("[", ",", "]")).mkString("[", ",", "]")
        val p = if (partial) ""","partial":true""" else ""
        // models.Row json `name,omitempty`: unnamed series (SHOW SERIES
        // pooled keys, SHOW RETENTION POLICIES) carry no name member
        val nameMember =
          if (sname == null || sname.isEmpty) ""
          else s""""name":${jsonScalar(sname)},"""
        val tagsPart = tagsField(tagCols, tagVals) match {
          case "" => ""
          case t0 => t0.stripPrefix(",") + ","
        }
        s"""{$nameMember$tagsPart"columns":$columns,"values":$values$p}"""
      }.mkString("[", ",", "]")
    // zero matching rows: the reference emits a bare statement object —
    // no "series" key at all (models.Row slice nil, json omitempty;
    // e2e Where_Fields "no match" → {"results":[{"statement_id":0}]})
    if (keptSeries.isEmpty) s"""{"statement_id":$statementId}"""
    else s"""{"statement_id":$statementId,"series":$series}"""
  }
}
