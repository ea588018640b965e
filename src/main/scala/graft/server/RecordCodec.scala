package graft.server

import org.apache.spark.sql.DataFrame

import KafkaWire.{Dec, Enc}

/** The reference's `lib/record` columnar record codec — the payload format
  * of Kafka Fetch V2 consume messages (`services/consume/processor.go:117`
  * passes each `ConsumeRecord` straight through as the frame's Marshaler).
  *
  * Layout (all multi-byte ints big-endian unless noted; from
  * `lib/record/iterator.go:31`, `record_codec.go:23`, `column_codec.go:21`,
  * `schema_codec.go:19` over `lib/codec/binary_encoder.go`):
  *
  *   ConsumeRecord = u32 tagCount, Tag*, Record
  *   Tag           = str key, str value, bool isArray     (str = u16 len + bytes)
  *   Record        = u32 schemaLen, (u32 size, Field)*,
  *                   u32 colCount,  (u32 size, ColVal)*
  *   Field         = str name, int type                   (int = zigzag u64 BE)
  *   ColVal        = int Len, int NilCount, int BitMapOffset,
  *                   bytes Val, bytes Bitmap,             (bytes = u32 len + raw)
  *                   u32 offCount, u32le offset*          (codec.AppendUint32SliceSafe:
  *                                                         count BE, elements LE)
  *
  * ColVal memory semantics (`lib/record/column.go:30`, `column_util.go:329`):
  * Val is DENSE — fixed-width nulls append no value bytes; values are the
  * Go slice's in-memory bytes, i.e. little-endian int64 / IEEE-754 float64 /
  * one byte per bool. The validity bitmap is LSB-first (BitMask = 1,2,4…),
  * bit set = present, and grows one byte at a time exactly when
  * `(len >> 3) >= bitmapBytes`. Strings get one Offset entry PER ROW
  * (null rows repeat the current Val length, `column_string.go:50`).
  *
  * Field type ids: `vm/protoparser/influx/parser.go:1363` —
  * Int=1 UInt=2 Float=3 String=4 Boolean=5.
  */
object RecordCodec {

  val TInt = 1
  val TUInt = 2
  val TFloat = 3
  val TString = 4
  val TBool = 5

  final case class Field(name: String, typ: Int)
  final case class Tag(key: String, value: String, isArray: Boolean = false)

  /** Incremental column builder mirroring the reference's ColVal appends. */
  final class ColVal {
    private val valBuf = new java.io.ByteArrayOutputStream()
    private val bitmap = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    var len = 0
    var nilCount = 0

    private def mark(present: Boolean): Unit = {
      if ((len >> 3) >= bitmap.length)
        bitmap += (if (present) 1 else 0).toByte
      else if (present)
        bitmap(len >> 3) = (bitmap(len >> 3) | (1 << (len & 7))).toByte
      len += 1
      if (!present) nilCount += 1
    }

    private def le64(v: Long): Unit = {
      var i = 0
      while (i < 8) { valBuf.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }

    def appendLong(v: Long): ColVal = { le64(v); mark(present = true); this }
    def appendDouble(v: Double): ColVal =
      { le64(java.lang.Double.doubleToRawLongBits(v)); mark(present = true); this }
    def appendBool(v: Boolean): ColVal =
      { valBuf.write(if (v) 1 else 0); mark(present = true); this }
    def appendString(s: String): ColVal = {
      offsets += valBuf.size().toLong
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      valBuf.write(b, 0, b.length)
      mark(present = true); this
    }
    /** Null for fixed-width types: no value bytes. */
    def appendNull(): ColVal = { mark(present = false); this }
    /** Null for string columns: offset still appended (column_string.go:50). */
    def appendStringNull(): ColVal = {
      offsets += valBuf.size().toLong
      mark(present = false); this
    }

    def marshal(): Array[Byte] = {
      val e = new Enc
      e.i64(len.toLong)          // codec.AppendInt = zigzag BE64
      e.i64(nilCount.toLong)
      e.i64(0L)                  // BitMapOffset: always 0 for a fresh build
      e.bytes(valBuf.toByteArray)
      e.bytes(bitmap.toArray)
      e.u32(offsets.length.toLong) // AppendUint32SliceSafe: count BE…
      offsets.foreach { o =>       // …elements LITTLE-endian
        val b = new Array[Byte](4)
        var i = 0
        while (i < 4) { b(i) = ((o >>> (8 * i)) & 0xff).toByte; i += 1 }
        e.raw(b)
      }
      e.result()
    }
  }

  def marshalRecord(e: Enc, schema: Seq[Field], cols: Seq[ColVal]): Unit = {
    e.u32(schema.length.toLong)
    schema.foreach { f =>
      val fe = new Enc
      fe.str(f.name)
      fe.i64(f.typ.toLong)
      val b = fe.result()
      e.u32(b.length.toLong)
      e.raw(b)
    }
    e.u32(cols.length.toLong)
    cols.foreach { c =>
      val b = c.marshal()
      e.u32(b.length.toLong)
      e.raw(b)
    }
  }

  def marshalConsume(tags: Seq[Tag], schema: Seq[Field],
                     cols: Seq[ColVal]): Array[Byte] = {
    val e = new Enc
    e.u32(tags.length.toLong)
    tags.foreach { t => e.str(t.key); e.str(t.value); e.bool(t.isArray) }
    marshalRecord(e, schema, cols)
    e.result()
  }

  // ---------------------------------------------------------- decoding
  /** Decoded column: dense values indexed by valid-rank, per the bitmap. */
  final case class DecodedCol(len: Int, nilCount: Int, bitMapOffset: Int,
                              valBytes: Array[Byte], bitmap: Array[Byte],
                              offsets: Seq[Long]) {
    def isNull(row: Int): Boolean = {
      val idx = row + bitMapOffset
      (bitmap(idx >> 3) & (1 << (idx & 7))) == 0
    }
    // prefix ranks: rank(r) = #valid rows in [0, r) — one O(len) pass,
    // so a full-column decode is O(len) instead of O(len²)
    private lazy val rank: Array[Int] = {
      val a = new Array[Int](len + 1)
      var r = 0
      while (r < len) { a(r + 1) = a(r) + (if (isNull(r)) 0 else 1); r += 1 }
      a
    }
    private def validRank(row: Int): Int = rank(row)
    private def le64At(pos: Int): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (valBytes(pos + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    def longAt(row: Int): Option[Long] =
      if (isNull(row)) None else Some(le64At(validRank(row) * 8))
    def doubleAt(row: Int): Option[Double] =
      longAt(row).map(java.lang.Double.longBitsToDouble)
    def boolAt(row: Int): Option[Boolean] =
      if (isNull(row)) None else Some(valBytes(validRank(row)) != 0)
    def stringAt(row: Int): Option[String] =
      if (isNull(row)) None
      else {
        val start = offsets(row).toInt
        val end =
          if (row + 1 < offsets.length) offsets(row + 1).toInt
          else valBytes.length
        Some(new String(valBytes, start, end - start,
          java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  private def decBytes(d: Dec): Array[Byte] = {
    val n = d.u32().toInt
    Array.fill(n)(d.u8().toByte)
  }

  def unmarshalConsume(buf: Array[Byte])
      : (Seq[Tag], Seq[Field], Seq[DecodedCol]) = {
    val d = new Dec(buf)
    val tags = (0 until d.u32().toInt).map { _ =>
      Tag(d.str(), d.str(), d.u8() != 0)
    }
    val schema = (0 until d.u32().toInt).map { _ =>
      d.u32() // per-field size prefix
      Field(d.str(), d.i64().toInt)
    }
    val cols = (0 until d.u32().toInt).map { _ =>
      d.u32() // per-col size prefix
      val len = d.i64().toInt
      val nil = d.i64().toInt
      val bmo = d.i64().toInt
      val vb = decBytes(d)
      val bm = decBytes(d)
      val offs = (0 until d.u32().toInt).map { _ =>
        var v = 0L; var i = 0
        while (i < 4) { v |= (d.u8().toLong & 0xffL) << (8 * i); i += 1 }
        v
      }
      DecodedCol(len, nil, bmo, vb, bm, offs)
    }
    (tags, schema, cols)
  }

  // ----------------------------------------------- result → payloads
  /** Render a bounded query result as marshaled ConsumeRecords, one per
    * series — the granularity the reference's consume iterator emits
    * (`tsreader/iterator.go:95` yields one (sid, record batch) per Next).
    * Tag columns become the record's Tags (select order); field columns
    * sort by name with `time` appended last as epoch-ns Int, exactly the
    * `NewConsumeOptions` schema rule (`tsreader/iterator.go:221-225`).
    * Series order is sorted by tag values for determinism; rows within a
    * series keep the query's own order.
    *
    * `timeScaleNs` converts a raw integral time column to epoch ns —
    * the InfluxQL result convention is epoch-ms longs, so the default is
    * 1e6; Timestamp columns convert exactly regardless.
    *
    * `maxRows` caps the driver-side collect (the same
    * `http.max-row-limit` guard as the remote-read path,
    * `httpd/config/config.go:37`): an unbounded query handed to this
    * method throws instead of materializing the full result on the
    * driver. Kafka fetch drains one message per request from
    * consume-scoped queries, so legitimate callers never hit it. */
  def payloadsFromResult(df: DataFrame, tagCols: Set[String],
                         timeScaleNs: Long = 1000000L,
                         maxRows: Int = 1000000)
      : Seq[Array[Byte]] = {
    import org.apache.spark.sql.types._
    // `__tns` is the engine-internal exact epoch-ns axis: it IS the time
    // column on the wire (scale 1), never a field — the reference schema
    // is tags + fields-by-name + `time` last, no internals
    // (tsreader/iterator.go:221-225).
    val hasTns = df.columns.contains("__tns")
    val df0 =
      if (hasTns)
        df.drop("time", "ts").withColumnRenamed("__tns", "time")
      else df
    val tScale = if (hasTns) 1L else timeScaleNs
    val cols = df0.columns.toSeq.filterNot(_.startsWith("__"))
    val tagNames = cols.filter(tagCols.contains)
    val timeName = cols.find(c => c == "time" || c == "ts")
    val fieldNames =
      cols.filterNot(c => tagNames.contains(c) || timeName.contains(c)).sorted
    val types = df0.schema.fields.map(f => f.name -> f.dataType).toMap
    def typeId(dt: DataType): Int = dt match {
      case LongType | IntegerType | ShortType | ByteType => TInt
      case DoubleType | FloatType => TFloat
      case BooleanType => TBool
      case TimestampType => TInt // epoch ns, like the reference time col
      case _ => TString
    }
    val schema = fieldNames.map(n => Field(n, typeId(types(n)))) ++
      timeName.map(n => Field("time", TInt))
    val outCols = fieldNames ++ timeName
    val probe = if (maxRows >= Int.MaxValue - 1) Int.MaxValue
                else maxRows + 1
    val rows = df0.limit(probe).collect().toSeq
    require(rows.length <= maxRows,
      s"payloadsFromResult: result exceeds maxRows=$maxRows — cap the " +
        s"query (LIMIT) or raise the gateway max-row-limit explicitly")
    val idx = cols.zipWithIndex.toMap

    def epochNs(v: Any): Long = v match {
      case ts: java.sql.Timestamp =>
        val inst = ts.toInstant
        inst.getEpochSecond * 1000000000L + inst.getNano
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000000L + i.getNano
      case l: Long => l * tScale
      case other => other.toString.toLong * tScale
    }

    val grouped = rows.groupBy(r =>
      tagNames.map(t => Option(r.get(idx(t))).map(_.toString).getOrElse("")))
    val bySeries = grouped.toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering)
    bySeries.map { case (tagVals, rs) =>
      val tags = tagNames.zip(tagVals).map { case (k, v) => Tag(k, v) }
      val colVals = outCols.map { c =>
        val cv = new ColVal
        val dt = types(c)
        val isTime = timeName.contains(c)
        rs.foreach { r =>
          val v = r.get(idx(c))
          if (v == null) {
            if (!isTime && typeId(dt) == TString) cv.appendStringNull()
            else cv.appendNull()
          } else if (isTime) cv.appendLong(epochNs(v))
          else dt match {
            case LongType => cv.appendLong(v.asInstanceOf[Long])
            case IntegerType => cv.appendLong(v.asInstanceOf[Int].toLong)
            case ShortType => cv.appendLong(v.asInstanceOf[Short].toLong)
            case ByteType => cv.appendLong(v.asInstanceOf[Byte].toLong)
            case DoubleType => cv.appendDouble(v.asInstanceOf[Double])
            case FloatType => cv.appendDouble(v.asInstanceOf[Float].toDouble)
            case BooleanType => cv.appendBool(v.asInstanceOf[Boolean])
            case TimestampType => cv.appendLong(epochNs(v))
            case _ => cv.appendString(v.toString)
          }
        }
        cv
      }
      marshalConsume(tags, schema, colVals)
    }
  }
}
