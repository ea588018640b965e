package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal
import graft.sources.{ArrowIngest, LineProtocol, ParquetStats, ResultShaper}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("line protocol: reference corpus shapes parse") {
    // shapes from /root/reference/tests/server_test.go:999-1001,742
    val p1 = LineProtocol.parseLine(
      "cpu,host=server01 value=100,core=4i 946684800000000000").get
    assert(p1.measurement == "cpu")
    assert(p1.tags == Map("host" -> "server01"))
    assert(p1.floatFields == Map("value" -> 100.0))
    assert(p1.intFields == Map("core" -> 4L))
    assert(p1.time == 946684800000000000L)

    val p2 = LineProtocol.parseLine(
      """cpu,host=server01,region=uswest value="disk mem",ok=t""").get
    assert(p2.tags("region") == "uswest")
    assert(p2.stringFields("value") == "disk mem")
    assert(p2.boolFields("ok"))

    val p3 = LineProtocol.parseLine(
      """weird\ name,tag\,x=a\=b value=1 100""").get
    assert(p3.measurement == "weird name")
    assert(p3.tags == Map("tag,x" -> "a=b"))

    assert(LineProtocol.parseLine("# comment").isEmpty)
    assert(LineProtocol.parseLine("cpu novalue").isEmpty)
    assert(LineProtocol.parseLine("cpu value=abc").isEmpty)
    // unsigned suffix maps to the integer field set
    assert(LineProtocol.parseLine("cpu count=42u 100").get
      .intFields == Map("count" -> 42L))
  }

  test("line protocol end-to-end: lines -> measurement table") {
    val lines = Seq(
      "cpu,host=a value=1,core=2i 1704067200000000000",
      "cpu,host=b value=3 1704067260000000500",
      "mem,host=a used=9 1704067200000000000",
      "bad line line line").toDS()
    val pts = LineProtocol.parse(lines)
    assert(pts.count() == 3)
    val cpu = LineProtocol.toMeasurementTable(pts, "cpu",
      tagKeys = Seq("host"), floatKeys = Seq("value"), intKeys = Seq("core"))
    val rows = cpu.orderBy("host")
      .select("host", "value", "core", "time")
      .as[(String, Double, Option[Long], Long)].collect()
    assert(rows(0) == (("a", 1.0, Some(2L), 1704067200000000000L)))
    assert(rows(1) == (("b", 3.0, None, 1704067260000000500L)))
    // ns → µs timestamp view truncates
    val ts = cpu.filter($"host" === "b").select(unix_micros($"ts"))
      .as[Long].collect().head
    assert(ts == 1704067260000000L)
  }

  test("schema-on-write: field type conflicts are detected") {
    val lines = Seq(
      "cpu,host=a value=1.5 0",
      "cpu,host=b value=\"text\" 1",   // conflict: float then string
      "cpu,host=a core=2i 2",
      "mem,host=a value=\"ok\" 0").toDS() // same field name, other mst: fine
    val conflicts = LineProtocol.fieldTypeConflicts(LineProtocol.parse(lines))
      .as[(String, String, Seq[String])].collect()
    assert(conflicts.toSeq == Seq(("cpu", "value", Seq("float", "string"))))
  }

  test("multimodal: decode/resize/frame-sample/features plumbing") {
    val media = Seq((1L, "abcdef".getBytes), (2L, ("x" * 3000).getBytes))
      .toDF("id", "content")
    val decoded = Multimodal.decodeImage(media, "content", "image/png")
    val meta = decoded.select($"id", $"media_meta.n_bytes")
      .as[(Long, Long)].collect().toMap
    assert(meta == Map(1L -> 6L, 2L -> 3000L))
    assert(decoded.select($"media_meta.modality").as[String]
      .collect().forall(_ == "image"))
    val resized = Multimodal.resize(decoded, "media_meta", 100, 100)
    assert(resized.select($"media_meta.width").as[Int].collect()
      .forall(_ <= 100))
    val frames = Multimodal.frameSample(media, "content", 2)
      .select($"id", size($"frame_indices")).as[(Long, Int)].collect().toMap
    assert(frames(1L) == 1 && frames(2L) == 2) // 3000B → 3 frames, every 2nd
    val feats = Multimodal.extractFeatures(media, "content", 8)
      .select($"id", $"features").as[(Long, Array[Float])].collect().toMap
    assert(feats(1L).length == 8)
    // deterministic: same content → same features
    assert(feats(1L).toSeq == Multimodal.StubCodec.features("abcdef".getBytes, 8).toSeq)
  }

  test("multimodal: REAL javax.imageio decode of PNG bytes") {
    import Multimodal.JdkCodec
    // a known 32×16 image must decode to exactly (32, 16)
    val png = JdkCodec.encodePng(32, 16, "seed".getBytes)
    assert(JdkCodec.imageDims(png).contains((32, 16)))
    // the Spark decode path reports the real header dimensions
    val media = Seq((1L, png), (2L, "not an image".getBytes))
      .toDF("id", "content")
    val dims = Multimodal.decodeImage(media, "content", "image/png")
      .select($"id", $"media_meta.width", $"media_meta.height")
      .as[(Long, Int, Int)].collect()
      .map { case (k, w, h) => k -> ((w, h)) }.toMap
    assert(dims(1L) == ((32, 16)))
    // non-image bytes take the deterministic stub fallback
    assert(dims(2L) == Multimodal.StubCodec.imageDims("not an image".getBytes))
    // channel means: an all-red raster averages to (1, *, 0-ish blue)
    val red = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 4).foreach(y => (0 until 4).foreach(x =>
        img.setRGB(x, y, 0xff0000)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    val means = JdkCodec.channelMeans(red).get
    assert(math.abs(means(0) - 1.0) < 1e-9 && means(1) == 0.0 && means(2) == 0.0)
    val viaDf = Multimodal.channelStats(
        Seq((1L, red)).toDF("id", "content"), "content")
      .select($"channel_means").as[Array[Double]].head()
    assert(viaDf.toSeq == means.toSeq)
    // q44's fixture join: decoded dims equal the encoded request
    val q44 = SparkEntry.queries("q44_multimodal")(spark, sf)
    val fx = q44.select($"source", $"png_w", $"png_h")
      .as[(String, Int, Int)].collect()
    assert(fx.nonEmpty && fx.forall { case (src, w, h) =>
      w == 1 + src.length % 31 && h == 1 + src.length % 15 })
  }

  test("compaction merges small files per day and preserves data") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString + "/t"
    // three append batches × 2 days → many small files
    (0 until 3).foreach { b =>
      val lines = (0 until 12).map { i =>
        val ns = 1704067200000000000L + (i % 2) * 86400L * 1000000000L +
          (b * 12 + i) * 1000000000L
        s"cpu,host=h$i value=$i.0 $ns"
      }.toDS()
      val tbl = LineProtocol.toMeasurementTable(LineProtocol.parse(lines),
        "cpu", tagKeys = Seq("host"), floatKeys = Seq("value"))
      graft.server.Store.appendDays(tbl, dir)
    }
    val sumBefore = spark.read.parquet(dir).agg(sum($"value"))
      .as[Double].collect().head
    val stats = Compaction.compactDays(spark, dir)
    assert(stats.rows == 36)
    assert(stats.filesAfter < stats.filesBefore)
    assert(stats.filesAfter <= 2) // one file set per day
    val after = spark.read.parquet(dir)
    assert(after.count() == 36)
    assert(after.agg(sum($"value")).as[Double].collect().head == sumBefore)
    assert(after.select("day").distinct().count() == 2)
  }

  test("result shaper emits per-tagset series JSON") {
    val df = Seq(("a", 1704067200000L, 1.5), ("a", 1704070800000L, 2.0),
      ("b", 1704067200000L, 9.0)).toDF("host", "t_ms", "mean")
    val json = ResultShaper.toSeriesJson(df, "cpu", Seq("host"),
      Seq("t_ms", "mean"))
    assert(json.contains(""""name":"cpu""""))
    assert(json.contains(""""tags":{"host":"a"}"""))
    assert(json.contains("[1704067200000,1.5]"))
    assert(json.startsWith("""{"results":[{"statement_id":0,"series":["""))
  }

  test("result shaper chunked form splits series and marks partials") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 1L, 9.0)).toDF("host", "t_ms", "mean")
    val chunks = ResultShaper.toSeriesJsonChunked(df, "cpu", Seq("host"),
      Seq("t_ms", "mean"), chunkSize = 2)
    assert(chunks.size == 3) // a → 2 chunks, b → 1
    // chunk 0: series a continues (series partial) AND chunks follow
    // (result partial); chunk 1 ends series a but series b follows
    // (result partial only); chunk 2 is final (no markers) — the
    // reference's response_writer emits both levels
    assert(chunks(0).endsWith("""]],"partial":true}],"partial":true}]}"""),
      chunks(0))
    assert(!chunks(1).contains("""]],"partial":true"""), chunks(1))
    assert(chunks(1).endsWith("""}],"partial":true}]}"""), chunks(1))
    assert(!chunks(2).contains(""""partial""""))
    assert(chunks.forall(_.startsWith("""{"results":[{"statement_id":0""")))
  }

  test("result shaper marks partial when the cap lands on a series boundary") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 9.0))
      .toDF("host", "t_ms", "mean")
    // maxRows=2 emits exactly series a and drops series b whole: the
    // truncation must still be visible (handler.go:979 marks partial on
    // ANY truncation), so the last emitted series carries the marker
    val atBoundary = ResultShaper.toResultObj(df, "cpu", Seq("host"),
      Seq("t_ms", "mean"), maxRows = 2)
    assert(atBoundary.contains(""""partial":true"""), atBoundary)
    assert(!atBoundary.contains(""""host":"b""""), atBoundary)
    // no truncation → no marker
    val whole = ResultShaper.toResultObj(df, "cpu", Seq("host"),
      Seq("t_ms", "mean"), maxRows = 3)
    assert(!whole.contains(""""partial""""), whole)
    // mid-series cut still marks the cut series itself
    val mid = ResultShaper.toResultObj(df, "cpu", Seq("host"),
      Seq("t_ms", "mean"), maxRows = 1)
    assert(mid.contains(""""partial":true"""), mid)
  }

  test("result shaper honors the epoch precision parameter") {
    val df = Seq(("a", new java.sql.Timestamp(1704067200000L), 1.5))
      .toDF("host", "time", "mean")
    def at(p: String) = ResultShaper.toSeriesJson(df, "cpu", Seq("host"),
      Seq("time", "mean"), epoch = p)
    assert(at("s").contains("[1704067200,1.5]"))
    assert(at("ms").contains("[1704067200000,1.5]"))
    assert(at("u").contains("[1704067200000000,1.5]"))
    assert(at("ns").contains("[1704067200000000000,1.5]"))
    assert(at("h").contains("[473352,1.5]"))
  }

  test("arrow ingest: timestamp vectors, nulls, unsupported schemas") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.TimeUnit
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import scala.jdk.CollectionConverters._
    def stream(build: (VectorSchemaRoot, ArrowStreamWriter) => Unit,
               fields: Seq[Field]): Array[Byte] = {
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(new Schema(fields.asJava), alloc)
      val out = new java.io.ByteArrayOutputStream()
      val w = new ArrowStreamWriter(root, null, out)
      w.start(); build(root, w); w.end()
      root.close(); alloc.close()
      out.toByteArray
    }
    // millisecond-timestamp time column + a null value row
    val body = stream({ (root, w) =>
      root.allocateNew()
      val tv = root.getVector("time").asInstanceOf[TimeStampMilliVector]
      val vv = root.getVector("v").asInstanceOf[Float8Vector]
      tv.setSafe(0, 1000L); vv.setSafe(0, 1.5)
      tv.setSafe(1, 2000L); vv.setNull(1)
      root.setRowCount(2)
      w.writeBatch()
    }, Seq(
      new Field("time", FieldType.nullable(
        new ArrowType.Timestamp(TimeUnit.MILLISECOND, null)), null),
      new Field("v", FieldType.nullable(new ArrowType.FloatingPoint(
        org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)),
        null)))
    val (df, tags) = ArrowIngest.decode(spark, body)
    assert(tags.isEmpty)
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getTimestamp(rows(0).fieldIndex("ts")).getTime == 1000L)
    assert(rows(0).getDouble(rows(0).fieldIndex("v")) == 1.5)
    assert(rows(1).isNullAt(rows(1).fieldIndex("v")))
    // a schema without `time` is rejected
    val noTime = stream({ (root, w) =>
      root.allocateNew()
      root.getVector("v").asInstanceOf[Float8Vector].setSafe(0, 1.0)
      root.setRowCount(1); w.writeBatch()
    }, Seq(new Field("v", FieldType.nullable(new ArrowType.FloatingPoint(
      org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)), null)))
    val e = intercept[RuntimeException](ArrowIngest.decode(spark, noTime))
    assert(e.getMessage.contains("'time' column"))
  }

  test("parquet footer time extent matches a full-scan min/max") {
    val ev = Tables.table(spark, sf, "events")
    val scan = ev.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).collect()(0)
    val ext = ParquetStats.timeExtentMs(spark, s"$sf/events.parquet")
    assert(ext.contains((scan.getLong(0), scan.getLong(1))))
    // absent column / missing path degrade to None, not an error
    assert(ParquetStats.timeExtentMs(spark, s"$sf/events.parquet",
      "no_such_col").isEmpty)
    assert(ParquetStats.timeExtentMs(spark, s"$sf/nope.parquet").isEmpty)
  }
}
