package graft.server

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, date_format, lit}
import graft.sources.{AtomicFiles, ParquetStats}

/** The gateway's persisted measurements — the one owner of their
  * on-disk layout under `root`, like the reference's storage engine
  * owns its shard dirs (Structured Streaming keeps durable state behind
  * one sink the same way, SIGMOD 2018):
  *
  * {{{
  *   <root>/<dir(db, m)>/day=YYYY-MM-DD/part-….parquet  hot tier
  *   <root>/<dir(db, m)>/_tags.txt                  tag keys, one a line
  *   <root>/<dir(db, m)>/_pts        batches point-merged, `__wseq`-stamped
  *   <root>/<dir(db, m)>/_prom       also a PromQL metric (remote write)
  *   <root>/<dir(db, m)>/_promstore  a prom metric store
  *   <root>/_cold/<dir(db, m)>/day=…                cold tier
  *   <root>/_logstreams.txt   the log-store measurements, `dir(db, m)` a line
  * }}}
  *
  * A measurement is addressed by its database and bare name. Its
  * persisted name `dir(db, m)` is `urlenc(m)` in the default database
  * and `urlenc(db + NUL + m)` elsewhere; only this file builds or splits
  * that name. Day partitions are the reference's shard groups:
  * Catalyst prunes them and [[graft.sources.Compaction]] merges their
  * small files. Names starting with `_` are invisible to Spark's file
  * listing, so the sidecars and the `_cold` root never read as data;
  * the gateway's other meta files (`_databases.txt`, `_ddl.txt`, …) sit
  * beside the measurement dirs. */
final class Store(spark: SparkSession, root: String) {
  import Store._

  private val base = Files.createDirectories(Paths.get(root))
  private def hot(db: String, name: String): Path =
    base.resolve(URLEncoder.encode(persistedName(db, name), "UTF-8"))
  private def cold(db: String, name: String): Path =
    base.resolve(ColdDir).resolve(hot(db, name).getFileName)

  /** (database, name) of every persisted measurement (one hot dir each). */
  def measurements: Seq[(String, String)] =
    list(base).filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => splitName(URLDecoder.decode(p.getFileName.toString, "UTF-8")))

  /** (database, name) of every log-store measurement. */
  def logStreams: Seq[(String, String)] =
    metaLines(LogStreamsFile).map(l => splitName(URLDecoder.decode(l, "UTF-8")))

  /** Replace the log-store list with `all`, crash-safely. */
  def commitLogStreams(all: Iterable[(String, String)]): Unit =
    commitMeta(LogStreamsFile, all.map { case (db, n) => persistedName(db, n) }
      .toSeq.sorted.map(URLEncoder.encode(_, "UTF-8") + "\n").mkString)

  /** Meta file `name` (`_ddl.txt`, `_users.tsv`, …) beside the
    * measurement dirs, when present. */
  def metaText(name: String): Option[String] = textOf(base.resolve(name))
  def metaLines(name: String): Seq[String] = linesIn(metaText(name))

  /** Replace meta file `name` with `text`, crash-safely. */
  def commitMeta(name: String, text: String): Unit =
    AtomicFiles.commit(base.resolve(name), text)

  /** Append `line` to meta file `name` (a journal). */
  def appendMeta(name: String, line: String): Unit =
    Files.write(base.resolve(name), (line + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  // per-batch write-order stamp for restart read-time dedup: monotone
  // across batches AND restarts (floored at wall-clock millis)
  private val wseqGen =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** Append one batch (time column `ts`) to the measurement's hot tier,
    * day-partitioned, and record its tag keys and `kind` marker. A
    * [[Points]] batch carries the `__wseq` stamp [[restore]] dedups by. */
  def append(db: String, name: String, df: DataFrame, tagKeys: Seq[String],
             kind: Kind = Plain): Unit = {
    val dir = hot(db, name)
    val stamped =
      if (kind == Points)
        df.withColumn(Wseq, lit(wseqGen.updateAndGet(v =>
          Math.max(v + 1, System.currentTimeMillis()))))
      else df
    appendDays(stamped, dir.toString)
    kind.marker.map(dir.resolve).filterNot(Files.exists(_))
      .foreach(Files.write(_, Array.emptyByteArray))
    val meta = dir.resolve(TagsFile)
    val known = tagsIn(dir)
    val all = (known ++ tagKeys).distinct.sorted
    if (!Files.exists(meta) || all != known)
      AtomicFiles.commit(meta, all.mkString("\n"))
  }

  /** The one reader of a measurement's dirs: hot ∪ `_cold`, schemas
    * merged (later batches may add tag/field columns), `day` and
    * `__wseq` kept. A tier with no parquet is skipped — a hierarchical
    * sweep can move every day cold, leaving only the sidecars hot.
    * None when neither tier holds data. */
  def read(db: String, name: String): Option[Stored] = {
    val dir = hot(db, name)
    Seq(dir, cold(db, name)).filter(hasParquet)
      .map(p => spark.read.option("mergeSchema", "true").parquet(p.toString))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(df => Stored(df, tagsIn(dir),
        Kinds.filter(_.marker.exists(m => Files.exists(dir.resolve(m)))).toSet))
  }

  /** [[read]] as a restart registers it: `day` dropped; batches of a
    * [[Points]] dir deduplicated by their `__wseq` stamp unless it is a
    * log store (same-ns log rows are distinct records), else the stamp
    * dropped; the time extent from the parquet footers when the
    * data is one tier. */
  def restore(db: String, name: String, isLog: Boolean): Option[Stored] =
    read(db, name).map { s =>
      val raw = s.df.drop("day")
      val df =
        if (s.kinds(Points) && !isLog) dedupPersisted(raw, s.tags)
        else raw.drop(Wseq)
      // footer extent (driver metadata read): seeds the write path's
      // append-vs-merge decision and the fill-spine bounds
      val ext = try ParquetStats.timeExtentMsOf(raw, "ts")
                catch { case _: Exception => None }
      s.copy(df = df, extentMs = ext)
    }

  /** Delete the measurement's hot and cold dirs; whether it had a hot. */
  def delete(db: String, name: String): Boolean = {
    val had = Files.exists(hot(db, name))
    AtomicFiles.deleteTree(hot(db, name))
    AtomicFiles.deleteTree(cold(db, name))
    had
  }

  /** Replace the measurement's data with `df` (a [[read]] frame, `day`
    * kept) in one directory swap; the sidecars carry over and the cold tier is
    * dropped, its rows now being in `df`. Reads lazily from the old
    * files while writing the new. */
  def rewrite(db: String, name: String, df: DataFrame): Unit = {
    AtomicFiles.swapDir(hot(db, name).toString, "fold") { tmp =>
      df.write.mode("overwrite").partitionBy("day").parquet(tmp)
    }
    AtomicFiles.deleteTree(cold(db, name))
  }

  /** Move the measurement's day partitions strictly before `cutoffDay`
    * (`YYYY-MM-DD`) from the hot to the cold tier. Returns how many. */
  def moveCold(db: String, name: String, cutoffDay: String): Int = {
    val dir = hot(db, name)
    val days =
      if (!Files.isDirectory(dir)) Nil
      else list(dir).filter { e =>
        val n = e.getFileName.toString
        Files.isDirectory(e) && n.startsWith("day=") &&
          n.substring(4) < cutoffDay
      }
    if (days.nonEmpty) {
      val coldBase = Files.createDirectories(cold(db, name))
      days.foreach { dp =>
        val target = coldBase.resolve(dp.getFileName)
        if (Files.exists(target)) {
          // same-day remainder from an earlier sweep: merge file-level
          // (names are globally-unique part files)
          list(dp).foreach(f => Files.move(f, target.resolve(f.getFileName)))
          Files.delete(dp)
        } else Files.move(dp, target)
      }
    }
    days.size
  }
}

object Store {
  /** What a batch is, beyond its rows — each kind but [[Plain]] leaves a
    * marker file a restart registers it by. */
  sealed abstract class Kind(val marker: Option[String])
  case object Plain extends Kind(None)
  case object Points extends Kind(Some("_pts"))
  case object Prom extends Kind(Some("_prom"))
  case object PromStore extends Kind(Some("_promstore"))
  private val Kinds: Seq[Kind] = Seq(Points, Prom, PromStore)

  /** A measurement's persisted frame, its `_tags.txt` tag keys, the
    * kinds whose markers its dir carries, and ([[Store.restore]] only)
    * its time extent in ms. */
  final case class Stored(df: DataFrame, tags: Seq[String], kinds: Set[Kind],
                          extentMs: Option[(Long, Long)] = None)

  /** Whether a database named `db` can persist: its measurements' dir
    * names must not start with `_` (hidden from listing) and its name
    * must split back off them. */
  def persistableDb(db: String): Boolean =
    db.nonEmpty && !db.startsWith("_") && !db.contains(Sep)

  private val Sep = '\u0000'
  private def persistedName(db: String, name: String): String =
    if (db == HttpGateway.DefaultDb) name else s"$db$Sep$name"
  private def splitName(p: String): (String, String) = p.indexOf(Sep) match {
    case -1 => (HttpGateway.DefaultDb, p)
    case i => (p.substring(0, i), p.substring(i + 1))
  }

  private val ColdDir = "_cold"
  private val LogStreamsFile = "_logstreams.txt"
  private val TagsFile = "_tags.txt"
  private val Wseq = "__wseq"

  /** Append `df` (time column `ts`) under `path`, partitioned by its
    * `day=YYYY-MM-DD` in the session time zone. */
  def appendDays(df: DataFrame, path: String): Unit =
    df.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("day").parquet(path)

  /** Read-time point dedup for restored frames: batches persist
    * ALREADY intra-batch-merged with a per-batch `__wseq` write-order
    * stamp, so across batches the newest stamped row wins per field —
    * the same LWW a live gateway applied at write time (the reference
    * dedups on read the same way, `tsreader/iterator.go` newest-wins).
    * Legacy rows without the stamp sort oldest. */
  private def dedupPersisted(df: DataFrame,
                             tagKeys: Seq[String]): DataFrame = {
    val seqd =
      if (df.columns.contains(Wseq))
        df.withColumn("__ds_seq", coalesce(col(Wseq), lit(0L))).drop(Wseq)
      else df.withColumn("__ds_seq", lit(0L))
    HttpGateway.dedupPoints(seqd, tagKeys.filter(df.columns.contains),
      fieldUnion = false)
  }

  private def tagsIn(dir: Path): Seq[String] =
    linesIn(textOf(dir.resolve(TagsFile)))

  private def textOf(f: Path): Option[String] =
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), UTF_8))
    else None

  private def linesIn(text: Option[String]): Seq[String] =
    text.toSeq.flatMap(_.split("\n").filter(_.nonEmpty))

  /** Whether Spark would find data files under `dir`. */
  private def hasParquet(dir: Path): Boolean =
    Files.isDirectory(dir) && {
      val s = Files.walk(dir)
      try s.anyMatch { f =>
        f.getFileName.toString.endsWith(".parquet") &&
          dir.relativize(f).iterator().asScala.forall { c =>
            val n = c.toString
            !n.startsWith("_") && !n.startsWith(".")
          }
      } finally s.close()
    }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val b = Seq.newBuilder[Path]
      s.forEach(p => b += p)
      b.result()
    } finally s.close()
  }
}
