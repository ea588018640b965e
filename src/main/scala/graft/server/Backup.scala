package graft.server

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import graft.sources.AtomicFiles
import graft.sources.ResultShaper.jsonStr

/** Filesystem backup service — the reference's `lib/backup/backup.go`
  * driven by the `/backup/{run,status,abort}` routes
  * (`httpd/handler.go:466-474`, syscontrol Backup/AbortBackup/
  * BackupStatus). The gateway's persist dir (the measurement dirs and
  * their sidecars, whose layout [[Store]] owns, the `_ddl.txt`/
  * `_dml.txt` journals and `_databases.txt`/`_users.tsv` meta files)
  * copies file by file into `backupPath/data_backup`, with a
  * `full_backup_log.json` manifest (relative path → mtime:size) the
  * reference also writes; `isInc=true` copies only files new or
  * changed against the accumulated manifests into the same tree and
  * appends `inc_backup_log.json` — its FullBackupLog/IncBackupLog
  * split. Restore is the inverse FolderCopy (`app/ts-recover`):
  * [[restore]] copies `data_backup` back onto a persistDir, and a
  * gateway booted over it replays journals exactly like any restart.
  */
object Backup {
  val DataBackupDir = "data_backup"
  val FullBackupLog = "full_backup_log.json"
  val IncBackupLog = "inc_backup_log.json"

  /** One backup run's observable state (status/abort routes). */
  final class Job(val backupPath: String, val isInc: Boolean) {
    @volatile var status: String = "running" // running|done|failed|aborted
    @volatile var error: Option[String] = None
    val files = new AtomicLong(0)
    val bytes = new AtomicLong(0)
    val abort = new AtomicBoolean(false)
    def renderJson: String = {
      val err = error.map(e => s""","error":${jsonStr(e)}""").getOrElse("")
      s"""{"status":"$status","isInc":$isInc,"files":${files.get},""" +
        s""""bytes":${bytes.get}$err}"""
    }
  }

  private def walkFiles(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val b = Seq.newBuilder[Path]
        val it = s.filter(Files.isRegularFile(_)).iterator()
        while (it.hasNext) b += it.next()
        b.result()
      } finally s.close()
    }

  private def manifestOf(root: Path): Map[String, String] =
    walkFiles(root).map { f =>
      val rel = root.relativize(f).toString
      val a = Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes])
      rel -> s"${a.lastModifiedTime.toMillis}:${a.size}"
    }.toMap

  private def renderManifest(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) =>
      s""""${k.replace("\\", "/")}":"$v"""" }
      .mkString("{\"files\":{", ",", "}}")

  private def readManifest(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")) \
        "files" match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    }

  /** Copy `srcPersistDir` into `backupPath/data_backup`. Synchronous —
    * callers wanting the service shape run it on a thread and poll the
    * Job. Abort is honored between files (a torn final file cannot
    * happen: copy goes to `.tmp` then atomic-moves). */
  def run(srcPersistDir: String, job: Job): Unit =
    try {
      val src = Paths.get(srcPersistDir)
      val dst = Paths.get(job.backupPath, DataBackupDir)
      Files.createDirectories(dst)
      val prior: Map[String, String] =
        if (job.isInc)
          readManifest(dst.resolve(FullBackupLog)) ++
            readManifest(dst.resolve(IncBackupLog))
        else Map.empty
      val cur = manifestOf(src)
      val copied = Map.newBuilder[String, String]
      cur.toSeq.sortBy(_._1).foreach { case (rel, stamp) =>
        if (job.abort.get) {
          job.status = "aborted"
          return
        }
        if (!prior.get(rel).contains(stamp)) {
          val from = src.resolve(rel)
          val to = dst.resolve(rel)
          Files.createDirectories(to.getParent)
          AtomicFiles.commit(to)(
            Files.copy(from, _, StandardCopyOption.REPLACE_EXISTING))
          job.files.incrementAndGet()
          job.bytes.addAndGet(Files.size(to))
          copied += rel -> stamp
        }
      }
      val log = if (job.isInc) IncBackupLog else FullBackupLog
      val manifest = if (job.isInc) prior ++ copied.result() else cur
      Files.write(dst.resolve(log),
        renderManifest(manifest).getBytes("UTF-8"))
      job.status = "done"
    } catch {
      case e: Exception =>
        job.status = "failed"
        job.error = Some(String.valueOf(e.getMessage))
    }

  /** Inverse copy: `backupPath/data_backup` → a persistDir (the
    * ts-recover role). Existing files are overwritten; extra files in
    * `dst` are left (point a FRESH dir at it for a clean restore). */
  def restore(backupPath: String, dstPersistDir: String): Long = {
    val src = Paths.get(backupPath, DataBackupDir)
    val dst = Paths.get(dstPersistDir)
    var n = 0L
    walkFiles(src).foreach { f =>
      val rel = src.relativize(f).toString
      if (rel != FullBackupLog && rel != IncBackupLog) {
        val to = dst.resolve(rel)
        Files.createDirectories(to.getParent)
        Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
        n += 1
      }
    }
    n
  }
}
