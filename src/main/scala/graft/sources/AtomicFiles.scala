package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Crash-safe replacement of files and directories on local disk: the
  * new content is written beside the target and renamed over it, so a
  * reader or a restart sees the old content or the new, never a torn
  * write. */
object AtomicFiles {

  /** Replace `f` with what `write` puts at the temp sibling path it is
    * given (`<f>.tmp`). */
  def commit(f: Path)(write: Path => Unit): Unit = {
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    write(tmp)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def commit(f: Path, text: String): Unit =
    commit(f)(Files.writeString(_, text))

  /** Replace directory `dir` with what `write` puts at the temp directory
    * path it is given (`<dir>.<tag>_tmp`). Regular files whose names start
    * with `_` (sidecar metadata such as the gateway Store's tag list) carry
    * over from the old directory, over any that `write` produced. The old
    * directory is renamed aside to `<dir>.<tag>_old` before the new one
    * is renamed in, so between the two renames `dir` is absent. */
  def swapDir(dir: String, tag: String)(write: String => Unit): Unit = {
    val base = dir.stripSuffix("/")
    val p = Paths.get(base)
    val t = Paths.get(s"$base.${tag}_tmp")
    write(t.toString)
    if (Files.exists(p)) {
      val side = Files.list(p)
      try side.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("_"))
        .forEach(f => Files.copy(f, t.resolve(f.getFileName),
          StandardCopyOption.REPLACE_EXISTING))
      finally side.close()
      val old = Paths.get(s"$base.${tag}_old")
      Files.move(p, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(t, p, StandardCopyOption.ATOMIC_MOVE)
      deleteTree(old)
    } else Files.move(t, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
