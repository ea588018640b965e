package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.AtomicFiles

class AtomicFilesSpec extends AnyFunSuite {
  private def names(dir: Path): Set[String] = dir.toFile.list().toSet

  test("commit overwrites an existing file and leaves no temp sibling") {
    val dir = Files.createTempDirectory("graft_commit")
    val f = dir.resolve("_fences.txt")
    Files.writeString(f, "old content that is longer")
    AtomicFiles.commit(f, "new")
    assert(Files.readString(f) == "new")
    assert(names(dir) == Set("_fences.txt"))
  }

  test("swapDir creates an absent dir and replaces a present one") {
    val root = Files.createTempDirectory("graft_swap")
    val dir = root.resolve("m")
    def write(files: String*)(tmp: String): Unit = {
      Files.createDirectories(Path.of(tmp))
      files.foreach(n => Files.writeString(Path.of(tmp, n), n))
    }
    AtomicFiles.swapDir(dir.toString, "t")(write("a.parquet", "_tags.txt"))
    assert(names(dir) == Set("a.parquet", "_tags.txt"))
    assert(names(root) == Set("m"))

    Files.writeString(dir.resolve("_tags.txt"), "kept")
    AtomicFiles.swapDir(dir.toString, "t")(write("b.parquet"))
    assert(names(dir) == Set("b.parquet", "_tags.txt"))
    assert(Files.readString(dir.resolve("_tags.txt")) == "kept")
    assert(names(root) == Set("m"))
  }

  test("deleteTree removes a tree and ignores a missing path") {
    val root = Files.createTempDirectory("graft_del")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/c"), "x")
    AtomicFiles.deleteTree(root.resolve("a"))
    AtomicFiles.deleteTree(root.resolve("a"))
    assert(names(root).isEmpty)
  }
}
