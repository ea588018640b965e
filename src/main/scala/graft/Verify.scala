package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for local iteration on a subset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(SparkEntry.queryList(_, "SPARK_GRAFT_VERIFY_ONLY").toSet)
    // Failures must be loud in the artifact, not only on stderr: a
    // per-query exception leaves no parquet dir, which shrinks the
    // driver's report silently. _errors.json makes a poisoned run
    // visibly poisoned (query → exception head).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // free this query's localCheckpoint blocks before the next one
        // runs — the 132-query sweep otherwise accumulates every
        // checkpoint-heavy query's dead blocks in one block manager
        SparkEntry.releaseCheckpoints(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(300)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()

    // Independent cross-check of the queries DuckDB cannot oracle
    // (tools/oracle.py: pure-python XXH64 replications, numpy
    // Holt-Winters, sketch error bounds, ANN recall vs brute force).
    // Best-effort — a missing python must not fail the dump; the
    // verdicts land in outDir/_crosscheck.json beside the parquet.
    if (only.isEmpty && Files.exists(Paths.get("tools/oracle.py")))
      try {
        val p = new ProcessBuilder("python3", "tools/oracle.py",
            sfDir, outDir)
          .redirectErrorStream(true).start()
        val log = new String(p.getInputStream.readAllBytes())
        p.waitFor()
        print(log)
      } catch { case e: Exception =>
        System.err.println(s"[verify] crosscheck skipped: $e")
      }
  }
}
