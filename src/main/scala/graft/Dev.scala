package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SessionShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Developer tool over the `SparkEntry` queries, on `GraftSession.local()`:
  *
  *  - `Dev plan <q1,…|all> [outDir tag] [sfDir]` writes each query's
  *    formatted plan to `outDir/<query>_<tag>.txt`, or prints it when no
  *    `outDir` is given.
  *  - `Dev trace <q1,…> [sfDir]` runs each query once to warm up, then
  *    once timed under its own job group, materialized into the noop sink
  *    as `Bench` does. It prints the build/plan/exec split of the timed
  *    run and each job of its group (the jobs `Bench` counts), with every
  *    completed stage's tasks, wall time, executor run and CPU time, and
  *    shuffle read and write bytes.
  *
  * `sfDir` defaults to the sf0.1 directory `Bench` reads. A query whose
  * construction runs jobs is filed under `SparkEntry`'s plan-build probe
  * group until its second build, so its timed run here does not count
  * those jobs.
  */
object Dev {
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         runMs: Long, cpuMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)
  /** `skipped`: stages of the job that reused earlier shuffle output. */
  final case class Job(id: Int, stages: Seq[Stage], skipped: Int)
  final case class Trace(query: String, group: String, buildS: Double,
                         planS: Double, execS: Double, jobs: Seq[Job])

  def main(args: Array[String]): Unit = {
    def sf(rest: List[String]) = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val run: SparkSession => Unit = args.toList match {
      case "plan" :: qs :: out :: tag :: rest if rest.length <= 1 =>
        s => plan(s, qs, sf(rest), Some((out, tag)))
      case "plan" :: qs :: rest if rest.length <= 1 =>
        s => plan(s, qs, sf(rest), None)
      case "trace" :: qs :: rest if rest.length <= 1 =>
        s => trace(s, qs, sf(rest))
      case _ =>
        System.err.println("usage: Dev plan <q1,...|all> [outDir tag] [sfDir]" +
          " | Dev trace <q1,...> [sfDir]")
        sys.exit(2)
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  /** Each listed query's formatted plan (`all`: every query), written to
    * `<outDir>/<query>_<tag>.txt` for `out = Some((outDir, tag))`, else
    * printed. A query whose plan fails to build is logged as FAILED and
    * returned. */
  def plan(spark: SparkSession, queries: String, sfDir: String,
           out: Option[(String, String)]): Seq[String] = {
    val names =
      if (queries == "all") SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.queryList(queries, "Dev plan")
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.flatMap { name =>
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, tag)) =>
            Files.writeString(Paths.get(dir, s"${name}_$tag.txt"), txt)
            System.err.println(s"[dev] plan $name -> ${name}_$tag.txt")
          case None => println(s"== $name\n$txt")
        }
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[dev] plan $name FAILED: $e")
        Some(name)
      }
    }
  }

  private val groupSeq = new AtomicLong(0)

  def trace(spark: SparkSession, queries: String, sfDir: String): Seq[Trace] = {
    val names = SparkEntry.queryList(queries, "Dev trace")
    val sc = spark.sparkContext
    val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStages.put(e.jobId, e.stageIds)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.put(si.stageId, Stage(si.stageId, si.name, si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    }
    // noop sink, NOT count(): count() prunes cardinality-neutral subtrees
    // and changes the job structure (see Bench)
    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    sc.addSparkListener(listener)
    try names.map { name =>
      materialize(SparkEntry.queries(name)(spark, sfDir))
      // unique per run: the status tracker keeps a group's jobs
      val group = s"dev-trace-$name-${groupSeq.incrementAndGet()}"
      sc.setJobGroup(group, name)
      val t0 = System.nanoTime()
      val (t1, t2) =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          materialize(df)
          (t1, t2)
        } finally sc.clearJobGroup()
      val t3 = System.nanoTime()
      SessionShim.drainListeners(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
        .map { id =>
          val ids = jobStages.getOrDefault(id, Nil).sorted
          val done = ids.flatMap(s => Option(stages.get(s)))
          Job(id, done, ids.length - done.length)
        }
      val t = Trace(name, group, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, jobs)
      println(f"[dev] ${t.query}: build=${t.buildS}%.3f plan=${t.planS}%.3f " +
        f"exec=${t.execS}%.3f s, ${t.jobs.length} jobs")
      t.jobs.foreach { j =>
        println(s"  job ${j.id}: ${j.stages.length} stages, ${j.skipped} skipped")
        j.stages.foreach { s =>
          println(s"    stage ${s.id}: tasks=${s.tasks} wall=${s.wallMs}ms " +
            s"run=${s.runMs}ms cpu=${s.cpuMs}ms " +
            s"shuffleRead=${s.shuffleReadBytes}B " +
            s"shuffleWrite=${s.shuffleWriteBytes}B ${s.name.take(60)}")
        }
      }
      t
    } finally sc.removeSparkListener(listener)
  }
}
