package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the enclosing span's id (0 = root);
  * `req` ties the spans of one request together. Times are ns on the
  * JVM's monotonic clock. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, req: Long) {
  /** Time not covered by the children, given as (start, end) in ns. */
  def selfNs(children: Seq[(Long, Long)]): Long =
    (endNs - startNs) - Spans.coveredNs(startNs, endNs, children)
}

/** In-memory span recorder. Recording is a lock-free append; the spans
  * are written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def record(name: String, startNs: Long, endNs: Long,
             parent: Long = 0, req: Long = 0): Span = {
    val s = Span(ids.incrementAndGet(), name, startNs, endNs, parent, req)
    buf.add(s)
    s
  }

  def all: Seq[Span] = buf.asScala.toSeq

  def writeTo(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":${s.req}}""")
    } finally w.close()
  }
}

object Spans {
  /** How much of [lo, hi] the intervals (start, end) cover, overlaps
    * counted once. */
  def coveredNs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** What one Spark job cost, summed over its tasks. `group` and `desc`
  * are the job group and description the gateway set for the request
  * ("" when none was set); the description is the statement. */
final class JobRec(val id: Int, val group: String, val desc: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side ledger: a SparkListener that keeps one [[JobRec]] per job
  * and attributes every finished task to its job, plus a
  * QueryExecutionListener that keeps each action's Catalyst phase times
  * (analysis, optimization, planning) from its QueryPlanningTracker.
  * Job times are the events' own times, moved onto the monotonic clock
  * of [[Spans]]. */
final class Ledger extends SparkListener with QueryExecutionListener {
  // listener events carry epoch-ms times; spans use System.nanoTime
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nanos(epochMs: Long): Long = epochMs * 1000000L - offsetNs
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"), nanos(e.time))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = nanos(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        val info = e.taskInfo
        j.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val p = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    synchronized { phases += p }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def jobsSnapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def phasesSnapshot: Seq[Map[String, Long]] = synchronized(phases.toSeq)
  def ended(group: String): Boolean =
    synchronized(jobs.values.exists(j => j.group == group && j.endNs != 0L))
}

object Ledger {
  private val drains = new AtomicLong(0)

  /** Wait until the listener has seen every event posted so far: run a
    * marker job and wait for its end event, which the listener bus
    * delivers after everything posted before it. */
  def drain(spark: org.apache.spark.sql.SparkSession, ledger: Ledger): Unit = {
    val g = s"perfbench-drain-${drains.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!ledger.ended(g) && System.nanoTime() < deadline) Thread.sleep(2)
  }
}
