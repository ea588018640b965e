package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The package-private session surface the execution profiles need
  * (`graft.ExecProfile`): deriving a session from another with some
  * confs laid over, and binding an existing plan to another session of
  * the same SparkContext (`Dataset.apply`, the typed `Dataset.ofRows`);
  * and, for `graft.Dev`, waiting for the listener bus. */
object SessionShim {
  private def classicOf(s: SparkSession) = s.asInstanceOf[classic.SparkSession]

  /** A session of `parent`'s SparkContext and SharedState (cache
    * manager, hot tier, job groups) with a copy of its runtime conf,
    * functions and experimental optimizer hooks — not its temp views —
    * with `confs` laid over the copied conf and `strategies` planned
    * after the copied ones; nothing changes `parent`,
    * and the session holds no reference to it that keeps it alive. Its
    * queries are reported to the QueryExecutionListeners of `parent`,
    * including listeners registered after it was made. */
  def derive(parent: SparkSession, confs: Map[String, String],
             strategies: Seq[execution.SparkStrategy] = Nil): SparkSession = {
    val p = classicOf(parent)
    val c = p.newSession()
    (p.sessionState.conf.getAllConfs ++ confs).foreach { case (k, v) =>
      c.sessionState.conf.setConfString(k, v) }
    val (from, to) =
      (p.sessionState.functionRegistry, c.sessionState.functionRegistry)
    from.listFunction().foreach(f => to.registerFunction(f,
      from.lookupFunction(f).get, from.lookupFunctionBuilder(f).get))
    c.experimental.extraOptimizations = p.experimental.extraOptimizations
    c.experimental.extraStrategies = p.experimental.extraStrategies ++ strategies
    val weak = new java.lang.ref.WeakReference(p)
    def toParent(f: QueryExecutionListener => Unit): Unit =
      Option(weak.get).foreach(_.listenerManager.listListeners().foreach(f))
    c.listenerManager.clear()
    c.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        toParent(_.onSuccess(fn, qe, ns))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        toParent(_.onFailure(fn, qe, e))
    })
    c
  }

  /** `ds`'s plan bound to `s`: the same (already analyzed) plan, planned
    * and executed under `s`'s conf. */
  def rebind[T](ds: Dataset[T], s: SparkSession): Dataset[T] =
    if (ds.sparkSession eq s) ds
    else {
      val c = ds.asInstanceOf[classic.Dataset[T]]
      classic.Dataset[T](classicOf(s), c.logicalPlan)(c.encoder)
    }

  /** Run `body` with `s` as the thread's active session, so frames and
    * functions that code resolves through `SparkSession.active` land on
    * `s`. */
  def withActive[T](s: SparkSession)(body: => T): T =
    classicOf(s).withActive(body)

  /** Block until every SparkListener has seen the events posted so far
    * (the status tracker is one of them). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
