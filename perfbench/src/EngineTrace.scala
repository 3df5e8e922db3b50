package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters read from outside the program: a `SparkListener` and a
  * `QueryExecutionListener` on the benchmark's own session, attached for
  * the traced passes of a traced run only ([[EngineTrace.during]]). */
final class EngineTrace extends SparkListener {
  private val actions, jobs, stages, tasks, runMs, gcMs, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private object queries extends QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.incrementAndGet()
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.incrementAndGet()
  }

  /** Counter values once every event posted so far has been delivered. */
  def counts(s: SparkSession): EngineTrace.Counts = {
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)
    EngineTrace.Counts(actions.get, jobs.get, stages.get, tasks.get, runMs.get, gcMs.get,
      shuffleWrite.get, spill.get)
  }
}

object EngineTrace {
  final case class Counts(actions: Long, jobs: Long, stages: Long, tasks: Long, runMs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long) {
    def -(o: Counts): Counts = Counts(actions - o.actions, jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      spill - o.spill)
  }

  /** Runs `f` with a fresh trace attached to the session and detaches it
    * afterwards, so passes outside `f` run with no listener at all. */
  def during[T](s: SparkSession)(f: EngineTrace => T): T = {
    val t = new EngineTrace
    s.sparkContext.addSparkListener(t)
    s.listenerManager.register(t.queries)
    try f(t)
    finally {
      s.listenerManager.unregister(t.queries)
      s.sparkContext.removeSparkListener(t)
    }
  }
}
