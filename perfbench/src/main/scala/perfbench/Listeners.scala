package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark job counters of one operation (or of all untagged work). */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var jobNs = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L

  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; jobNs += o.jobNs
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; taskFailures += o.taskFailures
  }
}

/** Listens to the Spark scheduler and sums job, stage and task metrics
  * per operation. The operation is the `perfbench.op` local property
  * set on the thread that submitted the job; untagged jobs (the
  * streaming query's own thread) sum under 0. */
final class ExecListener extends SparkListener {
  val OpKey = "perfbench.op"
  private val byOp = mutable.Map.empty[Long, ExecCounters]
  private val jobOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Long]
  @volatile private var lastEventNs = System.nanoTime()

  private def counters(op: Long) = byOp.getOrElseUpdate(op, new ExecCounters)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toLong).getOrElse(0L)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    counters(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    val op = jobOp.remove(e.jobId).getOrElse(0L)
    jobStart.remove(e.jobId).foreach(t0 => counters(op).jobNs += (e.time - t0) * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val info = e.stageInfo
    val c = counters(stageOp.remove(info.stageId).getOrElse(0L))
    c.stages += 1
    c.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    if (e.reason != Success) {
      val op = stageOp.getOrElse(e.stageId, 0L)
      counters(op).taskFailures += 1
    }
  }

  def forOps(ops: Iterable[Long]): ExecCounters = synchronized {
    val sum = new ExecCounters
    ops.foreach(op => byOp.get(op).foreach(sum += _))
    sum
  }

  def quietForNs: Long = System.nanoTime() - lastEventNs
}

/** Collects the Catalyst phase intervals (analysis, optimization,
  * planning) of every query execution that finishes, and of those
  * handed to [[record]], in epoch ms. */
final class CatalystListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])
  @volatile private var lastEventNs = System.nanoTime()

  /** Adds the phases of `qe`, once per query execution. */
  def record(qe: QueryExecution): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (seen.add(qe)) qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def all: Seq[(String, Long, Long)] = synchronized(phases.toList)
  def quietForNs: Long = System.nanoTime() - lastEventNs
}

/** Process-wide code generation counters; deltas around an interval give
  * the compile work done in it. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** (compiles, compile nanoseconds) so far. */
  def snapshot(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** The listeners of a traced phase, registered together. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  val catalyst = new CatalystListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(catalyst)

  /** Waits until neither listener has seen an event for a while, so the
    * asynchronous listener bus has delivered the phase's events. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (exec.quietForNs < 500000000L || catalyst.quietForNs < 500000000L))
      Thread.sleep(50)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
  }

  /** Bytes held by cached RDDs and DataFrames, memory plus disk. */
  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
}
