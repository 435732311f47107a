package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters the JVM keeps anyway: CPU, GC and JIT time. */
object Jvm {
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMillis(): Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
}

/** Per-layer counters read from outside the program: a SparkListener
  * (jobs, tasks, shuffle, spill, input, job-busy time), a
  * QueryExecutionListener (Catalyst phase times), a
  * StreamingQueryListener (trigger progress), Spark's CodegenMetrics and
  * the JVM's GC/JIT beans. Only installed for a traced run. */
final class Tracer(spark: SparkSession) {
  private val jobs, tasks, taskMs, shuffleBytes, spillBytes, inputBytes = new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val triggers, addBatchMs, queryPlanningMs, walCommitMs, inputRows = new AtomicLong
  // (trigger start epoch ms, trigger duration ms) since the last drain
  private val triggerMs = mutable.ArrayBuffer.empty[(Long, Long)]
  // rows held in state after each streaming query's latest trigger
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  private val busyMs = new DoubleAdder
  private var activeJobs = 0
  private var busySince = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs.incrementAndGet()
      if (activeJobs == 0) busySince = e.time
      activeJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      activeJobs = math.max(0, activeJobs - 1)
      if (activeJobs == 0) busyMs.add((e.time - busySince).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach { case (name, p) =>
      name match {
        case "analysis" => analysisMs.addAndGet(p.durationMs)
        case "optimization" => optimizationMs.addAndGet(p.durationMs)
        case "planning" => planningMs.addAndGet(p.durationMs)
        case _ =>
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      triggers.incrementAndGet()
      addBatchMs.addAndGet(ms("addBatch"))
      queryPlanningMs.addAndGet(ms("queryPlanning"))
      walCommitMs.addAndGet(ms("walCommit"))
      inputRows.addAndGet(p.numInputRows)
      Tracer.this.synchronized {
        stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        triggerMs += (java.time.Instant.parse(p.timestamp).toEpochMilli -> ms("triggerExecution"))
      }
    }
  })

  /** Cumulative counters, after every event posted so far is delivered. */
  def snapshot(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.analysis_s" -> analysisMs.get / 1e3,
      "catalyst.optimization_s" -> optimizationMs.get / 1e3,
      "catalyst.planning_s" -> planningMs.get / 1e3,
      "exec.jobs" -> jobs.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble,
      "exec.task_s" -> taskMs.get / 1e3,
      "exec.shuffle_write_mb" -> shuffleBytes.get / mb,
      "exec.spill_mb" -> spillBytes.get / mb,
      "exec.input_mb" -> inputBytes.get / mb,
      "exec.busy_s" -> busyMs.sum / 1e3,
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.gc_s" -> Jvm.gcMillis() / 1e3,
      "jvm.jit_s" -> Jvm.jitMillis() / 1e3,
      "streaming.triggers" -> triggers.get.toDouble,
      "streaming.add_batch_ms" -> addBatchMs.get.toDouble,
      "streaming.query_planning_ms" -> queryPlanningMs.get.toDouble,
      "streaming.wal_commit_ms" -> walCommitMs.get.toDouble,
      "streaming.state_rows" -> synchronized(stateRows.values.sum).toDouble,
      "streaming.input_rows" -> inputRows.get.toDouble)
  }

  /** (start epoch ms, duration ms) of the triggers seen since the last call. */
  def drainTriggers(): Seq[(Long, Long)] = synchronized {
    val out = triggerMs.toList
    triggerMs.clear()
    out
  }
}

object Tracer {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
