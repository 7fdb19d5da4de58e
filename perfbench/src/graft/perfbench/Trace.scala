package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer. It registers a `SparkListener` and a
  * `QueryExecutionListener` on the session, counts what they report
  * by the job group the harness set (`pb|<phase>|<unit>`), and keeps
  * spans (workload -> unit -> build / plan / exec) in memory until
  * the run writes them out. Nothing is added inside the engine. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext

  /** Counters since the last `reset`, keyed by metric name. */
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = counts.synchronized { counts(k) += v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      counts.synchronized {
        jobStart(e.jobId) = e.time
        counts("exec.jobs") += 1
        // added to on every job, so a count of 0 is reported, not left out
        counts("queries.build_jobs") += (if (group.startsWith("pb|build|")) 1 else 0)
        counts("plans.cc_jobs") += (if (group.startsWith("pb|cc|")) 1 else 0)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counts.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => counts("exec.s") += (e.time - t0) / 1e3)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = counts.synchronized {
      counts("exec.stages") += 1
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      counts.synchronized {
        counts("exec.tasks") += 1
        stageSubmit.get(e.stageId).foreach(s => counts("exec.task_wait_s") += math.max(0L, e.taskInfo.launchTime - s) / 1e3)
        counts("exec.task_run_s") += m.executorRunTime / 1e3
        counts("exec.task_cpu_s") += m.executorCpuTime / 1e9
        counts("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counts("exec.result_bytes") += m.resultSize
        counts("core.input_bytes") += m.inputMetrics.bytesRead
        counts("core.input_rows") += m.inputMetrics.recordsRead
        counts("sink.output_rows") += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      counts.synchronized {
        counts("catalyst.analysis_s") += ms("analysis")
        counts("catalyst.optimize_s") += ms("optimization")
        counts("catalyst.plan_s") += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val sessionImpl = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private var on = false

  def start(): Unit = if (!on) {
    sc.addSparkListener(listener); sessionImpl.listenerManager.register(qeListener); on = true
  }
  def stop(): Unit = if (on) {
    drain(); sc.removeSparkListener(listener); sessionImpl.listenerManager.unregister(qeListener); on = false
  }
  def drain(): Unit = PerfbenchBridge.drainListenerBus(sc)

  /** Counters since the previous call, after the bus has drained. */
  def take(): Map[String, Double] = {
    drain()
    counts.synchronized { val m = counts.toMap; counts.clear(); stageSubmit.clear(); jobStart.clear(); m }
  }

  /** Current catalyst plan-phase total, for the plan span of one unit. */
  def planSeconds(): Double = {
    drain()
    counts.synchronized(counts("catalyst.optimize_s") + counts("catalyst.plan_s"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String, startMs: Double, durMs: Double)

  /** In-memory span log; `write` emits it with per-layer self times. */
  final class Spans {
    private val t0 = System.nanoTime()
    private val buf = mutable.ArrayBuffer.empty[Span]
    def nowMs: Double = (System.nanoTime() - t0) / 1e6
    def add(parent: Int, name: String, layer: String, startMs: Double, durMs: Double): Int = {
      val id = buf.size + 1
      buf += Span(id, parent, name, layer, startMs, durMs)
      id
    }
    def update(id: Int, durMs: Double): Unit = buf(id - 1) = buf(id - 1).copy(durMs = durMs)

    /** Self time of a span: its duration minus the time its children cover. */
    def selfTimesByLayer: Map[String, Double] = {
      val childDur = buf.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
      buf.groupBy(_.layer).view.mapValues(_.map(s => s.durMs - childDur.getOrElse(s.id, 0.0)).sum / 1e3).toMap
    }
    def toJson: Any = Map(
      "self_s_by_layer" -> selfTimesByLayer,
      "spans" -> buf.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "dur_ms" -> s.durMs)).toSeq)
  }

  /** JVM-wide collection time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
