package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all attached from outside the program: a
  * SparkListener (jobs, stages, tasks and their metrics), a
  * QueryExecutionListener (planning phases, broadcast sizes), a
  * StreamingQueryListener (per-trigger progress), and the JVM-wide codegen
  * and GC clocks. Counters only count while `on` is set, so one traced run
  * can alternate traced and untraced operations and measure what tracing
  * costs. Spans stay in memory until the run writes them out. */
object Trace {

  @volatile var on = false
  val cores = 4

  private val sums = TrieMap.empty[String, LongAdder]
  private def add(k: String, v: Long): Unit =
    if (on) sums.getOrElseUpdate(k, new LongAdder).add(v)

  /** Every progress event of every streaming query, traced or not. */
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  final case class Span(name: String, op: Int, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]

  private class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        add("tasks", 1)
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        add("sched_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch))
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private class Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum)
      add("broadcast_bytes", nodes(qe.executedPlan).collect {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
  }

  private class Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new Jobs)
    spark.listenerManager.register(new Plans)
    spark.streams.addListener(new Progress)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def codegenNs(): Long =
    CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime

  /** Runs `body`, timed; when `traced`, with the counters on and a span
    * named `name` for operation `op`. Returns the result, the wall time in
    * ms and the counts `body` caused (empty when untraced). */
  def measure[T](spark: SparkSession, traced: Boolean, name: String, op: Int)(body: => T)
      : (T, Double, Counts) = {
    if (!traced) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e6, Counts.empty)
    }
    val sc = spark.sparkContext
    Bus.drain(sc)
    val before = sums.map { case (k, v) => k -> v.sum }.toMap
    val gc0 = gcMs()
    val cg0 = codegenNs()
    on = true
    val t0 = System.nanoTime()
    val r = try body catch { case e: Throwable => on = false; throw e }
    val t1 = System.nanoTime()
    val cg = (codegenNs() - cg0) / 1e6
    val gc = (gcMs() - gc0).toDouble
    Bus.drain(sc)
    on = false
    spans.synchronized(spans += Span(name, op, t0, t1))
    val wall = (t1 - t0) / 1e6
    val d = sums.map { case (k, v) => k -> (v.sum - before.getOrElse(k, 0L)).toDouble }
    (r, wall, Counts(d.toMap ++ Map("wall_ms" -> wall, "codegen_ms" -> cg, "gc_ms" -> gc)))
  }

  /** Writes the spans as JSON lines to `path`. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"name":"${s.name}","op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counter deltas of one or more traced operations. */
final case class Counts(d: Map[String, Double]) {
  def apply(k: String): Double = d.getOrElse(k, 0.0)
  def +(o: Counts): Counts = Counts((d.keySet ++ o.d.keySet).map(k => k -> (this(k) + o(k))).toMap)

  /** The published `spark.*` metrics. */
  def spark: Map[String, Double] = Map(
    "spark.planning_ms" -> this("planning_ms"),
    "spark.codegen_ms" -> this("codegen_ms"),
    "spark.jobs" -> this("jobs"),
    "spark.stages" -> this("stages"),
    "spark.tasks" -> this("tasks"),
    "spark.sched_delay_ms" -> this("sched_ms"),
    "spark.task_cpu_ms" -> this("cpu_ns") / 1e6,
    "spark.busy_share" -> this("run_ms") / (this("wall_ms") * Trace.cores),
    "spark.shuffle_read_bytes" -> this("shuffle_read"),
    "spark.shuffle_write_bytes" -> this("shuffle_write"),
    "spark.spill_bytes" -> this("spill"),
    "spark.gc_ms" -> this("gc_ms"))
}

object Counts {
  val empty: Counts = Counts(Map.empty)
}
