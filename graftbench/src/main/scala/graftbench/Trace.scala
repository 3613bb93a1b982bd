package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer Spark counters for a traced run.
  *
  * A span wraps one call into a module's public function; its name is
  * `<layer>.<step>` (`cdc.parse`, `curate.gate`, ...). While
  * a span is open its name is the Spark job group, so the listeners
  * below can charge every job, task and query execution to the layer
  * that caused it. Streaming micro-batches run under the query's own
  * job group (its run id), which [[alias]] maps onto a span name.
  *
  * Spans are kept in memory and written as JSON lines by [[write]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)

  private val sc = spark.sparkContext
  private val closed = new ConcurrentLinkedQueue[Span]()
  @volatile private var open: List[(String, Long)] = Nil
  private val aliases = new ConcurrentHashMap[String, String]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Double]()
  private val queryHooks = new ConcurrentLinkedQueue[(String, String, QueryExecution, Long) => Unit]()

  def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)
  def value(key: String): Double = counters.getOrDefault(key, 0.0)

  /** Charge jobs running under Spark job group `group` to span `span`. */
  def alias(group: String, span: String): Unit = aliases.put(group, span)

  /** Called for every successful query execution with (span, funcName,
    * execution, duration ns), on the listener thread.
    */
  def onQuery(f: (String, String, QueryExecution, Long) => Unit): Unit = queryHooks.add(f)

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.map(_._1).getOrElse("")
    val startMs = System.currentTimeMillis()
    val cg0 = codegenMs()
    open = (name, startMs) :: open
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      open = open.tail
      open.headOption match {
        case Some((p, _)) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      add(s"spark.${layerOf(name)}.codegen_compile_ms", codegenMs() - cg0)
      closed.add(Span(name, parent, startMs, System.currentTimeMillis()))
    }
  }

  /** Total wall time (ms) of closed spans named `name`. */
  def spanMs(name: String): Double =
    closed.asScala.filter(_.name == name).map(s => (s.endMs - s.startMs).toDouble).sum

  private def spanOfGroup(group: String): Option[String] =
    Option(group).map(g => Option(aliases.get(g)).getOrElse(g))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty(JobGroupProperty)).orNull
      spanOfGroup(group).foreach { s =>
        val l = layerOf(s)
        e.stageIds.foreach(id => stageLayer.put(id, l))
        add(s"spark.$l.jobs", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageLayer.get(e.stageId)).foreach { l =>
        val m = e.taskMetrics
        add(s"spark.$l.tasks", 1)
        if (m != null) {
          add(s"spark.$l.executor_run_ms", m.executorRunTime.toDouble)
          add(s"spark.$l.executor_cpu_ms", m.executorCpuTime / 1e6)
          add(s"spark.$l.gc_ms", m.jvmGCTime.toDouble)
          add(s"spark.$l.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s"spark.$l.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(s"spark.$l.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          val i = e.taskInfo
          val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
          add(s"spark.$l.scheduler_delay_ms", math.max(0L, delay).toDouble)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val start = phases.map(_.startTimeMs).min
        spanAt(start).foreach { s =>
          add(s"spark.${layerOf(s)}.plan_ms", phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
          queryHooks.forEach(h => h(s, funcName, qe, durationNs))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The innermost span open at wall time `ms` (closed or still open). */
  private def spanAt(ms: Long): Option[String] = {
    val done = closed.asScala.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (done.nonEmpty) Some(done.maxBy(_.startMs).name)
    else open.find(_._2 <= ms).map(_._1)
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Detach the listeners after every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Spark per-layer counters, every layer × counter, zero if unused. */
  def sparkMetrics(report: Report): Unit =
    for (l <- Layers; (c, unit) <- SparkCounters)
      report.metric(s"spark.$l.$c", value(s"spark.$l.$c"), unit)

  def write(dir: String, file: String): Unit = {
    new java.io.File(dir).mkdirs()
    val lines = closed.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, file),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  private val JobGroupProperty = "spark.jobGroup.id"

  /** The layers spans are charged to: the program's modules on these
    * flows (`functions` kernels are timed through the spans of their
    * callers).
    */
  val Layers: Seq[String] = Seq("cdc", "streaming", "curate")

  val SparkCounters: Seq[(String, String)] = Seq(
    "plan_ms" -> "ms", "codegen_compile_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms",
    "gc_ms" -> "ms", "scheduler_delay_ms" -> "ms", "shuffle_write_bytes" -> "bytes",
    "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes")

  def layerOf(span: String): String = span.takeWhile(_ != '.')

  /** Total codegen compile time recorded so far, in ms. The histogram's
    * reservoir holds every sample until it fills (1028); past that the
    * mean stands in for the evicted ones.
    */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val vals = snap.getValues
    if (h.getCount <= vals.length) vals.sum.toDouble else h.getCount * snap.getMean
  }
}
