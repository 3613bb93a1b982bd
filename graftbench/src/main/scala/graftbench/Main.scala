package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports: the JSON object on the last stdout line. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record a correctness check; `detail` says what was compared. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

/** Run-wide settings every workload reads. */
final case class RunConf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, workDir: String, traceDir: String) {
  /** A fresh directory under the run's scratch space. */
  def dir(name: String): String = {
    val d = new java.io.File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Main {

  val Workloads: Map[String, (SparkSession, RunConf, Report) => Unit] = Map(
    "cdc_multitenant" -> ((s, c, r) => CdcBench.run(s, c, r, CdcBench.Multitenant)),
    "curate" -> CurateBench.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val conf = RunConf(opt("--workload"), opt("--seed").toLong,
      opt("--seconds").toInt, opt("--trace") == "1", opt("--work"),
      opt("--trace-dir"))
    val body = Workloads.getOrElse(conf.workload,
      throw new IllegalArgumentException(s"unknown workload ${conf.workload}"))

    val report = new Report
    phase("start")
    val spark = session(Runtime.getRuntime.availableProcessors(), conf)
    phase("session up")
    try body(spark, conf, report)
    finally spark.stop()
    phase("done")
    locally {
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(g => s"${g.getName}: ${g.getCollectionCount} in ${g.getCollectionTime} ms").mkString(", ")
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .map(p => s"${p.getName}: ${p.getPeakUsage.getUsed >> 20}/${p.getUsage.getMax >> 20} MB").mkString(", ")
      phase(s"gc [$gcs], jit ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime} ms, pools [$pools]")
    }
    if (!conf.trace) report.metric("live_mem_peak_mb", LiveMemory.peakMb(), "MB")
    declared(conf.trace, report)

    report.checks.foreach { case (n, ok, d) =>
      println(s"check $n: ${if (ok) "ok" else s"FAILED ($d)"}")
    }
    report.metrics.foreach { case (n, (v, u)) => println(f"$n%-40s $v%.4f $u") }
    println(resultJson(report))
  }

  /** The end-to-end metrics every untraced run reports (BENCHMARK.json
    * `end_to_end`). Each workload gives them its own meaning; see
    * graftbench/README.md.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "result_recall" -> "ratio", "live_mem_peak_mb" -> "MB")

  /** The per-layer metrics every traced run reports (BENCHMARK.json
    * `per_layer`); a layer the workload does not reach reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.source_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.rows_per_batch_p50" -> "count",
    "streaming.backlog_events_max" -> "count", "streaming.idle_ms" -> "ms",
    "cdc.parse_ns_per_event" -> "ns", "cdc.route_self_ns_per_event" -> "ns",
    "cdc.events_total" -> "count", "cdc.parse_errors" -> "count",
    "cdc.forwarded_total" -> "count", "cdc.forward_ratio" -> "ratio",
    "curate.read_ms" -> "ms", "curate.gate_ms" -> "ms", "curate.dedup_ms" -> "ms",
    "curate.shard_write_ms" -> "ms", "curate.manifest_ms" -> "ms",
    "curate.docs_in" -> "count", "curate.docs_gated" -> "count", "curate.docs_kept" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio") ++
    (for (l <- Tracer.Layers; (c, u) <- Tracer.SparkCounters) yield s"spark.$l.$c" -> u) ++
    Seq("bench.gen_late_ms_p99" -> "ms", "bench.tracing_overhead_ratio" -> "ratio",
      "bench.drain_eps_local1" -> "1/s", "bench.setup_cold_s" -> "s")

  /** Keep exactly the declared metric set, in declared order: per-layer
    * metrics a workload does not reach are 0; a missing end-to-end
    * metric is a harness bug.
    */
  private def declared(trace: Boolean, r: Report): Unit = {
    val want = if (trace) PerLayer else EndToEnd
    val got = r.metrics.clone()
    r.metrics.clear()
    want.foreach { case (n, u) =>
      val v = got.get(n).map(_._1).getOrElse {
        require(trace, s"workload did not report end-to-end metric $n")
        0.0
      }
      r.metric(n, v, u)
    }
  }

  /** Progress line on stderr, stamped with JVM uptime. */
  def phase(what: String): Unit =
    System.err.println(f"[graftbench] +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $what")

  /** The benchmark's own session: every flow runs at local[nproc] with
    * one shuffle partition per core, whatever the program's mains
    * hard-code.
    */
  def session(cores: Int, conf: RunConf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.dir("spark-local"))
      .config("spark.sql.warehouse.dir", conf.dir("warehouse"))
      .config("spark.sql.streaming.checkpointLocation", conf.dir("checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def resultJson(r: Report): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = r.metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${r.correct}, "attempted": ${math.max(r.attempted, 1L)}, "failed": ${r.failed}, "metrics": $ms}"""
  }
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in [0, 100]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }
  def secs(f: => Any): Double = timed(f)._2
}

/** Peak live JVM memory, in MB: the largest heap occupancy right after
  * a full collection at the benchmark's checkpoints, plus the peak use
  * of the non-heap pools (metaspace, code cache). A checkpoint is taken
  * between timed operations, so it sees what the program retains (a
  * running query, its source buffers, caches) and not the transient
  * garbage of a batch. Unlike the process's resident set, the figure
  * does not follow how far the collector grows eden inside the fixed
  * heap. It includes the harness's own generated inputs, which are the
  * same for every build.
  */
object LiveMemory {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  @volatile private var peakHeap = 0L

  /** Collect fully and record what is left. Never call it inside a
    * timed section.
    */
  def checkpoint(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakHeap = math.max(peakHeap, used) }
  }

  def peakMb(): Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (peakHeap + nonHeap) / 1048576.0
  }
}
