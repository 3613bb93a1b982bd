package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.{Config, Parse, Pipeline}
import graft.cdc.Routing.TransformRule
import graft.streaming.StreamingPipeline

/** The CDC route flow: generated Debezium envelopes fed through a
  * MemoryStream into `StreamingPipeline.routeObserved`, the same plan
  * `StreamMain` runs against Kafka.
  *
  * One run, after three set-up rounds (generate the envelope pool, load
  * the config, start a query, route the pool once, stop it) and an
  * untimed warm-up of the long-lived query (one backlog, then
  * [[WarmSeconds]] of open loop):
  *  - open loop: a single generator thread appends a chunk every
  *    [[ChunkMs]] ms at the workload's rate for [[OpenShare]] of the window; each
  *    chunk's latency runs from its due time to the end of the
  *    micro-batch that consumed it (from the query's progress reports);
  *  - drain: a preloaded backlog is appended at once and timed until its
  *    micro-batch ends, [[drainCount]] times.
  *
  * Outputs are checked against a plain-Scala first-match router: every
  * forwarded row passes an `observe` that counts rows per target topic
  * and sums a hash of (target, key), and the program's own
  * `CounterListener` totals must cross-foot with the generator.
  */
object CdcBench {

  final case class Shape(rateEps: Int, poolSize: Int, drainEvents: Int,
      topics: IndexedSeq[String], dbs: IndexedSeq[String],
      tables: IndexedSeq[String], rules: Seq[TransformRule])

  /** 100 anchored-regex rules over 2 topics × 10 tenant dbs × 100
    * tables: five rules per (topic, db), one shadowing the next and one
    * never matching, all routing into ten shared target topics. Offered
    * at the reference's low-load point of 20k ev/s.
    */
  val Multitenant: Shape = {
    val topics = IndexedSeq("cdc-a", "cdc-b")
    val dbs = (0 until 10).map(i => f"tenant_$i%02d")
    val kinds = Seq("orders", "payments", "users", "events")
    Shape(
      rateEps = 20000, poolSize = 30000, drainEvents = 60000,
      topics = topics, dbs = dbs,
      tables = for (k <- kinds.toIndexedSeq; i <- 0 until 25) yield f"${k}_$i%02d",
      rules = for (t <- topics; d <- dbs; (re, kind) <- Seq(
        "^orders_0[0-9]$" -> "hot-orders", "^orders_[0-9]+$" -> "orders",
        "^payments_(0|1)[0-9]$" -> "payments", "^users_[0-9]*[13579]$" -> "users",
        "^archive_.*$" -> "archive")) yield TransformRule(t, d, re, s"$kind-$t"))
  }

  val ChunkMs = 5
  /** The reference producer's `message.timeout.ms`: an event not
    * forwarded this long after its due time counts as failed.
    */
  val TimeoutMs = 5000.0
  val OpenShare = 0.65
  val WarmSeconds = 3.0
  val WarmDrains = 3

  /** Backlog drains after the open loop: a fixed count for a given window
    * (about one per second left, at least three), so that a fast run and
    * a slow one take the median over the same number of drains.
    */
  def drainCount(seconds: Int): Int = math.max(3, math.round(seconds * (1 - OpenShare)).toInt)

  type Rec = (String, Array[Byte], Array[Byte])
  implicit val recEncoder: Encoder[Rec] =
    Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.BINARY)

  /** The rules as the YAML a user would deploy, loaded through the
    * program's config parser.
    */
  def yaml(s: Shape): String = {
    def q(x: String) = "'" + x.replace("'", "''") + "'"
    val rules = s.rules.map(r =>
      s"  - source_topic: ${q(r.sourceTopic)}\n    db: ${q(r.db)}\n" +
        s"    table: ${q(r.tableRegex)}\n    target_topic: ${q(r.targetTopic)}\n")
    s"kafka:\n  bootstrap_servers: localhost:9092\n  group: graftbench\n" +
      s"  bindings: [${s.topics.map(q).mkString(", ")}]\ntransforms:\n" + rules.mkString
  }

  /** The envelope pool with each entry's expected routing, from a plain
    * first-match router (`java.util.regex` find; deletes and malformed
    * envelopes are not forwarded).
    */
  final class Pool(val events: Array[Gen.Event], val recs: Array[Rec], rules: Seq[TransformRule]) {
    val targets: IndexedSeq[String] = rules.map(_.targetTopic).distinct.toIndexedSeq
    private val compiled = rules.map(r => (r, Pattern.compile(r.tableRegex)))
    val target: Array[Int] = events.map { e =>
      if (e.malformed || e.op == "d") -1
      else compiled.find { case (r, p) =>
        r.sourceTopic == e.topic && r.db == e.db && p.matcher(e.table).find()
      }.map(x => targets.indexOf(x._1.targetTopic)).getOrElse(-1)
    }
    /** Spark's xxhash64(target_topic, key), low 32 bits: what the sink's
      * observation sums over forwarded rows.
      */
    val hash: Array[Long] = events.indices.map { i =>
      if (target(i) < 0) 0L
      else XxHash64(Seq(Literal(targets(target(i))), Literal(events(i).key)), 42L)
        .eval().asInstanceOf[Long] & 0xFFFFFFFFL
    }.toArray
  }

  /** Cycles through the pool and keeps the totals a correct run must
    * reproduce.
    */
  final class Feed(pool: Pool) {
    private var cursor = 0
    var events, malformed, forwarded, keysum = 0L
    val perTarget = new Array[Long](pool.targets.length)

    def take(n: Int): Array[Rec] = Array.tabulate(n) { _ =>
      val i = cursor
      cursor = (cursor + 1) % pool.events.length
      events += 1
      if (pool.events(i).malformed) malformed += 1
      val t = pool.target(i)
      if (t >= 0) { forwarded += 1; perTarget(t) += 1; keysum += pool.hash(i) }
      pool.recs(i)
    }
  }

  /** Micro-batch progress of every query, as reported to listeners. */
  final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)

    def batches(q: StreamingQuery): Seq[Batch] =
      all.asScala.toSeq.filter(p => p.runId == q.runId && p.numInputRows > 0)
        .map(Batch.of).sortBy(_.end)

    /** Wait until the batch that consumed offset `off` has reported. */
    def await(q: StreamingQuery, off: Long): Batch = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var hit: Option[Batch] = None
      while (hit.isEmpty) {
        hit = batches(q).find(b => b.start < off && off <= b.end)
        if (hit.isEmpty) {
          require(System.nanoTime() < deadline, s"no progress report covers offset $off")
          q.exception.foreach(e => throw e)
          Thread.sleep(2)
        }
      }
      hit.get
    }
  }

  final case class Batch(start: Long, end: Long, endMs: Double, rows: Long,
      durations: Map[String, Long]) {
    def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
  }
  object Batch {
    private def off(s: String): Long =
      if (s == null || s == "null") -1L else s.trim.toLong
    def of(p: StreamingQueryProgress): Batch = {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Batch(off(p.sources.head.startOffset), off(p.sources.head.endOffset),
        Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L).toDouble,
        p.numInputRows, d)
    }
  }

  /** Wall clock in epoch ms with sub-ms resolution, on the same time
    * base as the progress reports' timestamps.
    */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Chunk(dueMs: Double, offset: Long, events: Int, forwards: Long, lateMs: Double)

  def startQuery(spark: SparkSession, stream: MemoryStream[Rec],
      rules: Seq[TransformRule], targets: IndexedSeq[String], name: String): StreamingQuery = {
    val routed = StreamingPipeline.routeObserved(stream.toDF().toDF("topic", "key", "value"), rules)
    val perTarget = targets.indices.map(i =>
      count(when(col("target_topic") === lit(targets(i)), 1)).as(s"t$i"))
    routed
      .observe("bench_sink", count(lit(1)).as("rows"),
        (Seq(sum(xxhash64(col("target_topic"), col("key")).bitwiseAND(lit(0xFFFFFFFFL))).as("keysum"))
          ++ perTarget): _*)
      .writeStream.format("noop").queryName(name).start()
  }

  def run(spark: SparkSession, conf: RunConf, report: Report, shape: Shape): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    // ---- set-up, three times: generate the envelopes, load the config,
    // start a query, route the envelopes once, stop. The first round is
    // the cold one; the median is setup_s, and the rounds double as the
    // warm-up passes. The benchmark's own oracle is built afterwards,
    // outside the timed rounds.
    var events: Array[Gen.Event] = null
    var recs: Array[Rec] = null
    var rules: Seq[TransformRule] = null
    val setups = (1 to 3).map { round =>
      Stats.secs {
        rules = Config.fromString(yaml(shape)).rules
        events = Gen.envelopes(conf.seed, shape.poolSize, shape.topics, shape.dbs, shape.tables)
        recs = events.map(e => (e.topic, e.key, e.value))
        val s = MemoryStream[Rec](spark, cores)
        val q = startQuery(spark, s, rules, rules.map(_.targetTopic).distinct.toIndexedSeq, s"setup_$round")
        try {
          recs.grouped(math.max(1, recs.length / 8)).foreach(c => s.addData(c.toSeq))
          q.processAllAvailable()
        } finally q.stop()
      }
    }
    Main.phase(s"setup rounds: ${setups.map(t => f"$t%.3f").mkString(" ")} s")
    LiveMemory.checkpoint()
    val pool = new Pool(events, recs, rules)
    val meanBytes = events.map(_.value.length.toDouble).sum / events.length
    Main.phase(f"envelopes: ${events.length} in the pool, mean value $meanBytes%.1f bytes")
    report.check("envelope_mean_bytes", math.abs(meanBytes / Gen.EnvelopeBytes - 1) < 0.05,
      f"mean envelope $meanBytes%.1f bytes, generator targets ${Gen.EnvelopeBytes}")
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    Main.phase("setup done")

    val counters = new StreamingPipeline.CounterListener
    spark.streams.addListener(counters)
    val stream = MemoryStream[Rec](spark, cores)
    val q = startQuery(spark, stream, rules, pool.targets, "route")
    val feed = new Feed(pool)
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None

    /** One backlog drain: (seconds until its batch ended, forwards). */
    def drain(): (Double, Long) = {
      val fwd0 = feed.forwarded
      val data = feed.take(shape.drainEvents).toSeq
      val off = stream.addData(data).json().toLong
      val t0 = nowMs()
      q.processAllAvailable()
      ((progress.await(q, off).endMs - t0) / 1000.0, feed.forwarded - fwd0)
    }

    try {
      // warm the long-lived query before anything is timed: backlogs (drain
      // times keep falling over the first few), then the open loop itself
      // (C2 needs many micro-batches at the open loop's batch size before
      // batch times settle)
      (1 to WarmDrains).foreach(_ => drain())
      openLoop(stream, feed, shape, WarmSeconds)
      q.processAllAvailable()
      val untraced = tracer.map(_ => Seq(drain()._1, drain()._1))
      tracer.foreach { t =>
        t.start()
        t.alias(q.runId.toString, "streaming.run")
        traceBatchProbes(spark, t, pool, rules, report)
      }
      val attempted0 = feed.events
      val fwdBefore = feed.forwarded

      Main.phase("window start")
      val body = () => {
        val chunks = openLoop(stream, feed, shape, conf.seconds * OpenShare)
        q.processAllAvailable()
        progress.await(q, chunks.last.offset)
        LiveMemory.checkpoint()
        val drains = (1 to drainCount(conf.seconds)).map { i =>
          val d = drain()
          Main.phase(f"drain $i: ${d._1}%.3f s")
          d
        }
        (chunks, drains)
      }
      val (chunks, drains) = tracer.map(_.span("streaming.run")(body())).getOrElse(body())

      LiveMemory.checkpoint()
      Main.phase("window end")
      // ---- per-chunk latency from due time to its batch's end
      val batches = progress.batches(q)
      val lat = chunks.map { c =>
        val b = batches.find(b => b.start < c.offset && c.offset <= b.end)
          .getOrElse(throw new IllegalStateException(s"chunk at offset ${c.offset} never reported"))
        b.endMs - c.dueMs
      }
      // an event forwarded later than the timeout has failed
      var onTime = 0L
      chunks.zip(lat).foreach { case (c, l) =>
        if (l > TimeoutMs) report.failed += c.events else onTime += c.forwards
      }
      drains.foreach { case (s, fwd) =>
        if (s * 1000 > TimeoutMs) report.failed += shape.drainEvents else onTime += fwd
      }
      report.attempted = feed.events - attempted0
      val expectedFwd = feed.forwarded - fwdBefore

      q.stop()
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      crossFoot(report, counters.totals, feed, pool)

      if (!conf.trace) {
        report.metric("setup_s", Stats.median(setups), "s")
        report.metric("throughput_per_s", shape.drainEvents / Stats.median(drains.map(_._1)), "1/s")
        report.metric("latency_p50_ms", Stats.median(lat), "ms")
        report.metric("result_recall", onTime.toDouble / math.max(1L, expectedFwd), "ratio")
      } else {
        val t = tracer.get
        t.stop()
        val first = chunks.head.offset
        val open = batches.filter(b => b.end >= first && b.start < chunks.last.offset)
        val openMs = open.last.endMs - chunks.head.dueMs
        def p50(k: String) = Stats.median(open.map(_.ms(k)))
        report.metric("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
        report.metric("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
        report.metric("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
        report.metric("streaming.source_ms_p50",
          Stats.median(open.map(b => b.ms("latestOffset") + b.ms("getBatch"))), "ms")
        report.metric("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
        report.metric("streaming.rows_per_batch_p50", Stats.median(open.map(_.rows.toDouble)), "count")
        report.metric("streaming.backlog_events_max", open.map(_.rows).max.toDouble, "count")
        report.metric("streaming.idle_ms", math.max(0.0, openMs - open.map(_.ms("triggerExecution")).sum), "ms")
        val tot = counters.totals
        val ev = tot.getOrElse("cdc_consumed.events_total", 0L).toDouble
        report.metric("cdc.events_total", ev, "count")
        report.metric("cdc.parse_errors", tot.getOrElse("cdc_consumed.parse_errors", 0L).toDouble, "count")
        report.metric("cdc.forwarded_total", tot.getOrElse("cdc_forwarded.forwarded_total", 0L).toDouble, "count")
        report.metric("cdc.forward_ratio", tot.getOrElse("cdc_forwarded.forwarded_total", 0L) / math.max(ev, 1.0), "ratio")
        report.metric("bench.gen_late_ms_p99", Stats.pct(chunks.map(_.lateMs), 99), "ms")
        report.metric("bench.tracing_overhead_ratio", Stats.median(drains.map(_._1)) / Stats.median(untraced.get), "ratio")
        report.metric("bench.setup_cold_s", setups.head, "s")
        t.sparkMetrics(report)
        t.write(conf.traceDir, s"${conf.workload}-seed${conf.seed}.jsonl")
      }
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(counters)
      spark.streams.removeListener(progress)
    }
    if (conf.trace) report.metric("bench.drain_eps_local1", drainLocal1(spark, conf, shape, pool, rules), "1/s")
  }

  /** The single-core baseline: the same drain on a fresh `local[1]`
    * session (this JVM's JIT is already warm), median of two backlogs.
    */
  private def drainLocal1(spark: SparkSession, conf: RunConf, shape: Shape,
      pool: Pool, rules: Seq[TransformRule]): Double = {
    spark.stop()
    val s1 = Main.session(1, conf)
    try {
      val progress = new ProgressLog
      s1.streams.addListener(progress)
      val stream = MemoryStream[Rec](s1, 1)
      val q = startQuery(s1, stream, rules, pool.targets, "route_local1")
      try {
        val feed = new Feed(pool)
        val n = shape.drainEvents / 4
        stream.addData(feed.take(n).toSeq)
        q.processAllAvailable()
        Stats.median((1 to 2).map { _ =>
          val off = stream.addData(feed.take(n).toSeq).json().toLong
          val t0 = nowMs()
          q.processAllAvailable()
          n / ((progress.await(q, off).endMs - t0) / 1000.0)
        })
      } finally q.stop()
    } finally s1.stop()
  }

  /** The open loop: one thread appends a chunk every [[ChunkMs]] ms on a
    * fixed schedule, whatever the query is doing, and records each
    * chunk's due time, offset and how late the append finished.
    */
  private def openLoop(stream: MemoryStream[Rec], feed: Feed, shape: Shape,
      seconds: Double): Seq[Chunk] = {
    val perChunk = math.max(1, shape.rateEps * ChunkMs / 1000)
    val n = math.max(1, (seconds * 1000 / ChunkMs).toInt)
    val out = ArrayBuffer.empty[Chunk]
    var error: Throwable = null
    val gen = new Thread(() =>
      try {
        val start = nowMs() + 20
        var i = 0
        while (i < n) {
          val due = start + i.toDouble * ChunkMs
          var wait = due - nowMs()
          while (wait > 0) { LockSupport.parkNanos((wait * 1e6).toLong); wait = due - nowMs() }
          val fwd0 = feed.forwarded
          val data = feed.take(perChunk)
          val off = stream.addData(data.toSeq).json().toLong
          out += Chunk(due, off, perChunk, feed.forwarded - fwd0, nowMs() - due)
          i += 1
        }
      } catch { case t: Throwable => error = t },
      "graftbench-generator")
    gen.start()
    gen.join()
    if (error != null) throw error
    out.toSeq
  }

  /** Cross-foot the program's counters and the sink's observation with
    * what the generator offered and the plain router expects.
    */
  private def crossFoot(report: Report, tot: Map[String, Long], feed: Feed, pool: Pool): Unit = {
    def eq(name: String, key: String, want: Long): Unit = {
      val got = tot.getOrElse(key, 0L)
      report.check(name, got == want, s"$key = $got, expected $want")
    }
    eq("events_total", "cdc_consumed.events_total", feed.events)
    eq("parse_errors", "cdc_consumed.parse_errors", feed.malformed)
    eq("forwarded_total", "cdc_forwarded.forwarded_total", feed.forwarded)
    eq("sink_rows", "bench_sink.rows", feed.forwarded)
    eq("sink_key_checksum", "bench_sink.keysum", feed.keysum)
    pool.targets.indices.foreach(i =>
      eq(s"target_${pool.targets(i)}", s"bench_sink.t$i", feed.perTarget(i)))
  }

  /** Traced run only: time `Parse.parse` and `Pipeline.route` on the
    * pool (repeated to 4× its size, cached) as plain batch jobs forced
    * through the noop sink, after one untimed pass each; medians of three
    * alternating passes. Route self time is route minus parse.
    */
  private def traceBatchProbes(spark: SparkSession, t: Tracer, pool: Pool,
      rules: Seq[TransformRule], report: Report): Unit = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val recs = Seq.fill(4)(pool.recs.toSeq).flatten
    val df = spark.createDataset(recs).toDF("topic", "key", "value")
      .repartition(cores).cache()
    df.count()
    def pass(f: => org.apache.spark.sql.DataFrame, span: String): Double =
      Stats.secs(t.span(span)(f.write.format("noop").mode("overwrite").save()))
    pass(Parse.parse(df), "cdc.parse")
    pass(Pipeline.route(df, rules), "cdc.route")
    val (ps, rs) = (1 to 3).map(_ =>
      (pass(Parse.parse(df), "cdc.parse"), pass(Pipeline.route(df, rules), "cdc.route"))).unzip
    val (parse, route) = (Stats.median(ps), Stats.median(rs))
    df.unpersist()
    val n = recs.length.toDouble
    report.metric("cdc.parse_ns_per_event", parse * 1e9 / n, "ns")
    report.metric("cdc.route_self_ns_per_event", math.max(0.0, route - parse) * 1e9 / n, "ns")
  }
}
