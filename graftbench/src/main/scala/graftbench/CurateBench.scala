package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.{CurateMain, Tables}
import graft.ext.Dedup

/** The curation flow: `CurateMain.run` over a generated corpus, from
  * `documents.parquet` to gated, deduplicated, shuffled shards plus
  * their manifest.
  *
  * The corpus is 8,000 base documents (1.6× the sf0.1 fixture) plus
  * planted near-duplicate copies of 6% of them. Unlike the fixture,
  * where every planted duplicate carries the blocklisted token and the
  * dedup stage finds nothing, these copies pass every gate, so
  * MinHash-LSH candidates, exact-Jaccard verification and the anti-join
  * do real work.
  *
  * Each set-up round generates and writes the corpus and runs the flow
  * once; the first round is the cold one, the median of the three is
  * `setup_s`. After [[WarmRuns]] untimed runs, the window repeats the
  * flow. Every run's summary is
  * checked against the generator, and the last run's shards and
  * manifest are read back and checked.
  */
object CurateBench {

  val BaseDocs = 8000
  val DupShare = 0.06
  val Salt = "epoch1:"
  val WarmRuns = 3

  /** Timed runs in the window: a fixed count for a given window (one per
    * 3 s, the warm run time on a 4-core VM, at least three), so that a
    * fast run and a slow one take the median over the same number of runs.
    */
  def runCount(seconds: Int): Int = math.max(3, seconds / 3)

  def writeCorpus(spark: SparkSession, docs: Seq[Gen.Doc], dir: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, s"src${d.id % 7}", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def run(spark: SparkSession, conf: RunConf, report: Report): Unit = {
    val corpus = conf.dir("corpus")
    var docs: IndexedSeq[Gen.Doc] = null
    val setups = (1 to 3).map { r =>
      Stats.secs {
        docs = Gen.documents(conf.seed, BaseDocs, DupShare)
        writeCorpus(spark, docs, corpus)
        CurateMain.run(spark, corpus, conf.dir(s"setup$r"), Salt)
      }
    }
    Main.phase(s"setup rounds: ${setups.map(t => f"$t%.3f").mkString(" ")} s")
    LiveMemory.checkpoint()
    Main.phase("setup done")

    val gated = docs.filter(d => d.lang == "en" && Gen.passesGate(d.text)).map(_.id).toSet
    val planted = docs.filter(_.plantedDupOf >= 0).map(_.id).toSet
    report.check("planted_dups_pass_gates", planted.subsetOf(gated),
      s"${(planted -- gated).size} planted copies fail the gates")

    val out = conf.dir("curated")
    // untimed warm-up: run times keep falling for several runs after
    // the set-up rounds while the JIT compiles the flow's hot paths
    (1 to WarmRuns).foreach(_ => CurateMain.run(spark, corpus, out, Salt))
    Main.phase("warm-up done")
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    val untraced = tracer.map(_ => Stats.secs(CurateMain.run(spark, corpus, out, Salt)))
    tracer.foreach { t =>
      t.start()
      traceStages(spark, t, corpus, report)
    }

    Main.phase("window start")
    val runs = (1 to runCount(conf.seconds)).map { i =>
      val once = () => Stats.timed(CurateMain.run(spark, corpus, out, Salt))
      val r = tracer.map(_.span("curate.run")(once())).getOrElse(once())
      Main.phase(f"run $i: ${r._2}%.3f s")
      r
    }
    LiveMemory.checkpoint()
    Main.phase("window end")

    runs.foreach { case (s, _) =>
      report.attempted += s.nInput
      report.check("summary_input", s.nInput == docs.size, s"input ${s.nInput}, generated ${docs.size}")
      report.check("summary_gated", s.nGated == gated.size, s"gated ${s.nGated}, expected ${gated.size}")
    }
    val last = runs.last._1
    val kept = spark.read.parquet(s"$out/shards").select("doc_id").collect().map(_.getLong(0)).toSet
    val manifest = spark.read.parquet(s"$out/manifest")
    val manifestDocs = manifest.agg(sum("n_docs")).head().getLong(0)
    val removed = gated -- kept
    report.check("kept_subset_of_gated", kept.subsetOf(gated), s"${(kept -- gated).size} kept docs fail the gates")
    report.check("removed_only_planted", removed.subsetOf(planted),
      s"${(removed -- planted).size} removed docs are not planted duplicates")
    report.check("manifest_docs_eq_kept", manifestDocs == last.nKept && kept.size == last.nKept,
      s"manifest $manifestDocs, shards ${kept.size}, summary kept ${last.nKept}")
    report.check("shard_count", last.nShards == CurateMain.NumShards,
      s"${last.nShards} shards, expected ${CurateMain.NumShards}")
    val recall = (planted -- kept).size.toDouble / planted.size

    val times = runs.map(_._2)
    if (!conf.trace) {
      report.metric("setup_s", Stats.median(setups), "s")
      report.metric("throughput_per_s", docs.size / Stats.median(times), "1/s")
      report.metric("latency_p50_ms", Stats.median(times) * 1000, "ms")
      report.metric("result_recall", recall, "ratio")
    } else {
      val t = tracer.get
      t.stop()
      report.metric("curate.docs_in", last.nInput.toDouble, "count")
      report.metric("curate.docs_gated", last.nGated.toDouble, "count")
      report.metric("curate.docs_kept", last.nKept.toDouble, "count")
      val runs_ = runs.size.toDouble
      report.metric("curate.shard_write_ms", t.value("curate.shard_write_ns") / 1e6 / runs_, "ms")
      report.metric("curate.manifest_ms", t.value("curate.manifest_ns") / 1e6 / runs_, "ms")
      report.metric("bench.tracing_overhead_ratio", Stats.median(times) / untraced.get, "ratio")
      report.metric("bench.setup_cold_s", setups.head, "s")
      t.sparkMetrics(report)
      t.write(conf.traceDir, s"${conf.workload}-seed${conf.seed}.jsonl")
    }
  }

  /** Traced run only: the flow's stages called one by one through their
    * public entry points, plus the write stages of `CurateMain.run`
    * attributed by the path each write command targets (`shards/`,
    * `manifest/`, the artifact layout `CurateMain` documents). The shard
    * write is the action that executes dedup and the anti-join, so its
    * time includes them.
    */
  private def traceStages(spark: SparkSession, t: Tracer, corpus: String,
      report: Report): Unit = {
    t.onQuery { (span, _, qe, ns) =>
      if (span == "curate.run") writeTarget(qe).foreach {
        case "shards" => t.add("curate.shard_write_ns", ns.toDouble)
        case "manifest" => t.add("curate.manifest_ns", ns.toDouble)
        case _ => ()
      }
    }
    def ms(span: String)(f: => Unit): Double = Stats.secs(t.span(span)(f)) * 1000
    var docs: DataFrame = null
    report.metric("curate.read_ms", ms("curate.read") {
      docs = Tables.documents(spark, corpus); docs.count()
    }, "ms")
    var gated: DataFrame = null
    report.metric("curate.gate_ms", ms("curate.gate") {
      gated = CurateMain.gate(docs); gated.count()
    }, "ms")
    var cands, pairs = 0L
    t.span("curate.candidates") {
      cands = Dedup.nearDupCandidatesNative(gated, "doc_id", "text", 3, word = true, 0.5).count()
    }
    report.metric("curate.dedup_ms", ms("curate.dedup") {
      pairs = Dedup.nearDupPairsNative(gated, "doc_id", "text", 3, word = true, 0.5).count()
    }, "ms")
    report.metric("dedup.candidate_pairs", cands.toDouble, "count")
    report.metric("dedup.verified_pairs", pairs.toDouble, "count")
    report.metric("dedup.verify_yield", pairs.toDouble / math.max(1L, cands), "ratio")
  }

  /** Last path component of the directory a write command targets. */
  private def writeTarget(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.getName
    }
}
