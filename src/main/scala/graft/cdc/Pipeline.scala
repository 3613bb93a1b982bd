package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's one hardwired dataflow, composed Spark-first
  * (`reference/src/mq/kafka.rs:48-109`: R1 source → R2 parse → R6 counter →
  * R3 filter → R4 route → R7 counter → R5 sink).
  *
  * Physical profile: a single narrow WholeStageCodegen stage — scan →
  * `from_json` projection → blocklist filter → literal-map first-match
  * route → null-drop → projection. No shuffle, no sort, no state. At
  * 100 TB this pipeline is embarrassingly parallel: throughput scales
  * linearly with input partitions (Kafka partitions / parquet splits),
  * which is exactly how the single-node reference would be scaled out.
  *
  * The label-counter analogues (R6/R7) are `groupBy().count()` side
  * aggregations — the only shuffles — kept OUT of the forwarding hot path
  * (SURVEY.md §7.6.7), plus shuffle-free `observe()` totals on the main
  * stream.
  */
object Pipeline {
  import Routing.TransformRule

  /** The forwarding core: drop deletes → route → silent-drop no-matches,
    * emitting `target_topic` plus `keep`, expressed as a 0-or-1 `explode`
    * generator instead of Filters over the derived column.
    *
    * Semantically identical to `filter(op =!= "d").withColumn(target)
    * .filter(target.isNotNull)`; physically crucial: Catalyst pushes each
    * Filter through the parse projection by INLINING the aliased
    * expressions into the predicate, so the filter formulation re-runs the
    * envelope decode (and the routing fold) once per predicate
    * occurrence — ten decode sites in the optimized plan, measured 3×
    * slower on the forwarding hot path. A generator's condition is
    * evaluated once per row, emits 0 or 1 rows in place, and leaves no
    * Filter node for the optimizer to relocate; the stage stays a single
    * WholeStageCodegen pass. (`array_compact` would read nicer but is
    * RuntimeReplaceable into an interpreted higher-order filter, which
    * drops the projection out of codegen — measured right back at 3×.)
    *
    * The routing expression ([[Routing.targetExpr]]: candidate lookup +
    * native `first_match`) is computed ONCE, in its own projection the
    * generator consumes as a plain attribute. The naive
    * `when(cond && target.isNotNull, array(target))` duplicates the
    * fold inside the generator (condition + value), and GenerateExec
    * codegen has no subexpression elimination — plan inspection showed
    * every regex site twice, i.e. forwarded rows paid the fold 2×. The
    * delete check folds INTO the projected target (`WHEN op <> 'd'
    * THEN first_match(...)`), so deletes short-circuit to NULL
    * without touching a regex and the generator's only predicate is one
    * null probe. CollapseProject leaves the alias alone (multi-referenced,
    * non-cheap), and Project + Generate fuse into the same
    * WholeStageCodegen span, so the extra projection is free.
    */
  private def forward(parsed: DataFrame, rules: Seq[TransformRule],
                      keep: Seq[String]): DataFrame = {
    val target = when(col("op") =!= lit("d"),
      Routing.targetExpr(rules, col("topic"), col("db"), col("tbl")))
    parsed
      .select(keep.map(col) :+ target.as("_route_target"): _*)
      .select(keep.map(col) :+
        explode(when(col("_route_target").isNotNull,
          array(col("_route_target")))
          .otherwise(array().cast("array<string>"))).as("target_topic"): _*)
      .select(("target_topic" +: keep).map(col): _*)
  }

  /** parse → drop deletes → route → silent-drop no-matches →
    * (target_topic, key, value). The `value` column is the original input
    * bytes, untouched (byte-passthrough, `kafka.rs:80-82`).
    */
  def route(raw: DataFrame,
            rules: Seq[TransformRule] = Routing.DefaultRules): DataFrame =
    forward(Parse.parse(raw), rules, Seq("key", "value"))

  /** [[route]] over an ALREADY-DECODED stream: non-JSON input tiers
    * (the E315 Confluent-Avro lane) run their own envelope decode and
    * reuse the identical delete-filter + first-match-route + silent-
    * drop forward tail. `parsed` needs (topic, db, tbl, op) plus the
    * `keep` columns; `keep` defaults to the R5 passthrough pair.
    */
  def routeParsed(parsed: DataFrame,
                  rules: Seq[TransformRule] = Routing.DefaultRules,
                  keep: Seq[String] = Seq("key", "value")): DataFrame =
    forward(parsed, rules, keep)

  /** Typed facade over [[route]]: `Dataset[RawRecord] →
    * Dataset[RoutedRecord]` (SURVEY.md §1.5). The encoder boundary is
    * free — `.as[T]` only re-tags the schema; the plan underneath is
    * the same single codegen stage, so the typed API costs nothing at
    * 100 TB. Use it where compile-time column safety matters (library
    * consumers composing further typed transforms); the DataFrame form
    * remains the engine-internal default.
    */
  def routeTyped(raw: org.apache.spark.sql.Dataset[CdcSchema.RawRecord],
                 rules: Seq[TransformRule] = Routing.DefaultRules)
      : org.apache.spark.sql.Dataset[CdcSchema.RoutedRecord] = {
    val spark = raw.sparkSession
    import spark.implicits._
    route(raw.toDF(), rules).as[CdcSchema.RoutedRecord]
  }

  /** R6 analogue: consumed-event counts by (topic, db, tbl, op) — the
    * `flink_cdc_event_count` family (`reference/src/mq/mod.rs:55-59,91-100`),
    * incremented pre-filter (`kafka.rs:56-61`).
    */
  def eventCounts(raw: DataFrame): DataFrame =
    Parse.parse(raw)
      .groupBy(col("topic"), col("db"), col("tbl"), col("op"))
      .agg(count(lit(1)).as("n"))

  /** R7 analogue: forwarded-event counts by (target_topic, op) — the
    * `flink_kafka_filter_transform_count` family (`mq/mod.rs:82-89`,
    * incremented post-filter/route at `kafka.rs:75-78`).
    */
  def forwardedCounts(raw: DataFrame,
                      rules: Seq[TransformRule] = Routing.DefaultRules): DataFrame =
    forward(Parse.parse(raw), rules, Seq("op"))
      .groupBy(col("target_topic"), col("op")).agg(count(lit(1)).as("n"))

  /** The R6-family consumed-side metric columns (pre-filter). */
  def consumedMetrics: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("events_total"),
    count(when(col("_malformed"), 1)).as("parse_errors"))

  /** The R7-family forwarded-side metric column (post-route). */
  def forwardedMetrics: Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("forwarded_total"))

  /** The forwarding pipeline with caller-supplied observation hooks
    * wrapped around the consumed (post-parse) and forwarded
    * (post-route) points — the ONE definition both the batch
    * Observation runner ([[routeObservedRun]]) and the streaming
    * listener surface (`StreamingPipeline.routeObserved`) instrument,
    * so their metrics can never drift apart.
    */
  def routeInstrumented(raw: DataFrame, rules: Seq[TransformRule])(
      observeConsumed: DataFrame => DataFrame,
      observeForwarded: DataFrame => DataFrame): DataFrame = {
    val parsed = observeConsumed(Parse.parse(raw))
    observeForwarded(forward(parsed, rules, Seq("key", "value")))
  }

  /** Shuffle-free observed totals on the forwarding path — the `observe()`
    * analogue of the reference's monotonic counters (`mq/mod.rs:55-101`) and
    * its `/metrics` endpoint (`main.rs:44-55`). The counters are accumulated
    * *inside* the forwarding pass (no second scan, no shuffle) and read back
    * from the [[org.apache.spark.sql.Observation]] handles once the action
    * completes — in streaming the same `observe` columns surface per-batch
    * via `StreamingQueryListener`.
    *
    * @return ((events_total, parse_errors), forwarded_total)
    */
  def routeObservedRun(raw: DataFrame,
                       rules: Seq[TransformRule] = Routing.DefaultRules): ((Long, Long), Long) = {
    val consumed = org.apache.spark.sql.Observation()
    val forwarded = org.apache.spark.sql.Observation()
    val routed = routeInstrumented(raw, rules)(
      _.observe(consumed, consumedMetrics.head, consumedMetrics.tail: _*),
      _.observe(forwarded, forwardedMetrics.head, forwardedMetrics.tail: _*))
    routed.write.format("noop").mode("overwrite").save()
    val c = consumed.get
    ((c("events_total").asInstanceOf[Long], c("parse_errors").asInstanceOf[Long]),
      forwarded.get("forwarded_total").asInstanceOf[Long])
  }
}
