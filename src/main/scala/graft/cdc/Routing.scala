package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Ordered first-match routing (reference R4 + R8,
  * `reference/src/config/transform.rs:26-65`, call site `kafka.rs:70-74`).
  *
  * A rule matches when `source_topic` and `db` equal exactly and the
  * pre-compiled `table` regex finds a match (unanchored, like Rust
  * `Regex::is_match`). Rule order is significant — the reference uses
  * `Iterator::find`, i.e. FIRST match wins — and a record matching no rule
  * is silently dropped (`kafka.rs:70` has no else branch).
  *
  * Spark-native form: the rule list is grouped ONCE on the driver into a
  * `map<topic, map<db, array<struct<rule_idx, regex, target>>>>` literal,
  * each group kept in declaration order. A row looks up its candidates
  * with two map accesses (null on a miss, also under ANSI mode), and the
  * native [[graft.functions.FirstMatch]] kernel folds them inside
  * whole-stage codegen against a per-executor cache of compiled patterns
  * — the reference's compile-at-config-load discipline
  * (`transform.rs:26-38`). Equalities are resolved before any regex
  * runs, so a row pays only the regexes of its own (topic, db) group,
  * mirroring `transform.rs:60-62`. The expression tree is the same size
  * for 0 rules and for 10,000, so there is no rule count at which
  * analysis or codegen stops working, and the one formulation serves the
  * batch and the streaming route alike.
  */
object Routing {

  /** One YAML rule (`reference/config.yaml`, `transform.rs:89-95`). */
  final case class TransformRule(
      sourceTopic: String, db: String, tableRegex: String, targetTopic: String)

  /** Fail-fast regex validation at config load, like `transform.rs:33`. */
  def validate(rules: Seq[TransformRule]): Seq[TransformRule] = {
    rules.foreach(r => java.util.regex.Pattern.compile(r.tableRegex))
    rules
  }

  /** The fixture rule set used by the verification queries. Covers: rule
    * overlap (r1 shadows r2 on tables 0-4 → first-match order observable),
    * a rule that never matches (r4, regex from the reference's own test,
    * `transform.rs:136-153`), and events matching no rule (silent drop).
    */
  val DefaultRules: Seq[TransformRule] = validate(Seq(
    TransformRule("flink-1", "db_0", "table_[0-4]",                 "t1-low"),
    TransformRule("flink-1", "db_0", "table_[0-9]+",                "t1-rest"),
    TransformRule("flink-2", "db_1", "table_(1|3|5|7|9)",           "t2-odd"),
    TransformRule("flink-2", "db_2", "gsms_msg_ticket_sms_[0-9]+",  "t-gsms")))

  /** Ordered first-match target-topic expression; null when no rule
    * matches. Validates the rules first, so a rule built in code with an
    * invalid regex fails here on the driver, naming the pattern.
    */
  def targetExpr(rules: Seq[TransformRule],
                 topic: Column, db: Column, table: Column): Column = {
    val groups: Map[String, Map[String, Seq[(Int, String, String)]]] =
      validate(rules).zipWithIndex
        .groupBy(_._1.sourceTopic).map { case (t, inTopic) =>
          t -> inTopic.groupBy(_._1.db).map { case (d, g) =>
            d -> g.sortBy(_._2).map { case (r, i) => (i, r.tableRegex, r.targetTopic) }
          }
        }
    val candidates = typedLit(groups).getItem(topic).getItem(db)
    graft.functions.FirstMatch(table, candidates)
  }

  private def sq(s: String): String = s.replace("'", "''")

  /** The [[targetExpr]] first-match policy as a DuckDB CASE expression
    * (oracle). Single quotes in rule strings are SQL-escaped (doubled).
    */
  def duckdbCase(rules: Seq[TransformRule],
                 topic: String, db: String, table: String): String =
    rules.map { r =>
      s"WHEN $topic = '${sq(r.sourceTopic)}' AND $db = '${sq(r.db)}' AND " +
        s"regexp_matches($table, '${sq(r.tableRegex)}') THEN '${sq(r.targetTopic)}'"
    }.mkString("CASE ", " ", " END")
}
