package graft.cdc

import org.scalacheck.{Gen, Prop, Properties}
import graft.TestSpark
import graft.cdc.Routing.TransformRule

/** Property-based invariants (SURVEY.md §5.2), run by ScalaCheck's
  * native sbt runner: the routed output is a subset of the input,
  * contains no deletes, and every row's target is exactly what a direct
  * re-implementation of the reference's `search_topic`
  * (`transform.rs:52-65`) computes — for drawn rule lists as well as
  * drawn rows, including the degenerate empty and 1,000-rule lists.
  */
object RoutingPropsSpec extends Properties("Routing") {
  private lazy val spark = TestSpark.spark

  // Each trial runs Spark jobs; 15 well-generated trials beat 100 slow ones.
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(15)

  private type Row4 = (String, String, String, String) // topic, db, tbl, op

  /** Direct Scala port of the reference's first-match lookup. */
  private def searchTopic(compiled: Seq[(TransformRule, scala.util.matching.Regex)],
                          topic: String, db: String, table: String): Option[String] =
    compiled.collectFirst {
      case (r, rx) if r.sourceTopic == topic && r.db == db && table != null &&
        rx.findFirstIn(table).isDefined => r.targetTopic
    }

  private val groups = for {
    t <- Seq("flink-1", "flink-2", "flink-3"); d <- Seq("db_0", "db_1", "db_2")
  } yield (t, d)

  private val genRegex: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf("table_[0-4]", "table_[0-9]+", "table_(1|3|5|7|9)",
      "gsms_msg_ticket_sms_[0-9]+", "table_.*", "t\\|able"),
    3 -> Gen.choose(0, 999).map(n => s"^table_$n$$"))

  /** `n` rules, each with a distinct target so first-match order shows;
    * rule i draws its (topic, db) from `pool(i)`.
    */
  private def genRules(n: Int, pool: Int => Gen[(String, String)]): Gen[List[TransformRule]] =
    Gen.sequence[List[TransformRule], TransformRule]((0 until n).map { i =>
      for { g <- pool(i); re <- genRegex } yield TransformRule(g._1, g._2, re, s"t-$i")
    })

  private def anyGroup(i: Int) = Gen.oneOf(groups)

  private val interleaved = Seq(("flink-1", "db_0"), ("flink-2", "db_1"))

  private val genRuleList: Gen[List[TransformRule]] = Gen.oneOf(
    Gen.const(Nil),
    genRules(1, anyGroup),
    // two (topic, db) groups alternating: every group has duplicates and
    // its rules are interleaved with the other group's
    Gen.choose(4, 12).flatMap(genRules(_, i => Gen.const(interleaved(i % 2)))),
    Gen.choose(300, 1000).flatMap(genRules(_, anyGroup)))

  private val genRow: Gen[Row4] = for {
    topic <- Gen.oneOf("flink-1", "flink-2", "flink-3", "flink-9")
    db <- Gen.frequency(
      8 -> Gen.oneOf("db_0", "db_1", "db_2", "db_9"), 1 -> Gen.const(null: String))
    tbl <- Gen.frequency(
      4 -> Gen.choose(0, 999).map(n => s"table_$n"),
      2 -> Gen.oneOf("other", "gsms_msg_ticket_sms_12", "gsms_msg_ticket_sms_", "t|able"),
      1 -> Gen.alphaNumStr.map("table_" + _),
      // adversarial regex metacharacters in table names
      1 -> Gen.oneOf("table_[0-4]", "table_.*", "ta(ble", "table_\\d"),
      1 -> Gen.const(null: String))
    op <- Gen.oneOf("c", "u", "d", "r", "x")
  } yield (topic, db, tbl, op)

  private val genRows = Gen.listOfN(60, genRow)

  /** `Pipeline.routeParsed` emits exactly one (key, value, target) per
    * non-delete row `searchTopic` routes, and nothing else. Keys repeat
    * (shared Kafka keys are routine in CDC); values are unique.
    */
  private def routesLikeSearchTopic(rules: Seq[TransformRule], rows: List[Row4]): Boolean = {
    import spark.implicits._
    val df = rows.zipWithIndex
      .map { case ((t, d, tb, op), i) => (t, s"k${i % 7}", s"v$i", op, d, tb) }
      .toDF("topic", "key", "value", "op", "db", "tbl")
    val routed = Pipeline.routeParsed(df, rules)
      .select("key", "value", "target_topic")
      .as[(String, String, String)].collect()

    val compiled = rules.map(r => (r, r.tableRegex.r))
    val expected = rows.zipWithIndex.flatMap { case ((t, d, tb, op), i) =>
      if (op == "d") None
      else searchTopic(compiled, t, d, tb).map(target => (s"k${i % 7}", s"v$i", target))
    }.toSet

    routed.toSet == expected && routed.length == expected.size
  }

  property("route = reference search_topic; no deletes; no dup records") =
    Prop.forAllNoShrink(genRuleList, genRows)(routesLikeSearchTopic)

  property("empty and 1,000-rule lists route like search_topic") =
    Prop.forAllNoShrink(genRules(1000, anyGroup), genRows) { (big, rows) =>
      routesLikeSearchTopic(Nil, rows) && routesLikeSearchTopic(big, rows)
    }
}
