package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native first-match fold: ordered semantics, null paths, codegen
  * survival, and SQL registration. Every cdc_route* oracle row pins it
  * end to end (it is the fold inside `Routing.targetExpr`); these cases
  * pin the expression in isolation.
  */
class FirstMatchSpec extends SparkSpec {
  import spark.implicits._

  private def cands(rules: (Int, String, String)*) =
    array(rules.map { case (i, re, tgt) =>
      struct(lit(i).as("rule_idx"), lit(re).as("r_regex"), lit(tgt).as("r_target"))
    }: _*)

  test("lowest-index match wins; unanchored find; no match is NULL") {
    // Unanchored like Rust `Regex::is_match`: "table_42" CONTAINS
    // "table_4", so the first rule claims it too — only "table_7"
    // falls through to the second rule.
    val df = Seq("table_3", "table_42", "table_7", "other").toDF("tbl")
      .select(col("tbl"), FirstMatch(col("tbl"), cands(
        (0, "table_[0-4]", "low"), (1, "table_[0-9]+", "rest"))).as("t"))
    assert(df.as[(String, String)].collect().toSet ==
      Set(("table_3", "low"), ("table_42", "low"),
        ("table_7", "rest"), ("other", null)))
  }

  test("null table and null/absent regex candidates stay null-safe") {
    val df = Seq(Option("t_1"), None).toDF("tbl")
      .select(FirstMatch(col("tbl"),
        array(struct(lit(0), lit(null).cast("string"), lit("x")),
          struct(lit(1), lit("t_[0-9]"), lit("hit")))).as("t"))
    assert(df.as[Option[String]].collect().toSet == Set(Some("hit"), None))
  }

  test("uncompilable regex is defined as no-match, not a task kill") {
    // first_match is SQL-registered, so regexes can be data-borne: a
    // pattern that fails to compile must skip its rule (letting later
    // rules still claim the row) instead of throwing per row. The config
    // path still rejects bad regexes fail-fast at load (ConfigSpec).
    val df = Seq("table_3").toDF("tbl")
      .select(FirstMatch(col("tbl"), cands(
        (0, "[unclosed", "bad"), (1, "table_[0-9]", "good"))).as("t"))
    assert(df.as[String].head() == "good")
    // all rules invalid -> NULL, same as no-match
    val none = Seq("table_3").toDF("tbl")
      .select(FirstMatch(col("tbl"), cands((0, "(?<", "bad"))).as("t"))
    assert(none.as[Option[String]].head().isEmpty)
  }

  test("survives codegen with fallback disabled; SQL-registered") {
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val out = Seq("gsms_msg_ticket_sms_9").toDF("tbl")
        .select(FirstMatch(col("tbl"),
          cands((0, "gsms_msg_ticket_sms_[0-9]+", "t-gsms"))).as("t"))
        .as[String].head()
      assert(out == "t-gsms")
      GraftFunctions.register(spark)
      val viaSql = spark.sql(
        """SELECT first_match('table_2',
          |  array(struct(0, 'table_[0-4]', 'low'))) AS t""".stripMargin)
        .as[String].head()
      assert(viaSql == "low")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
