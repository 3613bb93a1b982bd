package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ordered first-match regex routing over a candidate array:
  * `first_match(table, candidates) → target_topic | NULL`, where
  * `candidates` is the per-(topic, db) array of `(rule_idx, regex,
  * target)` structs [[graft.cdc.Routing.targetExpr]] looks up in its
  * rule-map literal (reference semantics `transform.rs:52-65` — the
  * first candidate that matches wins, no match → NULL).
  *
  * This replaces the last hot-path Scala UDF (the round-5 "documented
  * exception to the no-UDF rule"): a UDF pays per-row serialization to
  * JVM objects (`Seq[Row]`) and splits whole-stage codegen at the
  * projection. As a native expression the fold runs on the unsafe array
  * directly — no row materialization — and `doGenCode` keeps the route
  * in one codegen span. The candidate regexes are array ELEMENTS, not
  * foldable pattern literals, so Catalyst's `RLike` pattern caching does
  * not apply; compiled patterns come from a bounded per-executor cache
  * instead: one compile per distinct pattern per executor, exactly the
  * reference's compile-at-config-load discipline.
  */
case class FirstMatch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(s: StructType, _))
          if s.length >= 3 && s(1).dataType == StringType &&
            s(2).dataType == StringType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "first_match requires (string, array<struct<idx, regex: string, " +
          s"target: string>>), got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def prettyName: String = "first_match"

  override def nullSafeEval(tbl: Any, cands: Any): Any =
    FirstMatchImpl.eval(tbl.asInstanceOf[UTF8String],
      cands.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => s"""
       |${ev.value} = graft.functions.FirstMatchImpl.eval($t, $c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstMatch =
    copy(left = newLeft, right = newRight)
}

object FirstMatch {
  def apply(table: Column, candidates: Column): Column =
    GraftBridge.column(FirstMatch(
      GraftBridge.expression(table), GraftBridge.expression(candidates)))
}

/** Static kernel. On the rules-as-config path the pattern cache holds one
  * entry per DISTINCT rule regex (config-sized, validated fail-fast at
  * load). But `first_match` is also SQL-registered, so candidates can be
  * data-borne: the cache is therefore hard-capped, and a regex that fails
  * to compile is DEFINED as matching nothing (the rule is skipped, the
  * fold continues) rather than letting `PatternSyntaxException` kill the
  * task row-by-row. Config-load validation still surfaces bad rule
  * regexes eagerly; this only governs the raw SQL surface.
  */
object FirstMatchImpl {

  /** Cap on cached compiled patterns per executor JVM. Rule sets are
    * orders of magnitude smaller; the cap only bites when adversarial
    * data-borne regexes would otherwise grow the map without bound. Past
    * the cap, unseen patterns compile per call (correct, slower) instead
    * of evicting hot entries.
    */
  private val MaxCached = 4096

  /** Cached verdict for a regex that does not compile. */
  private val Invalid: AnyRef = new Object

  private val patterns =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def compiled(regex: String): AnyRef = {
    val hit = patterns.get(regex)
    if (hit != null) return hit
    val v: AnyRef =
      try java.util.regex.Pattern.compile(regex)
      catch { case _: java.util.regex.PatternSyntaxException => Invalid }
    if (patterns.size < MaxCached) patterns.putIfAbsent(regex, v)
    v
  }

  def eval(tbl: UTF8String, cands: ArrayData): UTF8String = {
    if (tbl == null || cands == null) return null
    val t = tbl.toString
    val n = cands.numElements()
    var i = 0
    while (i < n) {
      if (!cands.isNullAt(i)) {
        val c = cands.getStruct(i, 3)
        val p = if (c.isNullAt(1)) null else c.getUTF8String(1)
        if (p != null) {
          compiled(p.toString) match {
            case pat: java.util.regex.Pattern if pat.matcher(t).find() =>
              return if (c.isNullAt(2)) null else c.getUTF8String(2)
            case _ => () // no match, or uncompilable regex: skip this rule
          }
        }
      }
      i += 1
    }
    null
  }
}
