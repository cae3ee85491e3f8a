package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

private[graft] object ComboUtil {
  def toStrings(a: Any): Seq[String] = {
    val arr = a.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }
}

/** All n-combinations of an array<string>, as one nested array value
  * (reference: scala/.../expressions/ARC_Combinations.scala:10-52; cardinality pinned by
  * ARC_CombinationsBehaviors.scala:9-36 — C(4,2)=6).
  * Explode the result for the generator form (reference ARC_GenerateCombinations.scala:8-30).
  */
case class ArrayCombinations(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(ArrayType(StringType))
  override def nullSafeEval(n: Any, elements: Any): Any = {
    val k = n.asInstanceOf[Int]
    val els = ComboUtil.toStrings(elements)
    val combos = els.combinations(k).toSeq
    new GenericArrayData(combos.map(c =>
      new GenericArrayData(c.map(UTF8String.fromString).toArray[Any]): Any).toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayCombinations =
    copy(left = newLeft, right = newRight)
}

/** Extends one partial combination by every n-combination of the remaining elements
  * (`elements.diff(partial)`), sorting each result; when no extension is possible or
  * n < 1 the partial passes through unchanged
  * (reference: scala/.../expressions/ARC_GeneratePartialCombinations.scala:11-51;
  * pinned by ARC_GenerateCombinationsBehaviors.scala:45-92).
  */
case class PartialCombinations(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(ArrayType(StringType))
  override def nullSafeEval(n: Any, partial: Any, elements: Any): Any = {
    val out = PartialCombinations.extend(n.asInstanceOf[Int],
      ComboUtil.toStrings(partial), ComboUtil.toStrings(elements))
    new GenericArrayData(out.map(c =>
      new GenericArrayData(c.map(UTF8String.fromString).toArray[Any]): Any).toArray)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PartialCombinations =
    copy(first = f, second = s, third = t)
}

object PartialCombinations {
  def extend(k: Int, partial: Seq[String], elements: Seq[String]): Seq[Seq[String]] = {
    val remaining = elements.diff(partial)
    if (k < 1 || remaining.isEmpty) Seq(partial)
    else remaining.combinations(k).map(c => (partial ++ c).sorted).toSeq
  }
}

/** Renders a rule combination to the engine's blocking-rule SQL dialect:
  * `["a,b","c"]` → `"(l.a = r.a AND l.b = r.b) OR (l.c = r.c)"`
  * (reference: scala/.../expressions/ARC_ToSplinkRule.scala:9-28). The inverse lives in
  * [[graft.blocking.BlockingRule.parse]].
  */
case class ToSplinkRule(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = {
    val rules = ComboUtil.toStrings(input)
    UTF8String.fromString(ToSplinkRule.render(rules))
  }
  override protected def withNewChildInternal(newChild: Expression): ToSplinkRule =
    copy(child = newChild)
}

object ToSplinkRule {
  def render(ruleKeys: Seq[String]): String =
    ruleKeys
      .map { key =>
        val cols = key.split(",").map(_.trim).filter(_.nonEmpty)
        cols.map(c => s"l.$c = r.$c").mkString("(", " AND ", ")")
      }
      .mkString(" OR ")
}

/** Estimates the comparison-pair cost of OR-ing blocking rules from per-rule stats
  * `rule → (n, avg_k)`: one rule returns its `avg_k`; two or more returns
  * `Σ over unordered rule pairs of (n1·k2 + n2·k1 − k1·k2)`
  * (reference: scala/.../expressions/ARC_EstimateSquaredCountOR.scala:26-33).
  * Missing rules contribute (0, 0) — the reference throws on a missing key in the
  * multi-rule branch (ref :30-31) but defaults in the single-rule one (ref :24);
  * we resolve that asymmetry to the defaulting behavior.
  */
case class EstimateSquaredCountOR(child: Expression, stats: Map[String, (Long, Long)])
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val rules = ComboUtil.toStrings(input)
    EstimateSquaredCountOR.estimate(rules, stats)
  }
  override protected def withNewChildInternal(newChild: Expression): EstimateSquaredCountOR =
    copy(child = newChild)
}

object EstimateSquaredCountOR {
  def estimate(rules: Seq[String], stats: Map[String, (Long, Long)]): Long = {
    if (rules.length == 1) stats.getOrElse(rules.head, (0L, 0L))._2
    else {
      rules.combinations(2).map { pair =>
        val (n1, k1) = stats.getOrElse(pair(0), (0L, 0L))
        val (n2, k2) = stats.getOrElse(pair(1), (0L, 0L))
        n1 * k2 + n2 * k1 - k1 * k2
      }.sum
    }
  }
}
