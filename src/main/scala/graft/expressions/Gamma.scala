package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A constant that generated code reads from the plan's reference array instead of
  * inlining it. Two plans that differ only in such constants generate the same Java
  * source, so Spark's codegen cache compiles it once for both. Use it for per-call
  * parameters (thresholds, priors, column indices) on hot plans that run with many
  * different values; a [[Literal]] inlines the value into the source.
  *
  * Not foldable, so the optimizer keeps it in place rather than folding it into a
  * literal. Never null.
  */
case class RefLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "RefLiteral value must not be null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def sql: String = Literal(value, dataType).sql
  override def toString: String = s"ref($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"", isNull = FalseLiteral,
      value = JavaCode.expression(read, dataType))
  }
}

object RefLiteral {
  /** A Scala value as a [[RefLiteral]], typed as [[Literal]] would type it. */
  def of(v: Any): RefLiteral = {
    val l = Literal(v)
    RefLiteral(l.value, l.dataType)
  }
}

/** The J2 gamma level of one comparison (Splink 3.x semantics; the reference builds
  * these via `cl.levenshtein_at_thresholds` etc., autolinker.py:452-457):
  * −1 either side null; 2 exact equality; 1 similarity within `threshold`
  * (Levenshtein distance ≤ t, character-set Jaccard ≥ t, Jaro-Winkler ≥ t); 0
  * otherwise.
  *
  * The metric and the threshold reach generated code by reference
  * ([[RefLiteral]]'s mechanism), so every gamma column generates the same Java
  * whatever its metric and threshold: a search that scores many trials with
  * different comparison settings compiles its plans once. The ladder itself is
  * [[Gamma.level]], shared by interpreted and generated evaluation.
  */
case class Gamma(left: Expression, right: Expression, metric: String, threshold: Double)
  extends BinaryExpression with ExpectsInputTypes {
  private val kind = Gamma.Metrics.indexOf(metric)
  require(kind >= 0, s"unknown metric $metric")
  require(metric != "levenshtein" || threshold.toInt >= 0,
    s"threshold must be >= 0, got ${threshold.toInt}")

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    Gamma.level(kind, threshold, left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val kindRef = ctx.addReferenceObj("gammaMetric", Integer.valueOf(kind), "java.lang.Integer")
    val tRef = ctx.addReferenceObj("gammaThreshold", java.lang.Double.valueOf(threshold),
      "java.lang.Double")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      int ${ev.value} = graft.expressions.Gamma.level($kindRef.intValue(),
        $tRef.doubleValue(), ${l.isNull} ? null : ${l.value},
        ${r.isNull} ? null : ${r.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Gamma =
    copy(left = newLeft, right = newRight)
}

object Gamma {
  /** The metric names, indexed by the code [[level]] takes. */
  val Metrics: Seq[String] = Seq("levenshtein", "jaccard", "jaro_winkler")

  /** The gamma ladder for metric code `kind` (an index into [[Metrics]]). */
  def level(kind: Int, threshold: Double, l: UTF8String, r: UTF8String): Int =
    if (l == null || r == null) -1
    else if (l.equals(r)) 2
    else {
      val a = l.toString
      val b = r.toString
      val within = kind match {
        // banded DP, −1 beyond the threshold: `>= 0` ≡ `distance <= t`
        case 0 => BoundedLevenshtein.within(a, b, threshold.toInt) >= 0
        case 1 => CharSetJaccard.similarity(a, b) >= threshold
        case _ => JaroWinkler.similarity(a, b) >= threshold
      }
      if (within) 1 else 0
    }
}
