package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the extraction engine (SURVEY §4.2:
  * preference (b) — custom `Expression` over UDF): the whole per-row
  * pipeline and the repetition truncator as SQL-callable functions.
  * CodegenFallback is appropriate here: the work per row is large enough
  * that codegen of the call site is irrelevant, while `Expression`
  * (vs a Scala UDF) avoids Encoder round-trips and keeps null semantics
  * in the optimizer's view.
  */
case class ExtractMarkdown(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"extract_markdown requires BINARY input, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    UTF8String.fromString(graft.extract.Extractor.extract("", bytes).markdown)
  }
  override protected def withNewChildInternal(newChild: Expression): ExtractMarkdown =
    copy(child = newChild)
  override def prettyName: String = "extract_markdown"
}

/** W5 truncate_repetitions as a scalar string function. */
case class TruncateRepetitions(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"truncate_repetitions requires STRING input, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.post.Postprocess.truncateRepetitions(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): TruncateRepetitions =
    copy(child = newChild)
  override def prettyName: String = "truncate_repetitions"
}

/** round6(a·b / (an·bn)): the cosine of two float vectors given their L2
  * norms, as the DuckDB oracles compute it — each element widened
  * float→double, the dot product folded left to right, the quotient
  * rounded HALF_UP to 6 decimals (the BigDecimal path Spark's `round`
  * takes on doubles). Reads the arrays in place: no encoder round-trip,
  * no interpreted higher-order fold. CodegenFallback keeps generated
  * code free of references to this class's members, which Janino cannot
  * resolve under sbt's layered classloader.
  */
case class Cos6(a: Expression, b: Expression, an: Expression, bn: Expression)
    extends QuaternaryExpression with ExpectsInputTypes with CodegenFallback {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = an
  override def fourth: Expression = bn
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(x: Any, y: Any, xn: Any, yn: Any): Any = {
    val u = x.asInstanceOf[ArrayData]
    val v = y.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < u.numElements()) { s += u.getFloat(i).toDouble * v.getFloat(i).toDouble; i += 1 }
    java.math.BigDecimal.valueOf(s / (xn.asInstanceOf[Double] * yn.asInstanceOf[Double]))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
  override protected def withNewChildrenInternal(newA: Expression, newB: Expression,
      newAn: Expression, newBn: Expression): Cos6 = copy(newA, newB, newAn, newBn)
}

/** round6(Σ (aᵢ − bᵢ)²): the squared L2 distance of two double vectors
  * as the DuckDB oracles compute it — the sum folded left to right over
  * `a`'s length, rounded HALF_UP to 6 decimals like [[Cos6]]. An
  * `array<float>` argument is widened by an implicit cast, which is
  * exact. Reads the arrays in place; CodegenFallback for the same
  * reason as [[Cos6]].
  */
case class SqDist6(a: Expression, b: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def left: Expression = a
  override def right: Expression = b
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(x: Any, y: Any): Any = {
    val u = x.asInstanceOf[ArrayData]
    val v = y.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < u.numElements()) { val d = u.getDouble(i) - v.getDouble(i); s += d * d; i += 1 }
    java.math.BigDecimal.valueOf(s).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
  override protected def withNewChildrenInternal(newA: Expression, newB: Expression): SqDist6 =
    copy(newA, newB)
}

object GraftFunctions {
  /** [[Cos6]] as a Column: `cos6(a, b, ‖a‖, ‖b‖)`. */
  def cos6(a: Column, b: Column, an: Column, bn: Column): Column =
    ExpressionColumn(Cos6(expression(a), expression(b), expression(an), expression(bn)))

  /** [[SqDist6]] as a Column: `sqDist6(a, b)`. */
  def sqDist6(a: Column, b: Column): Column =
    ExpressionColumn(SqDist6(expression(a), expression(b)))

  private def unary(name: String, mk: Expression => Expression)(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${exprs.length}")
    mk(exprs.head)
  }

  /** Idempotent session registration of the SQL surface. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("extract_markdown",
      unary("extract_markdown", ExtractMarkdown(_)), "built-in")
    reg.createOrReplaceTempFunction("truncate_repetitions",
      unary("truncate_repetitions", TruncateRepetitions(_)), "built-in")
  }
}
