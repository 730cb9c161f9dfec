package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `ArrayType(FloatType)`
  * columns — the hot-path kernel of the similarity operators
  * (graft.llm.Similarity).
  *
  * Why a custom Catalyst expression (SURVEY.md §7.3 tier (b)): the
  * composable form `aggregate(zip_with(a, b, *), 0, +) / (norm · norm)`
  * allocates an intermediate array per row and evaluates three lambda
  * chains per pair; at 100 TB-scale similarity joins the pairwise score is
  * evaluated billions of times. This expression is one fused loop inside
  * whole-stage codegen: no allocation, no virtual calls, three running
  * sums in registers.
  *
  * Arithmetic order is IDENTICAL to the composable form (sequential fold
  * over elements; norms over each full array) so swapping it in changes
  * no result bit — asserted by PlanSpec against the lambda form. A null
  * ELEMENT in either array yields a null result, exactly as the lambda
  * form's null-propagating arithmetic does — not a silent 0.0 term (the
  * null-element branch is only emitted when the array type says
  * containsNull, so null-free schemas keep the tight loops).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })
  override def nullable: Boolean = super.nullable || elemNullable

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    while (i < x.numElements()) { if (x.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < y.numElements()) { if (y.isNullAt(i)) return null; i += 1 }
    val nd = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    i = 0
    while (i < nd) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    var nx = 0.0
    i = 0
    while (i < x.numElements()) { val v = x.getFloat(i).toDouble; nx += v * v; i += 1 }
    var ny = 0.0
    i = 0
    while (i < y.numElements()) { val v = y.getFloat(i).toDouble; ny += v * v; i += 1 }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val nd = ctx.freshName("nd")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val v = ctx.freshName("v")
      val nullCheck =
        if (elemNullable)
          s"""for (int $i = 0; $i < $a.numElements() && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i)) ${ev.isNull} = true;
             |}
             |for (int $i = 0; $i < $b.numElements() && !${ev.isNull}; $i++) {
             |  if ($b.isNullAt($i)) ${ev.isNull} = true;
             |}
             |if (!${ev.isNull}) {""".stripMargin
        else ""
      val nullCheckClose = if (elemNullable) "}" else ""
      s"""
        |$nullCheck
        |int $nd = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0;
        |for (int $i = 0; $i < $nd; $i++) {
        |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        |}
        |double $nx = 0.0;
        |for (int $i = 0; $i < $a.numElements(); $i++) {
        |  double $v = (double) $a.getFloat($i); $nx += $v * $v;
        |}
        |double $ny = 0.0;
        |for (int $i = 0; $i < $b.numElements(); $i++) {
        |  double $v = (double) $b.getFloat($i); $ny += $v * $v;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
        |$nullCheckClose
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
