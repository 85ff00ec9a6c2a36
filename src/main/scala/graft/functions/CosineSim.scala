package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two numeric-array embedding columns
  * (`array<float|double>`, elements widened to double like the built-in
  * composition).
  *
  * The composable form (`aggregate(zip_with(a, b, …))`, see
  * [[graft.ops.SimilarityQueries.cosine]]) materializes a zipped array
  * and evaluates a lambda per element; this expression is the
  * custom-`Expression` tier of the operator preference order — one fused
  * loop, codegen'd into the enclosing WholeStageCodegen stage, no
  * intermediate allocation. Semantics are identical: elements widened to
  * double, left-to-right accumulation, `dot / sqrt(|a|²) / sqrt(|b|²)`,
  * so results are bit-equal to the built-in composition and the DuckDB
  * oracle's `list_cosine_similarity(…::DOUBLE[])`.
  *
  * Registered as SQL function `cosine_sim` by [[graft.GraftSparkExtensions]].
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // array<float|double> per side, like the ArrayPairFold scaffold: the
  // built-in composition (zip_with lambda) widens any numeric element
  // to double, so a float-only gate here would reject inputs the
  // composition accepts — a double-array column (e.g. a trained
  // k-means centroid) would fail analysis instead of scoring.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  // element flavor resolved ONCE (post-analysis), not per element per row
  @transient private lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  // NULL contract matches the aggregate(zip_with(...)) composition this
  // expression replaces: unequal lengths (zip_with pads with null) or a
  // null element both yield NULL, never a number over a truncated zip.
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = ${if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"};
         |    final double $y = ${if (rightIsFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($na) / java.lang.Math.sqrt($nb);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
