package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * The hot-path scalar of the ANN operators (SURVEY.md §2). A single
  * fused loop computes dot product and both norms in one pass, and
  * `doGenCode` emits straight-line Java that stays inside whole-stage
  * codegen — no lambda-function interpretation per element like the
  * `aggregate(zip_with(...))` composition it replaces. Accumulation is
  * left-to-right in double, bit-identical to the HOF formulation (and
  * the DuckDB oracle).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  // Length mismatch → NULL, matching zip_with's null-padding semantics
  // (and the DuckDB oracle) instead of silently truncating: a corrupt
  // short vector must not win a top-k slot with a plausible score.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
        float[] $x = $a.toFloatArray();
        float[] $y = $b.toFloatArray();
        if ($x.length != $y.length) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          int $n = $x.length;
          for (int $i = 0; $i < $n; $i++) {
            double xi = (double) $x[$i];
            double yi = (double) $y[$i];
            $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
