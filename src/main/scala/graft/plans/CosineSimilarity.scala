package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expression: cosine similarity of a float vector and
  * a float vector (`graft_cosine`) or int8-quantized codes held as
  * ints (`graft_cosine_i8`); the second child's type picks which.
  *
  * The hot-path scalar of the ANN operators (SURVEY.md §2). A single
  * fused loop computes dot product and both norms in one pass, and
  * `doGenCode` emits straight-line Java that stays inside whole-stage
  * codegen — no lambda-function interpretation per element like the
  * `aggregate(zip_with(...))` composition it replaces. Accumulation is
  * left-to-right in double, bit-identical to the HOF formulation (and
  * the DuckDB oracle).
  *
  * The int8 form is the ANN serving-path scalar at 100 TB: candidates
  * live as int8 codes (4× smaller than float32, see embed_quantize),
  * queries stay float. The reconstructed candidate is ĉ = scale·codes,
  * but a per-vector symmetric scale CANCELS in cosine —
  * cos(q, ĉ) = Σqᵢ·s·cᵢ / (|q|·s·|c|) = cos(q, c) — so the kernel
  * ranks on the raw codes and never touches the scale column: the
  * serving index is codes-only, and the only loss vs the float path is
  * quantization rounding (|Δcos| ≤ ~dim·(s/2)·|q|∞ / norms, tiny at
  * int8 resolution).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  @transient private lazy val int8: Boolean = right.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(if (int8) IntegerType else FloatType))

  override def dataType: DataType = DoubleType
  // NULL on a length mismatch even for non-null inputs
  override def nullable: Boolean = true

  override def prettyName: String =
    if (right.resolved && int8) "graft_cosine_i8" else "graft_cosine"

  // Length mismatch → NULL, matching zip_with's null-padding semantics
  // (and the DuckDB oracle) instead of silently truncating: a corrupt
  // short vector or code array must not win a top-k slot with a
  // plausible score.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val bs = b.asInstanceOf[ArrayData]
    val y = if (int8) bs.toIntArray().map(_.toDouble) else bs.toFloatArray().map(_.toDouble)
    if (x.length != y.length) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble
      val yi = y(i)
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
      val (yType, toY) = if (int8) ("int[]", "toIntArray") else ("float[]", "toFloatArray")
      s"""
        float[] $x = $a.toFloatArray();
        $yType $y = $b.$toY();
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
