package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** `graft_ann_serve(q_emb, q_id)` → array<struct<cos, c_id>>: the
  * streaming ANN serving kernel. The int8 code index arrives as a
  * SPARK BROADCAST VARIABLE held by the expression — the plan carries
  * only the broadcast HANDLE (a few bytes); executors fetch the index
  * blocks once per JVM via the torrent protocol, exactly the
  * distribution a static serving index wants. The rejected alternative
  * (typedlit of the index) serializes the whole index INTO the plan:
  * at [[graft.streaming.Streams.AnnIndexCap]] = 2²⁰ codes × 64 ints
  * that is ~256 MB shipped with every task and re-parsed by codegen —
  * the plan-size assertion in the stream_ann spec pins it out.
  *
  * Scoring matches the batch ann_quantized plan bit-for-bit: the same
  * asymmetric float×int8 cosine as graft_cosine_i8
  * ([[CosineSimilarity]]; per-vector scale cancels, codes-only index),
  * the same HALF_UP round to 6 decimals BEFORE ranking (rounding can
  * create ties whose c_id tie-break differs from the unrounded order),
  * the same
  * (cos desc, c_id asc) order. Selection is a bounded insertion
  * top-k — O(index·dim) multiply-adds + O(k) per improving candidate,
  * never a full sort of the index.
  */
case class AnnServeExpr(left: Expression, right: Expression,
    index: Broadcast[AnnServe.Index], k: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), LongType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cos", DoubleType, nullable = false),
      StructField("c_id", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_ann_serve"

  override def nullSafeEval(a: Any, b: Any): Any =
    AnnServe.topK(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
      index.value, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle rides the codegen references array, NOT the
    // generated source — the index bytes never enter the plan
    val bcRef = ctx.addReferenceObj("annIndexBc", index,
      classOf[Broadcast[AnnServe.Index]].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.AnnServe.topK($a, $b,
         |  (graft.plans.AnnServe.Index) $bcRef.value(), $k);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AnnServeExpr =
    copy(left = newLeft, right = newRight)
}

object AnnServe {

  /** Flat primitive serving index: entry e's codes live at
    * codes[e·dim ..< (e+1)·dim] — one long[] + one int[], no per-entry
    * boxing, the layout an executor-resident index wants.
    */
  final case class Index(ids: Array[Long], codes: Array[Int], dim: Int) {
    require(ids.length.toLong * dim == codes.length,
      s"ragged index: ${ids.length} ids × $dim dims != ${codes.length} codes")
  }

  /** Spark Round(HALF_UP, 6) on a double — the batch plan's exact
    * rounding, so streamed scores hash-match the batch operator's.
    */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def topK(q: ArrayData, qId: Long, idx: Index, k: Int): ArrayData = {
    val x = q.toFloatArray()
    val topCos = new Array[Double](k)
    val topId = new Array[Long](k)
    var hn = 0
    if (idx.dim == x.length) {
      var nq = 0.0
      var i = 0
      while (i < x.length) { nq += x(i).toDouble * x(i); i += 1 }
      nq = math.sqrt(nq)
      val n = idx.ids.length
      var e = 0
      while (e < n) {
        val cid = idx.ids(e)
        if (cid != qId) {
          var dot = 0.0
          var nc = 0.0
          var j = 0
          val base = e * idx.dim
          while (j < idx.dim) {
            val xj = x(j).toDouble
            val yj = idx.codes(base + j).toDouble
            dot += xj * yj
            nc += yj * yj
            j += 1
          }
          val cos = round6(dot / (nq * math.sqrt(nc)))
          // admit iff better than the current worst under
          // (cos desc, c_id asc); insertion keeps the array sorted
          if (hn < k || cos > topCos(hn - 1) ||
              (cos == topCos(hn - 1) && cid < topId(hn - 1))) {
            var p = if (hn < k) hn else hn - 1
            while (p > 0 && (cos > topCos(p - 1) ||
                (cos == topCos(p - 1) && cid < topId(p - 1)))) {
              topCos(p) = topCos(p - 1)
              topId(p) = topId(p - 1)
              p -= 1
            }
            topCos(p) = cos
            topId(p) = cid
            if (hn < k) hn += 1
          }
        }
        e += 1
      }
    }
    val rows = new Array[Any](hn)
    var r = 0
    while (r < hn) {
      rows(r) = new GenericInternalRow(Array[Any](topCos(r), topId(r)))
      r += 1
    }
    new GenericArrayData(rows)
  }
}
