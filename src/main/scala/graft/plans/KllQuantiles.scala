package graft.plans

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable quantile sketches for fleet-stats at scale (the
  * profile_sketch move applied to quantiles): Spark's exact
  * `percentile` buffers a (value → count) map per group — O(DISTINCT
  * values), fine on the bounded cents domain score_stats pins, wrong
  * as the ONLY mode for an unbounded one. The KLL sketch (Karnin,
  * Lang, Liberty, FOCS 2016; the Apache DataSketches implementation
  * already on the classpath for HLL) keeps a constant ~O(k·log(n/k))
  * buffer per group, merges associatively (map-side partial combine,
  * stream state stores, cross-shard rollups) and guarantees normalized
  * RANK error ≈ 1.65 % at the default k = 200 with 99 % confidence —
  * the estimate's rank is within ε of the target rank, regardless of
  * the value distribution.
  *
  * `graft_kll_agg(x)` → binary sketch; `graft_kll_merge(bin)` unions
  * pre-built sketches (shard → fleet rollup) — both [[SketchAggExpr]]
  * over the [[KllQuantiles]] family. Compaction draws random bits (the
  * published algorithm's coin), so two builds of the same data may
  * differ structurally while both honoring the rank-error bound —
  * specs assert the bound, not bit-equality.
  *
  * `graft_kll_quantile(bin, q)` → the INCLUSIVE quantile estimate at
  * normalized rank q ∈ [0, 1]; with `rank`, `graft_kll_rank(bin, v)` →
  * the estimated normalized rank of value v (INCLUSIVE), its inverse.
  * Both null on an empty sketch.
  */
case class KllReadExpr(left: Expression, right: Expression, rank: Boolean)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = if (rank) "graft_kll_rank" else "graft_kll_quantile"

  override def nullSafeEval(bin: Any, x: Any): Any = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(bin.asInstanceOf[Array[Byte]]))
    val d = x.asInstanceOf[Double]
    if (sk.isEmpty) null else if (rank) sk.getRank(d) else sk.getQuantile(d)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllReadExpr =
    copy(left = newLeft, right = newRight)
}

/** The KLL family of [[SketchAggExpr]]: k is the sketch size. */
object KllQuantiles extends SketchFamily[KllDoublesSketch] {
  /** Default sketch size parameter: ~1.65 % normalized rank error. */
  val DefaultK = 200

  def name: String = "kll"
  def create(k: Int): KllDoublesSketch = KllDoublesSketch.newHeapInstance(k)
  def add(sk: KllDoublesSketch, v: Any): Unit = sk.update(v.asInstanceOf[Double])
  def combine(sk: KllDoublesSketch, other: KllDoublesSketch): Unit = sk.merge(other)
  def toBytes(sk: KllDoublesSketch): Array[Byte] = sk.toByteArray
  def fromBytes(b: Array[Byte], k: Int): KllDoublesSketch = KllDoublesSketch.heapify(Memory.wrap(b))
}
