package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Count-min sketches — the sketch family's POINT-FREQUENCY member,
  * completing its algebra (HLL = cardinality, KLL = quantiles,
  * Misra–Gries = heavy hitters, Bloom = membership, theta = set
  * expressions, CMS = per-item counts): "how often does THIS item
  * occur" for ANY queried item, from constant state, where Misra–Gries
  * answers only for items frequent enough to survive its map and exact
  * counting holds O(distinct) state. The implementation is Spark's own
  * `org.apache.spark.util.sketch.CountMinSketch` (the engine ships it
  * for join-skew estimation — public API, elementwise-addition merge).
  *
  * Guarantees carried to read-out: estimates NEVER undercount
  * (est ≥ true, the one-sided CMS bound); overcount ≤ ε·N with
  * probability ≥ 1 − δ where ε ≈ 2/width and δ ≈ 2^−depth — with the
  * defaults ([[CountMin.DefaultWidth]]×[[CountMin.DefaultDepth]],
  * ~320 KB of longs per buffer) that is ≤ 0.025 % of the stream
  * length at 96.9 % confidence, constant at any corpus size. Merge is
  * counter-array addition — associative, commutative, and EXACT: the
  * merged sketch equals the one-shot sketch bit for bit regardless of
  * partitioning (no purge order, no random draws — stronger than the
  * MG/KLL twins, same class as theta's determinism but without even
  * an estimate-order caveat), which is why the streaming twin can
  * assert streamed == batch EQUALITY on estimates.
  *
  * `graft_cms_agg(token[, width])` → binary sketch;
  * `graft_cms_merge(bin[, width])` unions pre-built sketches (shard →
  * fleet rollup) — both [[SketchAggExpr]] over the [[CountMin]]
  * family; `graft_cms_est(bin, token)` → the point estimate;
  * `graft_cms_total(bin)` → the stream length N the ε-bound scales
  * with. All sketches share [[CountMin.Seed]] — merge refuses
  * mismatched geometry, so width is a parameter, not per-row state.
  */
/** `graft_cms_est(bin, token)` → the point estimate for one item:
  * ≥ the true count always, ≤ true + ε·N w.h.p. */
case class CmsEstExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cms_est"

  override def nullSafeEval(bin: Any, token: Any): Any =
    CountMinSketch.readFrom(bin.asInstanceOf[Array[Byte]])
      .estimateCount(token.asInstanceOf[UTF8String].toString)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_cms_total(bin)` → the total update count N — the quantity
  * the ε·N overcount ceiling scales with, exposed so readers can
  * compute the bound they are entitled to. */
case class CmsTotalExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms_total"

  override def nullSafeEval(bin: Any): Any =
    CountMinSketch.readFrom(bin.asInstanceOf[Array[Byte]]).totalCount()

  override protected def withNewChildInternal(newChild: Expression): CmsTotalExpr =
    copy(child = newChild)
}

/** The count-min family of [[SketchAggExpr]]: the buffer is a
  * [[CountMin.DefaultDepth]] × width counter array. */
object CountMin extends SketchFamily[CountMinSketch] {
  /** ε ≈ 2/width = 0.0244 % of N per estimate; 8192 longs × depth
    * rows ≈ 320 KB per aggregation buffer — constant regardless of
    * corpus size. */
  val DefaultWidth = 8192

  /** δ ≈ 2^−5 ≈ 3.1 % failure probability on the ε bound. */
  val DefaultDepth = 5

  /** Shared hash seed: sketches merge only when geometry and seed
    * agree, so every graft CMS uses this one. */
  val Seed = 42

  def name: String = "cms"
  def create(width: Int): CountMinSketch = CountMinSketch.create(DefaultDepth, width, Seed)
  def add(sk: CountMinSketch, v: Any): Unit = sk.addString(v.asInstanceOf[UTF8String].toString)
  def combine(sk: CountMinSketch, other: CountMinSketch): Unit = sk.mergeInPlace(other)
  def toBytes(sk: CountMinSketch): Array[Byte] = sk.toByteArray
  def fromBytes(b: Array[Byte], width: Int): CountMinSketch = CountMinSketch.readFrom(b)
}
