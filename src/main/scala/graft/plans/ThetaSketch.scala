package graft.plans

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Union}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable distinct-SET sketches (theta family; Apache DataSketches,
  * already on the classpath for HLL/KLL/Misra-Gries). HLL answers "how
  * many distinct" but cannot intersect two estimates; the theta sketch
  * keeps a uniform SAMPLE of the distinct hash space (the k smallest
  * hashes), so set EXPRESSIONS — |A∩B|, |A∪B|, Jaccard — evaluate
  * directly on two sketches (Dasgupta et al., "Theta-Sketch
  * Framework", 2016). That is the piece the repo's sketch family was
  * missing: HLL = cardinality, KLL = quantiles, Misra-Gries = heavy
  * hitters, Bloom = membership, theta = set algebra.
  *
  * Why it matters at 100 TB: pairwise overlap between S corpus slices
  * is S²/2 joins on the exploded unit table when exact — and every
  * unit shared by many slices fans out quadratically in the join. With
  * theta, ONE scan builds S constant-size sketches (map-side partial
  * combine, ≤ 2^lgK entries each) and all S²/2 intersections evaluate
  * on kilobyte-sized operands. Relative standard error at lgK=12 is
  * ~1/√4096 ≈ 1.6 % on the union; intersection error grows as overlap
  * shrinks (the published bound) — specs assert a 5 % band on the
  * fixture's vocabulary overlaps, not bit-equality.
  *
  * `graft_theta_agg(x[, lgK])` → binary compact sketch;
  * `graft_theta_merge(bin)` unions pre-built sketches (shard → fleet
  * rollup) — both [[SketchAggExpr]] over the [[ThetaSketch]] family;
  * `graft_theta_est(bin)` reads the distinct estimate;
  * `graft_theta_inter_est(a, b)` / `graft_theta_union_est(a, b)`
  * evaluate the pairwise set expressions.
  */
case class ThetaEstExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_theta_est"

  override def nullSafeEval(bin: Any): Any =
    Sketch.heapify(Memory.wrap(bin.asInstanceOf[Array[Byte]])).getEstimate

  override protected def withNewChildInternal(newChild: Expression): ThetaEstExpr =
    copy(child = newChild)
}

/** `graft_theta_inter_est(a, b)` → estimated |A ∩ B|; with `union`,
  * `graft_theta_union_est(a, b)` → estimated |A ∪ B|. */
case class ThetaPairEstExpr(left: Expression, right: Expression, union: Boolean)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (union) "graft_theta_union_est" else "graft_theta_inter_est"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sketches = Seq(a, b).map(x => Sketch.heapify(Memory.wrap(x.asInstanceOf[Array[Byte]])))
    if (union) {
      val u = SetOperation.builder().buildUnion()
      sketches.foreach(u.union)
      u.getResult.getEstimate
    } else {
      val inter = SetOperation.builder().buildIntersection()
      sketches.foreach(inter.intersect)
      inter.getResult.getEstimate
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaPairEstExpr =
    copy(left = newLeft, right = newRight)
}

/** The theta family of [[SketchAggExpr]]: the buffer is a union of
  * 2^lgK nominal entries; the bytes are its compact result. */
object ThetaSketch extends SketchFamily[Union] {
  /** Default log2 nominal entries: 4096 retained hashes ≈ 1.6 % RSE. */
  val DefaultLgK = 12

  def name: String = "theta"
  def create(lgK: Int): Union = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
  def add(u: Union, v: Any): Unit = u.update(v.toString)
  def combine(u: Union, other: Union): Unit = u.union(other.getResult)
  def toBytes(u: Union): Array[Byte] = u.getResult.toByteArray
  def fromBytes(b: Array[Byte], lgK: Int): Union = {
    val u = create(lgK)
    u.union(Sketch.heapify(Memory.wrap(b)))
    u
  }
}
