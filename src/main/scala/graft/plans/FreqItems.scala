package graft.plans

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable heavy-hitters sketches — the profile_sketch/KLL move
  * applied to token frequencies. Exact vocab_topk shuffles one count
  * row per DISTINCT token: the right plan while the vocabulary is the
  * product (tokenizer training wants exact counts), but O(distinct)
  * state the moment the domain is open — URL hosts, n-grams, error
  * strings at 100 TB. The frequent-items sketch (Misra–Gries /
  * space-saving family; Apache DataSketches' ReversePurgeItemHashMap
  * implementation, already on the classpath next to HLL and KLL)
  * keeps a CONSTANT ≤ maxMapSize-entry map per aggregation buffer,
  * merges associatively (map-side partial combine, shard → fleet
  * rollups), and guarantees on read-out:
  *
  *  - every item with true count > ε·N is present
  *    (NO_FALSE_NEGATIVES read), with ε ≈ 3.5 / maxMapSize;
  *  - each reported item carries [lowerBound, upperBound] with
  *    lb ≤ true ≤ ub and ub − lb ≤ getMaximumError() ≤ ε·N;
  *  - while distinct ≤ 0.75·maxMapSize no purge ever fires and every
  *    estimate is EXACT (maximumError == 0) — small domains pay no
  *    accuracy tax for choosing the scale-safe mode.
  *
  * `graft_freq_agg(token[, maxMapSize])` → binary sketch;
  * `graft_freq_merge(bin[, maxMapSize])` unions pre-built sketches —
  * both [[SketchAggExpr]] over the [[FreqItems]] family;
  * `graft_freq_topk(bin, k)` reads the top-k rows (descending
  * estimate, NO_FALSE_NEGATIVES) as structs; `graft_freq_maxerr(bin)`
  * exposes the sketch-wide error ceiling so downstream code can tell
  * exact-mode (0) from estimated-mode results. Purge order on ties is
  * an implementation detail, so specs assert the published bounds and
  * the planted heavy-hitter set, not bit-equality.
  */
/** `graft_freq_topk(bin, k)` → the top-k heavy hitters as an array of
  * (token, est, lb, ub) structs, descending by estimate (ties by
  * token for a deterministic read-out), NO_FALSE_NEGATIVES policy:
  * every item whose true count exceeds the sketch's error ceiling is
  * guaranteed present in the full read before the k-cut.
  */
case class FreqTopKExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_freq_topk"

  override def nullSafeEval(bin: Any, k: Any): Any = {
    val sk = ItemsSketch.getInstance(
      Memory.wrap(bin.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe())
    if (sk.isEmpty) null
    else {
      val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .sortBy(r => (-r.getEstimate, r.getItem))
        .take(k.asInstanceOf[Int])
        .map { r =>
          InternalRow(UTF8String.fromString(r.getItem),
            r.getEstimate, r.getLowerBound, r.getUpperBound)
        }
      new GenericArrayData(rows.asInstanceOf[Array[Any]])
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqTopKExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_freq_maxerr(bin)` → the sketch-wide error ceiling: 0 means
  * no purge ever fired and every estimate is exact; otherwise every
  * reported ub − lb is bounded by this value (≤ ε·N, ε ≈ 3.5 /
  * maxMapSize).
  */
case class FreqMaxErrExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq_maxerr"

  override def nullSafeEval(bin: Any): Any =
    ItemsSketch.getInstance(
      Memory.wrap(bin.asInstanceOf[Array[Byte]]), new ArrayOfStringsSerDe())
      .getMaximumError

  override protected def withNewChildInternal(newChild: Expression): FreqMaxErrExpr =
    copy(child = newChild)
}

/** The frequent-items family of [[SketchAggExpr]]: the buffer is a
  * map of at most maxMapSize tokens. */
object FreqItems extends SketchFamily[ItemsSketch[String]] {
  /** Default map size: ε ≈ 3.5/4096 ≈ 0.085 % of the stream length,
    * 4096 entries ≈ a few hundred KB per partial — constant per
    * buffer regardless of corpus size. Must be a power of 2.
    */
  val DefaultMapSize = 4096

  def name: String = "freq"
  def create(maxMapSize: Int): ItemsSketch[String] = new ItemsSketch[String](maxMapSize)
  def add(sk: ItemsSketch[String], v: Any): Unit = sk.update(v.asInstanceOf[UTF8String].toString)
  def combine(sk: ItemsSketch[String], other: ItemsSketch[String]): Unit = sk.merge(other)
  def toBytes(sk: ItemsSketch[String]): Array[Byte] = sk.toByteArray(new ArrayOfStringsSerDe())
  def fromBytes(b: Array[Byte], maxMapSize: Int): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(b), new ArrayOfStringsSerDe())
}
