package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One mergeable sketch family as [[SketchAggExpr]] drives it: how to
  * make an empty buffer `B` from the family's size parameter, fold one
  * raw value in, fold another buffer in, and (de)serialize. The bytes
  * of [[toBytes]] are a stored format (CalibrationStore, the streaming
  * state stores), pinned by `SketchWireSpec`. Families: KLL quantiles
  * ([[KllQuantiles]]), theta sets ([[ThetaSketch]]), frequent items
  * ([[FreqItems]]), count-min ([[CountMin]]).
  */
trait SketchFamily[B] extends Serializable {
  /** The `<family>` of the SQL names `graft_<family>_agg` / `_merge`. */
  def name: String
  def create(param: Int): B
  def add(buf: B, value: Any): Unit
  def combine(buf: B, other: B): Unit
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte], param: Int): B
}

/** `graft_<family>_agg(x[, param])` → the binary sketch of the group's
  * non-null values; with `merging`, `graft_<family>_merge(bin[,
  * param])` unions pre-built binary sketches (the shard → fleet
  * rollup). A constant-size buffer per group that combines map-side.
  */
case class SketchAggExpr[B](
    child: Expression,
    family: SketchFamily[B],
    param: Int,
    merging: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String =
    s"graft_${family.name}_${if (merging) "merge" else "agg"}"
  // plan strings read `graft_kll_agg(x#1, 200, 0, 0)`, without the
  // family object's identity hash
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, param, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = family.create(param)

  override def update(buffer: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) {
      if (merging) family.combine(buffer, family.fromBytes(v.asInstanceOf[Array[Byte]], param))
      else family.add(buffer, v)
    }
    buffer
  }

  override def merge(buffer: B, other: B): B = {
    family.combine(buffer, other)
    buffer
  }

  override def eval(buffer: B): Any = family.toBytes(buffer)
  override def serialize(buffer: B): Array[Byte] = family.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): B = family.fromBytes(bytes, param)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggExpr[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggExpr[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAggExpr[B] =
    copy(child = newChild)
}
