package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Sufficient-statistics buffer for second-order vector moments:
  * `n`, `n_skipped`, the per-dimension sums, and the upper-triangle
  * cross-product sums (d(d+1)/2 doubles). Associative merge ⇒
  * partition-local partials combine with shuffle volume
  * O(partitions × d²) — the covariance of 10^12 embeddings moves
  * ~33 KB per partition (d=64) instead of any per-row data, the same
  * sublinear-merge property as [[HistogramBuffer]]. */
final class VecMomentsBuffer(val dim: Int) extends Serializable {
  var n: Long = 0L
  var skipped: Long = 0L // NULL vectors or wrong dimension — loud, not lost
  val sums: Array[Double] = new Array[Double](dim)
  val prods: Array[Double] = new Array[Double](dim * (dim + 1) / 2)
  def add(v: Array[Double]): Unit = {
    n += 1
    var i = 0
    var k = 0
    while (i < dim) {
      sums(i) += v(i)
      var j = i
      while (j < dim) { prods(k) += v(i) * v(j); j += 1; k += 1 }
      i += 1
    }
  }
  def merge(o: VecMomentsBuffer): Unit = {
    n += o.n; skipped += o.skipped
    var i = 0
    while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
    i = 0
    while (i < prods.length) { prods(i) += o.prods(i); i += 1 }
  }
}

/** Custom Catalyst aggregate: second-order moments of a fixed-dim
  * `array<float|double>` column in ONE pass — the input to exact
  * covariance / correlation / PCA over an embedding column. A wide
  * per-entry aggregate (d(d+1)/2 = 2080 sum expressions at d=64)
  * would blow the 64 KB codegen budget and compile minutes of
  * generated code; this buffer keeps the whole thing one
  * ObjectHashAggregate with map-side partials. Rows whose vector is
  * NULL or has the wrong length are counted in `n_skipped` rather
  * than silently dropped or crashing the pass.
  *
  * eval layout: `[n, n_skipped, sums(0..d-1), prods(0..d(d+1)/2-1)]`.
  */
case class VecMomentsAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMomentsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): VecMomentsBuffer =
    new VecMomentsBuffer(dim)

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def update(buf: VecMomentsBuffer, input: InternalRow): VecMomentsBuffer = {
    val raw = child.eval(input)
    if (raw == null) { buf.skipped += 1; return buf }
    val arr = raw.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) { buf.skipped += 1; return buf }
    val v = new Array[Double](dim)
    var i = 0
    var hasNull = false
    while (i < dim && !hasNull) {
      if (arr.isNullAt(i)) hasNull = true
      else v(i) = elemType match {
        case DoubleType => arr.getDouble(i)
        case FloatType  => arr.getFloat(i).toDouble
        case LongType   => arr.getLong(i).toDouble
        case IntegerType => arr.getInt(i).toDouble
        case _ => arr.get(i, elemType).toString.toDouble
      }
      i += 1
    }
    if (hasNull) buf.skipped += 1 else buf.add(v)
    buf
  }

  override def merge(buf: VecMomentsBuffer, other: VecMomentsBuffer): VecMomentsBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: VecMomentsBuffer): Any = {
    val out = new Array[Double](2 + buf.sums.length + buf.prods.length)
    out(0) = buf.n.toDouble
    out(1) = buf.skipped.toDouble
    System.arraycopy(buf.sums, 0, out, 2, buf.sums.length)
    System.arraycopy(buf.prods, 0, out, 2 + buf.sums.length, buf.prods.length)
    ArrayData.toArrayData(out)
  }

  override def serialize(buf: VecMomentsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.dim)
    out.writeLong(buf.n)
    out.writeLong(buf.skipped)
    buf.sums.foreach(out.writeDouble)
    buf.prods.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMomentsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new VecMomentsBuffer(in.readInt())
    buf.n = in.readLong()
    buf.skipped = in.readLong()
    var i = 0
    while (i < buf.sums.length) { buf.sums(i) = in.readDouble(); i += 1 }
    i = 0
    while (i < buf.prods.length) { buf.prods(i) = in.readDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecMomentsAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_vec_moments"
}

object VecMomentsAgg {
  val FnName = "graft_vec_moments"

  /** Column-API entry: `vecMoments($"embedding", 64)`. */
  def vecMoments(c: Column, dim: Int): Column = {
    import org.apache.spark.sql.functions.lit
    Registry.call(FnName, c, lit(dim))
  }
}
