package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fixed-bin histogram sketch buffer: `underflow | bins(0..n-1) | overflow`.
  * Associative merge ⇒ partition-local partial sketches combine to the
  * global sketch with shuffle volume O(partitions × bins) — sublinear in
  * rows, the property the north rule's scaling criterion leans on. */
final class HistogramBuffer(val nBins: Int) extends Serializable {
  val counts: Array[Long] = new Array[Long](nBins + 2)
  def add(v: Double, lo: Double, hi: Double): Unit = {
    val idx =
      if (v < lo) 0
      else if (v >= hi) nBins + 1
      else 1 + math.min(nBins - 1, ((v - lo) * nBins / (hi - lo)).toInt)
    counts(idx) += 1
  }
  def merge(other: HistogramBuffer): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
  }
}

/** Custom Catalyst aggregate (the one genuinely custom piece the engine
  * needs — SURVEY.md §4.2): a fixed-width histogram over a numeric column,
  * used by [[graft.operators.Drift]] to build mergeable ECDF sketches for
  * KS / chi-square drift statistics.
  *
  * Bin edges are fixed from the baseline profile so partition-local
  * sketches merge associatively (SURVEY.md §7.4 hard part 6). Runs inside
  * ObjectHashAggregateExec with map-side partial aggregation, and fuses
  * into the same agg pass as the built-in stats expressions.
  */
case class HistogramAgg(
    child: Expression,
    lo: Double,
    hi: Double,
    nBins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistogramBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): HistogramBuffer = new HistogramBuffer(nBins)

  override def update(buf: HistogramBuffer, input: InternalRow): HistogramBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val d = v match {
        case d: Double => d
        case f: Float  => f.toDouble
        case l: Long   => l.toDouble
        case i: Int    => i.toDouble
        case s: Short  => s.toDouble
        case b: Byte   => b.toDouble
        case x         => x.toString.toDouble
      }
      buf.add(d, lo, hi)
    }
    buf
  }

  override def merge(buf: HistogramBuffer, other: HistogramBuffer): HistogramBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: HistogramBuffer): Any = ArrayData.toArrayData(buf.counts)

  override def serialize(buf: HistogramBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.nBins)
    buf.counts.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HistogramBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new HistogramBuffer(in.readInt())
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_histogram"
}

object HistogramAgg {
  val FnName = "graft_histogram"

  /** Column-API entry: `histogram($"n_tok", 0, 512, 64)`. */
  def histogram(c: Column, lo: Double, hi: Double, nBins: Int): Column = {
    import org.apache.spark.sql.functions.lit
    Registry.call(FnName, c, lit(lo), lit(hi), lit(nBins))
  }
}
