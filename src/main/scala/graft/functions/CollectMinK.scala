package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Bounded distinct-min-k buffer: the entries with the k SMALLEST
  * distinct long keys seen so far, each with a payload. State is O(k)
  * regardless of group size — the property that makes a capped posting
  * list safe to build over a stopword whose group holds billions of
  * (word, doc_id) pairs at corpus scale: every map-side partial carries
  * at most k entries into the exchange, so shuffle volume per group is
  * O(partitions × k), never O(group). `collect_set`-then-`slice` has
  * unbounded state and OOMs on exactly the groups that matter most.
  *
  * Entries append unsorted. Once the buffer holds more than k of them a
  * compaction sorts by key, drops repeated keys and keeps the k
  * smallest; from then on a key ≥ the k-th smallest is rejected on
  * arrival. Capacity doubles from a small start and never exceeds 2k, so
  * no k slots are preallocated: `k = Int.MaxValue` keeps every distinct
  * key at one O(n log n) sort instead of a quadratic sorted insert.
  *
  * Merge takes the k smallest of the union (associative, commutative,
  * duplicate-eliminating), so partition-local partials combine to the
  * exact global answer. A repeated key keeps one payload; the result is
  * independent of merge order when equal keys carry equal payloads. */
final class MinKBuffer(val k: Int) extends Serializable {
  require(k > 0, "min-k buffer: k must be positive")

  private var keys = new Array[Long](math.min(k, 16))
  private var vals = new Array[AnyRef](keys.length)
  private var n = 0
  private var compacted = true
  // set once k distinct keys are held: every kept key is ≤ ceiling
  private var full = false
  private var ceiling = Long.MaxValue

  /** False when `key` can no longer be among the k smallest distinct. */
  def accepts(key: Long): Boolean = !full || key < ceiling

  def add(key: Long, value: Any): Unit = if (accepts(key)) {
    if (n == keys.length) {
      if (n > k) compact()
      if (n == keys.length) grow()
    }
    keys(n) = key
    vals(n) = value.asInstanceOf[AnyRef]
    n += 1
    compacted = false
  }

  def merge(other: MinKBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.keys(i), other.vals(i)); i += 1 }
  }

  /** The kept keys, ascending. */
  def sortedKeys: Array[Long] = { compact(); java.util.Arrays.copyOf(keys, n) }

  /** The kept payloads, in ascending key order. */
  def sortedValues: Array[AnyRef] = { compact(); java.util.Arrays.copyOf(vals, n) }

  private def grow(): Unit = {
    val cap = math.min(keys.length.toLong * 2, Int.MaxValue - 8L).toInt
    require(cap > keys.length, s"min-k buffer: more than $cap distinct keys in one group")
    keys = java.util.Arrays.copyOf(keys, cap)
    vals = java.util.Arrays.copyOf(vals, cap)
  }

  private def compact(): Unit = if (!compacted) {
    val order = Array.range(0, n).sortBy(keys(_)) // stable
    val ks = new Array[Long](keys.length)
    val vs = new Array[AnyRef](keys.length)
    var m = 0
    var j = 0
    while (j < order.length && m < k) {
      val i = order(j)
      if (m == 0 || keys(i) != ks(m - 1)) { ks(m) = keys(i); vs(m) = vals(i); m += 1 }
      j += 1
    }
    keys = ks; vals = vs; n = m
    compacted = true
    if (m == k) { full = true; ceiling = ks(m - 1) }
  }
}

/** Custom Catalyst aggregate `graft_min_k_by(key, value, k)`: the values
  * of the rows with the k smallest DISTINCT long keys of the group,
  * returned as an array in ascending key order. Null keys are skipped.
  * `graft_min_k(col, k)` is the special case value = key: the k smallest
  * distinct values of a long column, sorted ascending.
  *
  * Built for [[graft.operators.TextAnalysis.invertedIndex]]'s capped
  * posting lists and [[graft.operators.ValidationPass]]'s first-appearance
  * offender lists, and generally useful wherever "first k members of a
  * group by key order" must not materialize the group (per-key sample
  * ids, representative doc pickers). Runs inside ObjectHashAggregateExec
  * with map-side partial aggregation, same as [[HistogramAgg]]. */
case class CollectMinK(
    key: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKBuffer] {

  require(k > 0, s"$prettyName: k must be positive")

  override def children: Seq[Expression] = Seq(key, value)
  override def nullable: Boolean = false
  // value = key is never null: null keys are skipped
  override def dataType: DataType = ArrayType(value.dataType,
    containsNull = value.nullable && !value.semanticEquals(key))

  override def createAggregationBuffer(): MinKBuffer = new MinKBuffer(k)

  override def update(buf: MinKBuffer, input: InternalRow): MinKBuffer = {
    val v = key.eval(input)
    if (v != null) {
      val l = v match {
        case l: Long  => l
        case i: Int   => i.toLong
        case s: Short => s.toLong
        case b: Byte  => b.toLong
        case x        => x.toString.toLong
      }
      // the payload may point into a reused input row: copy what is kept
      if (buf.accepts(l)) buf.add(l, InternalRow.copyValue(value.eval(input)))
    }
    buf
  }

  override def merge(buf: MinKBuffer, other: MinKBuffer): MinKBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: MinKBuffer): Any =
    new GenericArrayData(buf.sortedValues.asInstanceOf[Array[Any]])

  @transient private lazy val bufferProjection = UnsafeProjection.create(
    Array[DataType](ArrayType(LongType, containsNull = false), ArrayType(value.dataType)))

  override def serialize(buf: MinKBuffer): Array[Byte] =
    bufferProjection(InternalRow(ArrayData.toArrayData(buf.sortedKeys),
      new GenericArrayData(buf.sortedValues.asInstanceOf[Array[Any]]))).getBytes

  override def deserialize(bytes: Array[Byte]): MinKBuffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val ks = row.getArray(0).toLongArray()
    val vs = row.getArray(1).toObjectArray(value.dataType)
    val buf = new MinKBuffer(k)
    var i = 0
    while (i < ks.length) { buf.add(ks(i), vs(i)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectMinK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectMinK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CollectMinK =
    copy(key = newChildren(0), value = newChildren(1))
  override def prettyName: String = CollectMinK.FnName
}

object CollectMinK {
  val FnName = "graft_min_k"
  val ByFnName = "graft_min_k_by"

  /** Column-API entry: `minK($"doc_id", 10)` → sorted array of the 10
    * smallest distinct ids in the group. */
  def minK(c: Column, k: Int): Column = Registry.call(FnName, c, lit(k))

  /** `minKBy($"first_key", $"value", 10)` → the `value`s of the rows with
    * the 10 smallest distinct `first_key`s, in ascending key order. */
  def minKBy(key: Column, value: Column, k: Int): Column = Registry.call(ByFnName, key, value, lit(k))
}
