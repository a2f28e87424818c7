package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** k-value MinHash signature over a token/shingle array as ONE
  * [[Kernel]] evaluation.
  *
  * Why not higher-order functions: `transform(sequence(0,k-1), j ->
  * array_min(transform(shingles, s -> xxhash64(s, j))))` is semantically
  * identical but (a) hashes every shingle string k times, and (b) is an
  * interpreted lambda tree that Catalyst's CollapseProject happily
  * substitutes into every downstream consumer (band keys!), multiplying
  * the cost again — measured 150 s for 5 000 docs where this expression
  * takes < 1 s. One string hash per shingle + k affine rehashes
  * (h_j = a_j·h + b_j over 2^64, the standard 2-universal family) is the
  * textbook MinHash evaluation.
  */
case class MinHashSignature(k: Int, seed: Long = 42L) extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Strings)

  def dataType: DataType = ArrayType(LongType, containsNull = false)

  // deterministic affine coefficients (odd multipliers)
  @transient private lazy val coefA: Array[Long] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.fill(k)(rnd.nextLong() | 1L)
  }
  @transient private lazy val coefB: Array[Long] = {
    val rnd = new java.util.SplittableRandom(seed + 1)
    Array.fill(k)(rnd.nextLong())
  }

  override def eval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, seed)
        var j = 0
        while (j < k) {
          val hj = coefA(j) * h + coefB(j)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}

object MinHashExpression {
  def minhash(tokens: Column, k: Int): Column =
    Registry.call("graft_minhash", tokens, lit(k))
}
