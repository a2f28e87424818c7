package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column access to Spark's OWN bloom-filter kernel (the one behind
  * AQE runtime row-group filtering): `BloomFilterAggregate` builds a
  * `org.apache.spark.util.sketch.BloomFilter` over a long column and
  * serializes it to bytes; `BloomFilterMightContain` probes those bytes
  * per row with zero false NEGATIVES (a "no" is definite, a "yes" has
  * probability ≈ fpp of being wrong). Spark ships both expressions but
  * registers neither for SQL/Column use — this exposes them through the
  * same [[Registry]] table as the other graft expressions, rather than
  * reimplementing a sketch the engine already codegens.
  *
  * The intended shape (see
  * [[graft.operators.Decontamination.contaminationPredicate]]):
  * aggregate the filters on the driver once (bytes ≈ 1.2 GB per 10^9
  * keys at 1% fpp — sized by [[optimalNumBits]]), then inline them as
  * literals so every task probes locally — the manual analogue of
  * Spark's own InjectRuntimeFilter, available across jobs instead of
  * within one.
  */
object BloomFunctions {

  /** `BloomFilter.optimalNumOfBits`: n·ln(1/p)/ln(2)². */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long =
    org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)

  /** Aggregate a serialized bloom filter over a LongType column. */
  def bloomAgg(longCol: Column, expectedItems: Long, fpp: Double): Column =
    Registry.call("graft_bloom_agg", longCol, lit(expectedItems),
      lit(optimalNumBits(expectedItems, fpp)))

  /** Driver-side build: ONE aggregate job over `df`, returns the filter
    * bytes of each of `longCols`, in order (or None when `df` is empty —
    * probe nothing, match nothing). Every filter has the same size.
    *
    * `BloomFilterAggregate` SILENTLY caps its inputs at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4M items / 8 MB — sized for AQE's within-query runtime
    * filters, not a corpus registry). Above the cap the filter's real
    * fpp explodes and the prefilter silently degrades to "everything
    * hits". Raise both confs to the requested size first, so the
    * documented ~1.2 GB-per-10^9-keys sizing actually materializes. */
  def buildBloom(df: DataFrame, longCols: Seq[Column], expectedItems: Long,
                 fpp: Double): Option[Seq[Array[Byte]]] = {
    val conf = df.sparkSession.conf
    val bits = optimalNumBits(expectedItems, fpp)
    def raise(key: String, atLeast: Long): Unit =
      if (conf.getOption(key).forall(_.toLong < atLeast))
        conf.set(key, atLeast.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedItems)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    val aggs = longCols.map(bloomAgg(_, expectedItems, fpp))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    Option.when(!row.anyNull)(longCols.indices.map(row.getAs[Array[Byte]]))
  }

  /** Per-row probe of inlined filter bytes; false negatives impossible. */
  def mightContain(bloomBytes: Array[Byte], longCol: Column): Column =
    Registry.call("graft_might_contain", lit(bloomBytes), longCol)
}
