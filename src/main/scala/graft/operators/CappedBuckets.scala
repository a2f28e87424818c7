package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The capped bucket join behind the near-duplicate candidate searches:
  * [[Dedup]]'s MinHash bands and SimHash/dHash chunks, [[CdcChunking]]'s
  * chunk hashes and [[Winnowing]]'s fingerprints.
  *
  * `members` holds the bucket key columns `keys` and one struct column
  * `m` with an `id` field plus whatever payload the caller verifies
  * with. A bucket is the member rows that share one key tuple; a null
  * key is no bucket. A bucket of n members fans out n(n-1)/2 pairs, so
  * one boilerplate bucket of 10^5 documents is 5×10^9 pairs. The cap
  * trades that bucket's recall for survival: a bucket with more than
  * `maxBucket` member rows yields no pairs, and [[overflow]] lists it.
  *
  * Only narrow rows move: the keys and `m`. Callers re-attach heavy
  * payloads (shingle sets, text) after their own pair dedup. */
private[graft] final case class CappedBuckets(
    members: DataFrame, keys: Seq[String], maxBucket: Int) {

  /** (keys…, ms): the member list of every bucket of at most
    * `maxBucket` rows, singletons included. */
  def capped: DataFrame =
    members.where(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(col("m")).as("ms"))
      .where(size(col("ms")) <= maxBucket)

  /** (a, b): one row per capped bucket that the member rows `a` and `b`
    * share, with `a.id < b.id`. Rows repeated within a bucket pair
    * repeatedly: members with n_a and n_b rows there give n_a·n_b rows. */
  def pairs: DataFrame =
    capped.where(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))

  /** (keys…, n_docs): every key whose member rows exceed the cap, with
    * its row count — the buckets [[pairs]] dropped. A null key is
    * listed like any other, though it never pairs. Reads only the key
    * columns, so `members` needs no `m` for this listing. */
  def overflow: DataFrame =
    members.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxBucket)
}
