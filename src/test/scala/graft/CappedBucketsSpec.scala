package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CappedBuckets, CdcChunking, Dedup, Winnowing}

/** The `maxBucket` cap of the near-duplicate candidate searches, pinned
  * at its boundary on each search, and the capped bucket join itself
  * against a driver-side brute force. */
class CappedBucketsSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 5
  private val text = "the same short boilerplate text repeated on every page"

  /** n member rows that all share every bucket key of their search:
    * identical texts, signatures, chunk hashes or fingerprints. */
  private def docs(n: Int): DataFrame =
    (1L to n.toLong).toDF("doc_id").withColumn("text", lit(text))

  /** Per search: (pairs found over `n` members, overflow n_docs). */
  private val searches: Seq[(String, Int => (Long, Seq[Long]))] = Seq(
    "minhash" -> { n =>
      (Dedup.minhashNearDuplicates(docs(n), "doc_id", "text", k = 32, bands = 8,
          threshold = 0.5, maxBucket = cap).count(),
        Dedup.minhashOverflowBuckets(docs(n), "doc_id", "text", k = 32, bands = 8,
          maxBucket = cap).as[(Int, Long, Long)].collect().map(_._3).toSeq)
    },
    "minhash-seen" -> { n =>
      val batch = Seq((0L, text)).toDF("doc_id", "text")
      (Dedup.minhashSeenDuplicates(batch, "doc_id", "text", docs(n), "doc_id", "text",
          k = 32, bands = 8, threshold = 0.5, maxBucket = cap).count(),
        Dedup.minhashOverflowBuckets(docs(n), "doc_id", "text", k = 32, bands = 8,
          maxBucket = cap).as[(Int, Long, Long)].collect().map(_._3).toSeq)
    },
    "hamming" -> { n =>
      val sig = docs(n).select($"doc_id", lit(0x1234567890ABCDEFL).as("sig"))
      (Dedup.hammingNearDuplicates(sig, "doc_id", "sig", maxBucket = cap).count(),
        Dedup.hammingOverflowBuckets(sig, "doc_id", "sig", maxBucket = cap)
          .as[(Int, Long, Long)].collect().map(_._3).toSeq)
    },
    "cdc" -> { n =>
      val chunked = docs(n).select($"doc_id", lit(0).as("chunk_idx"),
        lit("h_shared").as("chunk_hash"), lit(16).as("chunk_len"))
      (CdcChunking.overlapPairs(chunked, "doc_id", minOverlap = 0.0, maxBucket = cap).count(),
        CdcChunking.hotChunks(chunked, "doc_id", maxBucket = cap)
          .as[(String, Long)].collect().map(_._2).toSeq)
    },
    "winnowing" -> { n =>
      val fps = docs(n).select($"doc_id", lit(7L).as("fp"))
      (Winnowing.sharedPairs(fps, "doc_id", maxBucket = cap).count(),
        Winnowing.overflowFingerprints(fps, maxBucket = cap)
          .as[(Long, Long)].collect().map(_._2).toSeq)
    })

  test("a bucket of exactly maxBucket members pairs; one more member drops it, listed") {
    searches.foreach { case (name, run) =>
      val (atCap, atCapOver) = run(cap)
      // every pair of the cap's members, or the one batch doc × every seen doc
      val expected = if (name == "minhash-seen") cap.toLong else cap * (cap - 1) / 2L
      assert(atCap === expected, s"$name: pairs at the cap")
      assert(atCapOver.isEmpty, s"$name: nothing over the cap to list")
      val (overCap, listed) = run(cap + 1)
      assert(overCap === 0L, s"$name: pairs over the cap")
      assert(listed.nonEmpty && listed.forall(_ == cap + 1L), s"$name: listed $listed")
    }
  }

  test("capped pairs and overflow equal a brute force over the buckets, as multisets") {
    val rnd = new scala.util.Random(11)
    val seen = (1 to 6).map { round =>
      val maxBucket = 2 + rnd.nextInt(5)
      // a hot key 0 overflows, keys 1..8 mostly fit, ten (key, id) rows
      // repeat; a null key is no bucket for the pairs
      val drawn = Seq.fill(40 + rnd.nextInt(40))((rnd.nextInt(12) match {
          case 0 => None
          case 1 | 2 | 3 => Some(0)
          case _ => Some(1 + rnd.nextInt(8))
        }, rnd.nextInt(2), rnd.nextInt(12).toLong))
      val rows = drawn ++ rnd.shuffle(drawn).take(10)
      val members = rows.toDF("k1", "k2", "id").select($"k1", $"k2", struct($"id").as("m"))
      val join = CappedBuckets(members, Seq("k1", "k2"), maxBucket)
      val groups = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) => k -> rs.map(_._3) }
      def multiset[T](xs: Seq[T]): Map[T, Int] =
        xs.groupBy(identity).map { case (x, g) => x -> g.size }
      val bruteKept = groups.filter { case ((k1, _), ids) => k1.isDefined && ids.size <= maxBucket }
      val brutePairs = bruteKept.values.toSeq.flatMap(ids =>
        for (a <- ids; b <- ids if a < b) yield (a, b))
      val pairs = join.pairs.select($"a.id", $"b.id").as[(Long, Long)].collect().toSeq
      assert(multiset(pairs) === multiset(brutePairs), s"round $round, maxBucket $maxBucket")
      val bruteCapped = bruteKept.map { case ((k1, k2), ids) => (k1.get, k2, ids.sorted) }.toSet
      val capped = join.capped.select($"k1", $"k2", sort_array($"ms.id")).as[(Int, Int, Seq[Long])]
        .collect().toSet
      assert(capped === bruteCapped, s"round $round")
      val bruteOver = groups.collect { case ((k1, k2), ids) if ids.size > maxBucket =>
        (k1, k2, ids.size.toLong) }.toSet
      val over = join.overflow.as[(Option[Int], Int, Long)].collect().toSet
      assert(over === bruteOver, s"round $round")
      (pairs.size, over.size)
    }
    // the rounds exercise both sides of the cap
    assert(seen.map(_._1).sum > 0 && seen.map(_._2).sum > 0)
  }
}
