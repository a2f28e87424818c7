package graft

import org.apache.spark.sql.functions._

import graft.functions.TextExpressions
import graft.operators.{Dedup, Mixing, Multimodal, Profile, Sessionize, Similarity, TextAnalysis}

/** Training-data pipeline operators over the driver-generated documents /
  * embeddings tables (TESTDATA.md). */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  // ---------- dedup ----------

  test("cross-doc chunk dedup: global first occurrence wins, empty docs survive") {
    import graft.operators.LineDedup
    // 3-word chunks; "a b c" appears in doc0 (pos0), doc1 (pos0), and
    // AGAIN in doc0 at pos2 — only doc0/pos0 survives anywhere
    val corpus = Seq(
      (0L, "a b c d e f a b c"), // chunks: [a b c][d e f][a b c]
      (1L, "a b c x y z"),       // [a b c][x y z] → keeps only [x y z]
      (2L, "d e f"),             // seen at doc0/pos1 → drops to ''
      (3L, ""),                  // no chunks at all
      (4L, "g h")                // short tail chunk, unique → kept
    ).toDF("doc_id", "text")
    val out = LineDedup.dedupChunksAcrossDocs(corpus, "doc_id", "text",
        chunkWords = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out === Array(
      (0L, 3L, 2L, "a b c d e f"),
      (1L, 2L, 1L, "x y z"),
      (2L, 1L, 0L, ""),
      (3L, 0L, 0L, ""),
      (4L, 1L, 1L, "g h")))
  }

  test("bm25: hand-computed scores on a 3-doc corpus, rank and tie order") {
    // corpus: dl = 3,2,2; term "cat": tf = 2,1,0 → df=2; avgdl = 7/3
    val corpus = Seq(
      (1L, "cat cat dog"),
      (2L, "cat bird"),
      (3L, "dog bird")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
        terms = Seq("cat"), k = 3)
      .as[(Long, Double)].collect()
    val n = 3.0; val df = 2.0; val avgdl = 7.0 / 3.0
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double): Double =
      BigDecimal(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * idf)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Array(
      (1L, s(2, 3)), (2L, s(1, 2)), (3L, 0.0)))
    assert(out(0)._2 > out(1)._2 && out(1)._2 > 0.0)
  }

  test("bm25: terms containing '.' or '`' resolve (index-keyed tf columns)") {
    // a term embedded verbatim in a column name would parse as a
    // nested-field reference ("__tf_u.s") and fail analysis
    val corpus = Seq(
      (1L, "u.s economy grows"),
      (2L, "the `fix` works"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
        terms = Seq("u.s", "`fix`"), k = 3)
      .as[(Long, Double)].collect()
    assert(out.length === 3)
    assert(out(0)._2 > 0.0 && out(1)._2 > 0.0) // both dotted terms scored
    assert(out(2) === ((3L, 0.0)))
  }

  test("unigram log-prob: hand-computed means; empty doc gets null") {
    // corpus tokens: a a a b → p(a)=3/4, p(b)=1/4
    val corpus = Seq(
      (1L, "a a b"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lnA = math.log(3.0 / 4.0); val lnB = math.log(1.0 / 4.0)
    assert(out(0) === ((1L, 3L, Some(r6((2 * lnA + lnB) / 3.0)))))
    assert(out(1) === ((2L, 1L, Some(r6(lnA)))))
    assert(out(2) === ((3L, 0L, None)))
  }

  test("zipf fit: an exact power law fits slope -1 with r2 = 1") {
    // counts 12, 6, 4, 3 = 12/rank for ranks 1..4 → ln f = ln 12 − ln r
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val out = TextAnalysis.zipfFit(Seq(Tuple1(text)).toDF("text"), "text")
      .as[(Double, Double, Long)].head()
    assert(out._1 === -1.0 && out._2 === 1.0 && out._3 === 4L)
  }

  test("encoding qc: replacement/control/non-ascii counts and printable ratio") {
    val s = "ok text\u0007\u0001 caf\u00e9 \uFFFD\uFFFD\tend"
    val out = Seq(Tuple1(s)).toDF("t")
      .select(TextAnalysis.encodingQc($"t").as("qc"))
      .select($"qc.n_replacement", $"qc.n_control", $"qc.n_non_ascii",
        $"qc.printable_ratio")
      .as[(Long, Long, Long, Double)].head()
    assert(out._1 === 2L) // two U+FFFD
    assert(out._2 === 2L) // BEL + SOH; the \t is allowed
    assert(out._3 === 3L) // é and the two replacement chars
    // printable = all chars minus (BEL, SOH, é, 2×FFFD) = len−5
    val expected = BigDecimal((s.length - 5).toDouble / s.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out._4 === expected)
    // clean ASCII is fully printable, zero flags
    val clean = Seq(Tuple1("plain words only")).toDF("t")
      .select(TextAnalysis.encodingQc($"t").as("qc"))
      .select($"qc.n_replacement" + $"qc.n_control" + $"qc.n_non_ascii",
        $"qc.printable_ratio").as[(Long, Double)].head()
    assert(clean === ((0L, 1.0)))
  }

  test("exact dedup finds injected duplicate and nothing else on disjoint ids") {
    val withDup = docs.unionByName(
      docs.where($"doc_id" === 0).withColumn("doc_id", lit(9999L)))
    val dups = Dedup.exactDuplicates(withDup, "doc_id", "text").collect()
    assert(dups.length === 1)
    assert(dups.head.getAs[Long]("n_docs") === 2)
    assert(dups.head.getAs[scala.collection.Seq[Long]]("doc_ids") === Seq(0L, 9999L))
    val kept = Dedup.dropExactDuplicates(withDup, "doc_id", "text")
    assert(kept.count() === withDup.count() - 1)
  }

  test("line-level dedup: corpus-frequent lines scrubbed, bodies and order kept") {
    import graft.operators.LineDedup
    val boiler = "all rights reserved"
    val corpus = Seq(
      (0L, s"alpha\n$boiler\nbeta", "web"),
      (1L, s"$boiler\ngamma", "web"),
      (2L, s"delta\n$boiler", "books"),
      (3L, s"$boiler\n$boiler", "books"), // both occurrences go → empty doc
      (4L, "epsilon zeta", "code"),       // single line, untouched
      (5L, "shared twice\neta", "code"),
      (6L, "shared twice\ntheta", "code")) // 2 < minOccurrences=3 → kept
      .toDF("doc_id", "text", "source")
    val cleaned = LineDedup.removeDuplicateLines(corpus, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, String, String)].collect()
    assert(cleaned === Array(
      (0L, "alpha\nbeta", "web"),
      (1L, "gamma", "web"),
      (2L, "delta", "books"),
      (3L, "", "books"),
      (4L, "epsilon zeta", "code"),
      (5L, "shared twice\neta", "code"),
      (6L, "shared twice\ntheta", "code")),
      "boilerplate (5 occurrences) removed, 2-occurrence line kept, columns preserved")
    val freq = LineDedup.frequentLines(corpus, "text", 3)
      .as[(Long, Long, String)].collect()
    assert(freq.length === 1 && freq.head._2 === 5 && freq.head._3 === boiler)
    // threshold 2 additionally catches the shared-twice line
    val freq2 = LineDedup.frequentLines(corpus, "text", 2)
      .as[(Long, Long, String)].collect()
    assert(freq2.map(_._3).toSet === Set(boiler, "shared twice"))
  }

  test("incremental dedup: seen texts dropped (no false negatives), unseen kept") {
    val seen = docs.where($"doc_id" < 25)
    val batch = docs // 25 seen texts + the rest unseen
    val kept = Dedup.dropSeenDuplicates(batch, seen, "text")
    assert(kept.columns === batch.columns)
    val ids = kept.select("doc_id").as[Long].collect().sorted
    assert(ids === (25L until docs.count()).toArray,
      "exactly the unseen suffix must survive")
    // empty seen side: batch passes through untouched
    assert(Dedup.dropSeenDuplicates(batch, seen.limit(0), "text").count()
      === batch.count())
  }

  test("cross-snapshot near-dup: planted copies flagged at 1.0, novel rows survive") {
    val seen = docs.limit(40).select("doc_id", "text").cache()
    val copies = seen.withColumn("doc_id", $"doc_id" + 1000000)
    val fresh = Seq( // nonsense shingles: disjoint from the corpus, jaccard 0
      (2000001L, "zymurgy quokka obelisk cantilever mnemonic floss"),
      (2000002L, "isotope harpsichord velvet graupel syzygy lantern"))
      .toDF("doc_id", "text")
    val batch = copies.unionByName(fresh)
    val pairs = Dedup.minhashSeenDuplicates(batch, "doc_id", "text",
      seen, "doc_id", "text", k = 32, bands = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every copy collides with its twin (identical shingle sets → every
    // band matches) and the exact verify scores it 1.0
    val twins = pairs.filter { case (b, s, j) => b == s + 1000000 && j == 1.0 }
    assert(twins.length === 40, s"all 40 planted twins must surface; got ${twins.length}")
    // nonsense rows share no shingle with any seen doc: the exact-jaccard
    // verify kills any band-collision fluke deterministically
    assert(!pairs.exists(_._1 >= 2000000L), "novel rows must not be flagged")
    val kept = Dedup.dropSeenNearDuplicates(batch, "doc_id", "text",
      seen, "doc_id", "text", k = 32, bands = 8, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2000001L, 2000002L),
      "apply step keeps exactly the novel rows")
    // empty seen side: batch passes through untouched
    assert(Dedup.dropSeenNearDuplicates(batch, "doc_id", "text",
      seen.limit(0), "doc_id", "text").count() === batch.count())
  }

  test("greedy packing: hand-computed packs, oversized doc gets its own pack") {
    val df = Seq( // (source, id, cost) — budget 10, walk in id order
      ("A", 1L, 3L), ("A", 2L, 4L), ("A", 3L, 5L), ("A", 4L, 10L), ("A", 5L, 2L),
      ("A", 6L, 20L), // oversized: pack of its own, still placed
      ("B", 1L, 9L), ("B", 2L, 9L)
    ).toDF("source", "doc_id", "cost")
    val got = graft.operators.Packing.greedyPack(df, "source", "doc_id", "cost", 10)
      .select("source", "doc_id", "pack_id", "pack_pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(got === Seq(
      ("A", 1L, 0L, 0), ("A", 2L, 0L, 1), // 3+4=7, +5 would overflow
      ("A", 3L, 1L, 0),                   // 5, +10 would overflow
      ("A", 4L, 2L, 0),                   // exactly at budget
      ("A", 5L, 3L, 0), ("A", 6L, 4L, 0), // 2+20 overflows → 20 alone
      ("B", 1L, 0L, 0), ("B", 2L, 1L, 0)))
  }

  test("greedy packing: null cost packs at zero, null id dropped, no crash") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long]), // null cost
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(7L))  // null id
    ).toDF("doc_id", "cost").withColumn("source", lit("A"))
    val got = graft.operators.Packing.greedyPack(df, "source", "doc_id", "cost", 10)
      .select("doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === Seq((1L, 0L), (2L, 0L))) // null-cost row placed, null-id dropped
  }

  test("greedy packing invariants on real docs, sharded and unsharded") {
    for (shards <- Seq(1, 4)) {
      val packed = graft.operators.Packing.greedyPack(
        docs, "source", "doc_id", "n_chars", budget = 1000, shards = shards)
      assert(packed.count() === docs.count(), "every doc placed exactly once")
      assert(packed.select("doc_id").distinct().count() === docs.count())
      val over = packed.groupBy("source", "shard", "pack_id")
        .agg(sum("n_chars").as("tot"), count(lit(1)).as("n"))
        .where($"tot" > 1000 && $"n" > 1)
      assert(over.count() === 0, "multi-doc packs never exceed the budget")
      val badPos = packed.groupBy("source", "shard", "pack_id")
        .agg(max("pack_pos").as("mx"), count(lit(1)).as("n"))
        .where($"mx" =!= $"n" - 1)
      assert(badPos.count() === 0, "pack positions are contiguous from 0")
    }
  }

  test("concat-chunk packing: hand-computed offsets and window spans") {
    val df = Seq((1L, 3L), (2L, 4L), (3L, 2L), (4L, 5L), (5L, 1L), (6L, 0L))
      .toDF("doc_id", "n_tok")
      .repartition(4) // placement must not depend on input partitioning
    val got = graft.operators.Packing.concatChunk(df, "doc_id", "n_tok", 5L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Seq(
      (1L, 0L, 0L, 0L),   // [0,3) in window 0
      (2L, 3L, 0L, 1L),   // [3,7) straddles 0→1
      (3L, 7L, 1L, 1L),
      (4L, 9L, 1L, 2L),   // [9,14) straddles 1→2
      (5L, 14L, 2L, 2L),
      (6L, 15L, 3L, 3L))) // zero-cost: sits at its window, no span
  }

  test("concat-chunk offsets equal the naive prefix sum on real docs") {
    val naive = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, c)) => (id, acc + c) }
    val expect = naive.sliding(2).map { case Array((_, off), (id, _)) => id -> off }
      .toMap
    val got = graft.operators.Packing.globalOffsets(docs, "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expect)
  }

  test("split assignment: exhaustive labels, exact modulo fractions, append-stable") {
    import graft.operators.Mixing
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = Mixing.assignSplits(docs, "doc_id", splits,
      granularity = 100, hashKey = false)
    // modulo mode on dense ids: exact fractions
    val n = docs.count()
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === n)
    assert(math.abs(counts("train") - 0.8 * n) <= 100 * 0.8 + 1)
    // every row gets exactly one label from the declared set
    assert(counts.keySet === Set("train", "val", "test"))
    // append stability: labels of existing rows unchanged after a union
    val more = docs.withColumn("doc_id", $"doc_id" + 1000000L)
    val relabeled = Mixing.assignSplits(docs.unionByName(more), "doc_id",
        splits, granularity = 100, hashKey = false)
      .where($"doc_id" < 1000000L)
    val a = labeled.select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = relabeled.select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a === b)
    // hash mode: fractions approximate but all labels present, deterministic
    val h1 = Mixing.assignSplits(docs, "doc_id", splits).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h1.keySet === Set("train", "val", "test"))
    assert(h1("train") > h1("val") && h1("train") > h1("test"))
    // modulo mode on a non-numeric key fails loudly (a silent null
    // bucket would label every row with the LAST split)
    val ex = intercept[Exception] {
      Mixing.assignSplits(
          docs.withColumn("k", concat(lit("x"), $"doc_id")), "k",
          splits, granularity = 100, hashKey = false)
        .collect()
    }
    assert(ex.getMessage.contains("not numeric") ||
      Option(ex.getCause).exists(_.getMessage.contains("not numeric")))
    // coarse granularity that starves a positive split is rejected
    intercept[IllegalArgumentException] {
      Mixing.assignSplits(docs, "doc_id",
        Seq("a" -> 0.85, "b" -> 0.1, "c" -> 0.05), granularity = 10)
    }
    // a genuinely NULL key is not a type error: deterministic bucket 0
    // (train), mirroring hash mode's constant null bucket
    val withNull = Seq(java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long])
      .toDF("doc_id")
    val nullLabel = Mixing.assignSplits(withNull, "doc_id", splits,
        granularity = 100, hashKey = false)
      .where($"doc_id".isNull).select("split").as[String].head()
    assert(nullLabel === "train")
  }

  test("capPerKey keeps exactly cap smallest-(rank,id) per over-cap key; " +
       "under-cap and NULL keys untouched") {
    val df = Seq[(Long, String, String)](
      (1L, "a", "x1"), (2L, "a", "x2"), (3L, "a", "x3"),
      (4L, "a", "x4"), (5L, "a", "x5"),
      (6L, "b", "y1"), (7L, "b", "y2"),
      (8L, null, "z1"), (9L, null, "z2"),
      (10L, null, "z3"), (11L, null, "z4"))
      .toDF("doc_id", "dom", "text")
    // rank = doc_id % 3 → key a orders as (rank,id):
    // (0,3),(1,1),(1,4),(2,2),(2,5); cap=3 keeps ids {1,3,4}
    val kept = Mixing.capPerKey(df, "dom", "doc_id", 3, nSalts = 4,
      rankExpr = Some(pmod($"doc_id", lit(3L))))
    assert(kept.select("doc_id").as[Long].collect().sorted ===
      Array(1L, 3L, 4L, 6L, 7L, 8L, 9L, 10L, 11L))
    assert(kept.columns === df.columns) // payload columns preserved
    // stats companion: only the over-cap key, NULL group exempt
    val stats = Mixing.capPerKeyStats(df, "dom", 3).collect()
    assert(stats.length === 1)
    assert(stats.head.getAs[String]("dom") === "a")
    assert(stats.head.getAs[Long]("n_rows") === 5L)
    assert(stats.head.getAs[Long]("n_dropped") === 2L)
  }

  test("capPerKey equals the single-window spelling (differential over caps and salts)") {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.withColumn("dom", pmod($"doc_id", lit(7L)).cast("string"))
    for (cap <- Seq(1, 5, 23); salts <- Seq(1, 8)) {
      val got = Mixing.capPerKey(keyed, "dom", "doc_id", cap,
          seed = 11L, nSalts = salts)
        .select("doc_id").as[Long].collect().sorted
      val w = Window.partitionBy($"dom")
        .orderBy(xxhash64($"doc_id", lit(11L)), $"doc_id")
      val want = keyed.withColumn("__rn", row_number().over(w))
        .where($"__rn" <= cap).select("doc_id").as[Long].collect().sorted
      assert(got === want, s"cap=$cap salts=$salts")
    }
  }

  test("materialized windows: exact content, order, and fill") {
    val df = Seq(
      (1L, Seq(10, 11, 12)),
      (2L, Seq(20, 21, 22, 23)),
      (3L, Seq(30)),
      (4L, Seq(40, 41, 42, 43, 44)))
      .toDF("doc_id", "tokens")
      .withColumn("sz", size($"tokens"))
      .repartition(3)
    val w = graft.operators.Packing
      .materializeWindows(df, "doc_id", "tokens", "sz", 5L)
      .orderBy("window_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    // concat in id order: 10 11 12 | 20 21 22 23 | 30 | 40 41 42 43 44
    assert(w === Seq(
      0L -> Seq(10, 11, 12, 20, 21),
      1L -> Seq(22, 23, 30, 40, 41),
      2L -> Seq(42, 43, 44))) // last window short, never padded
  }

  test("concat-chunk plan: no SinglePartition global-window exchange") {
    val plan = graft.operators.Packing
      .concatChunk(docs, "doc_id", "n_chars", 512L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "global prefix sum must stay two-level parallel, never one task")
  }

  test("bloom build lifts the AQE runtime-filter caps (silent 8MB degrade)") {
    import graft.functions.BloomFunctions
    // 10M items at 1% fpp needs ~96M bits ≈ 12 MB — past the 8 MB
    // default cap; if the caps were still in force the serialized
    // filter would come back capped at ≤ 8 MB
    val bytes = BloomFunctions.buildBloom(
      spark.range(1000).toDF("v"), Seq(col("v")), expectedItems = 10000000L,
      fpp = 0.01).get.head
    assert(bytes.length > 8 * 1024 * 1024,
      s"filter was capped: ${bytes.length} bytes")
  }

  test("incremental dedup plan: one batch scan, no Union, keyed by hash not text") {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // a local seen side, so every in-memory scan in the plan is the batch's
    val seen = docs.where($"doc_id" < 25).select("text").collect().toSeq
      .map(_.getString(0)).toDF("text")
    def check(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(p.collect { case s: InMemoryTableScanExec => s }.size === 1,
        s"the batch must be scanned once:\n$p")
      assert(p.collect { case u: UnionExec => u }.isEmpty, s"no Union:\n$p")
      assert(!p.toString.contains("hashpartitioning(text"),
        "anti-join must shuffle 8-byte hashes, never the text")
      p
    }
    val out = Dedup.dropSeenDuplicates(docs, seen, "text")
    // a 25-row seen side is small: the planner broadcasts it
    assert(check(out).collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    val ids = out.select("doc_id").as[Long].collect().sorted
    // with broadcasts off the planner shuffles both sides on the hash
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val shuffled = Dedup.dropSeenDuplicates(docs, seen, "text")
      val p = check(shuffled)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty, s"broadcast:\n$p")
      assert(p.toString.contains("hashpartitioning(xxhash64(text"),
        s"exchange must be keyed by the content hash:\n$p")
      assert(shuffled.select("doc_id").as[Long].collect().sorted === ids)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("connected components: chain a~b~c keeps exactly one representative") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val corpus = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val kept = Dedup.applyNearDedup(corpus, "doc_id", pairs, clustered = true)
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 4L)) // one per component + untouched doc
  }

  test("connected components: long chain converges across multiple rounds") {
    // a 6-hop path needs >1 hash-min round (diameter > 1); plus a
    // disjoint 2-cluster to check components stay separate
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 16L), (100L, 101L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 16L).foreach(id => assert(clusters(id) === 10L, s"id $id"))
    assert(clusters(100L) === 100L && clusters(101L) === 100L)
  }

  test("connected components: non-convergence at maxIter is observable") {
    // a 6-hop path cannot close in one round — status must say so, and
    // the labels must be the truncated (not fully propagated) state
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 16L)).toDF("id_a", "id_b")
    val r1 = Dedup.nearDupClustersStatus(chain, maxIter = 1)
    assert(!r1.converged && r1.iters === 1)
    assert(r1.labels.where($"id" === 16L).head().getLong(1) > 10L)
    val rFull = Dedup.nearDupClustersStatus(chain)
    assert(rFull.converged && rFull.iters <= 20)
    assert(rFull.labels.collect().forall(_.getLong(1) === 10L))
    // empty pair set: trivially converged, empty labels, no crash
    val rEmpty = Dedup.nearDupClustersStatus(chain.limit(0))
    assert(rEmpty.converged && rEmpty.labels.count() === 0)
  }

  test("minhash bucket cap drops degenerate buckets but counts them") {
    val same = (1L to 30L).toDF("doc_id")
      .withColumn("text", lit("same short boilerplate text repeated"))
    val pairs = Dedup.minhashNearDuplicates(same, "doc_id", "text",
      k = 32, bands = 8, threshold = 0.5, maxBucket = 10)
    assert(pairs.count() === 0) // every bucket overflows the cap
    val over = Dedup.minhashOverflowBuckets(same, "doc_id", "text",
      k = 32, bands = 8, maxBucket = 10).collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("n_docs") === 30L))
  }

  test("minhash LSH: identical docs always collide; jaccard is exact on verify") {
    val withDup = docs.limit(50).unionByName(
      docs.where($"doc_id" === 1).withColumn("doc_id", lit(8888L)))
    val pairs = Dedup.minhashNearDuplicates(withDup, "doc_id", "text",
      k = 32, bands = 8, threshold = 0.9)
    val hits = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists { case (a, b, j) => a == 1L && b == 8888L && j == 1.0 },
      s"identical pair must collide and score 1.0; got ${hits.mkString(", ")}")
  }

  test("ngram jaccard exact pairs agree with minhash-verified jaccard") {
    val sample = docs.limit(40)
    val exact = Dedup.ngramJaccardPairs(sample, "doc_id", "text", n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // verify a couple of pairs against driver-side shingle sets
    val texts = sample.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingleSet(t: String): Set[String] = {
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    exact.take(3).foreach { case ((a, b), j) =>
      val sa = shingleSet(texts(a)); val sb = shingleSet(texts(b))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 1e-9, s"pair ($a,$b)")
    }
  }

  test("duplicated-span fraction: hand-computed sharing, short-doc fallback") {
    val df = Seq(
      (1L, "a b c d e f"),  // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),  // 5-grams: "a b c d e", "b c d e x"
      (3L, "zz yy")         // <5 words → single fallback shingle
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanFraction(df, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got === Seq(
      (1L, 2L, 1L, 0.5), // shares "a b c d e" with doc 2
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)))
  }

  test("duplicated-span fraction: one boilerplate gram in EVERY doc stays bounded") {
    // the hot-gram case the operator exists to find (license header in
    // every doc): the shared 5-gram count must flow through the
    // map-side-collapsing aggregate, and every doc reports it shared.
    // 2000 docs × one hot gram would have put 2000 rows through a single
    // window partition in the round-3 spelling; here the aggregate sees
    // one partial row per input partition.
    val n = 2000
    val df = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("license header common to all docs "),
        lit("unique"), col("id"), lit(" trailing words here")).as("text"))
    val got = Dedup.duplicatedSpanFraction(df, "doc_id", "text", n = 5)
    assert(got.count() === n)
    // every doc: 10 words → 6 distinct 5-grams, of which the two grams
    // not touching the unique word are shared corpus-wide
    val row = got.where(col("doc_id") === 7L).head()
    assert(row.getAs[Long]("n_grams") === 6L)
    assert(row.getAs[Long]("n_shared") === 2L)
    assert(got.where(col("n_shared") < 2L).count() === 0)
  }

  test("exact dedup exact-mode: hash collisions keep distinct texts (forced collision)") {
    // real xxhash64 collisions are impractical to craft — force one with
    // a constant hash column: ALL rows 'collide'
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    // default (hash-only) mode under total collision: ONE survivor —
    // the documented ~2.7e-8 loss mode at 10^12 docs
    val hashOnly = Dedup.dropExactDuplicatesBy(
      df, "doc_id", "text", lit(0L), exact = false).collect()
    assert(hashOnly.length === 1 && hashOnly.head.getLong(0) === 1L)
    // exact mode: texts compared within the colliding hash group —
    // "beta" survives the collision, true dup (3,"alpha") still drops
    val exact = Dedup.dropExactDuplicatesBy(
        df, "doc_id", "text", lit(0L), exact = true)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(exact === Array((1L, "alpha"), (2L, "beta")))
    // on real (collision-free) data both modes agree
    val a = Dedup.dropExactDuplicates(docs, "doc_id", "text").count()
    val b = Dedup.dropExactDuplicates(docs, "doc_id", "text", exact = true).count()
    assert(a === b)
  }

  test("dropExactDuplicates keepBy: best copy survives, ties fall back to min id") {
    val df = Seq(
      (1L, "same", 0.2), (2L, "same", 0.9), (3L, "same", 0.9),
      (4L, "uniq", 0.1))
      .toDF("doc_id", "text", "q")
    // keep the HIGHEST-quality copy: minimize (-q, id) → id 2 (0.9, tie
    // with 3 broken by id); unique text untouched
    val kept = Dedup.dropExactDuplicates(df, "doc_id", "text",
        keepBy = Some(-$"q"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L))
    // default (no keepBy) unchanged: min id wins
    val dflt = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(dflt === Array(1L, 4L))
    // keepBy composes with exact mode (collision-safe text comparison)
    val both = Dedup.dropExactDuplicatesBy(df, "doc_id", "text", lit(0L),
        exact = true, keepBy = Some(-$"q"))
      .select("doc_id").as[Long].collect().sorted
    assert(both === Array(2L, 4L))
  }

  test("materialized windows: shared offsets frame reused by placement + assembly, then released") {
    import graft.operators.Packing
    val df = Seq(
      (1L, Seq(10, 11, 12)),
      (2L, Seq(20, 21, 22, 23)),
      (3L, Seq(30)))
      .toDF("doc_id", "tokens")
      .withColumn("sz", size($"tokens"))
    val offs = Packing.globalOffsets(df, "doc_id", "sz")
    val placed = Packing.concatChunk(df, "doc_id", "sz", 5L, Some(offs))
      .select("doc_id", "first_window", "last_window")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(placed === Array((1L, 0L, 0L), (2L, 0L, 1L), (3L, 1L, 1L)))
    val w = Packing.materializeWindows(df, "doc_id", "tokens", "sz", 5L, Some(offs))
      .orderBy("window_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(w === Seq(0L -> Seq(10, 11, 12, 20, 21), 1L -> Seq(22, 23, 30)))
    // release the checkpoint blocks — must not throw, and must actually
    // unpersist the pinned RDD backing the offsets frame
    Packing.releaseOffsets(offs)
    val stillCached = offs.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE => l
    }
    assert(stillCached.isEmpty, "offsets checkpoint blocks not released")
  }

  test("assignSplits modulo mode rejects fractional numeric key TYPES up front") {
    import graft.operators.Mixing
    val frac = Seq(1.5, 2.0).toDF("k")
    val ex = intercept[IllegalArgumentException] {
      Mixing.assignSplits(frac, "k", Seq("a" -> 0.5, "b" -> 0.5),
        granularity = 100, hashKey = false)
    }
    assert(ex.getMessage.contains("fractional"))
    // hash mode takes any type, including fractional
    assert(Mixing.assignSplits(frac, "k", Seq("a" -> 0.5, "b" -> 0.5))
      .count() === 2)
  }

  test("ngram contamination: shared-shingle counts match hand-computed overlap") {
    val corpus = Seq((1L, "a b c d e f"), (2L, "x y z w q r"),
      (3L, "c d e f g h")).toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e f g")).toDF("bench_id", "btext")
    val hits = Dedup.ngramContamination(corpus, "doc_id", "text",
        bench, "bench_id", "btext", n = 3, minHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc1 3-grams {abc,bcd,cde,def} ∩ bench {bcd,cde,def,efg} = 3
    // doc3 3-grams {cde,def,efg,fgh} ∩ bench = 3; doc2 disjoint
    assert(hits === Map((1L, 100L) -> 3L, (3L, 100L) -> 3L))
    val strict = Dedup.ngramContamination(corpus, "doc_id", "text",
      bench, "bench_id", "btext", n = 3, minHits = 4)
    assert(strict.count() === 0)
  }

  test("simhash: identical text → identical signature; near-dup banding finds it") {
    val withDup = docs.limit(60).unionByName(
      docs.where($"doc_id" === 2).withColumn("doc_id", lit(7777L)))
    val pairs = Dedup.simhashNearDuplicates(withDup, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 2L && b == 7777L && h == 0 })
  }

  test("simhash bucket cap drops degenerate buckets but counts them") {
    val same = (1L to 30L).toDF("doc_id")
      .withColumn("text", lit("same short boilerplate text"))
    val pairs = Dedup.simhashNearDuplicates(same, "doc_id", "text",
      maxHamming = 3, maxBucket = 10)
    assert(pairs.count() === 0) // every bucket overflows the cap
    val over = Dedup.simhashOverflowBuckets(same, "doc_id", "text", maxBucket = 10)
      .collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("n_docs") === 30L))
  }

  test("embedding near-dup: LSH buckets find the injected identical vector") {
    val withDup = embs.limit(100).unionByName(
      embs.where($"vec_id" === 3).withColumn("vec_id", lit(6666L)))
    val pairs = Dedup.embeddingNearDuplicates(withDup, "vec_id", "embedding",
      dim = 64, threshold = 0.999)
    val hits = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((3L, 6666L)))
  }

  // ---------- similarity ----------

  lazy val queryVec: Array[Float] =
    embs.where($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray

  test("brute-force top-k: query vector's own id ranks first with score 1") {
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", queryVec, 5).collect()
    assert(top.head.getLong(0) === 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    assert(top.length === 5)
    // scores descend
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("IVF top-k with full probing equals brute force; partial probing is a subset") {
    val index = Similarity.buildIvf(embs, "vec_id", "embedding", nCentroids = 8)
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", queryVec, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(index, "vec_id", "embedding", queryVec, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full === brute) // probing all cells == exact
    val partial = Similarity.ivfTopK(index, "vec_id", "embedding", queryVec, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(partial.subsetOf(brute.toSet ++ partial)) // sane; recall checked below
    assert(partial.contains(0L)) // the exact match lives in the probed cell
  }

  test("IVF batched probe: one job agrees with the per-query ivfTopK loop") {
    val index = Similarity.buildIvf(embs, "vec_id", "embedding", nCentroids = 8)
    val queries = embs.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding")
    val batch = Similarity.ivfTopKBatch(index, "vec_id", "embedding",
        queries, "qid", "embedding", k = 10, nProbe = 2)
      .select("query_id", "id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val looped = queries.collect().flatMap { r =>
      val qid = r.getLong(0)
      Similarity.ivfTopK(index, "vec_id", "embedding",
          r.getSeq[Float](1).toArray, k = 10, nProbe = 2)
        .collect().map(x => (qid, x.getLong(0), math.round(x.getDouble(1) * 1e9)))
    }.toSet
    assert(batch === looped)
    // every query's own vector is in the probed cell → rank-1 self hit
    val self = Similarity.ivfTopKBatch(index, "vec_id", "embedding",
        queries, "qid", "embedding", k = 1, nProbe = 2).collect()
    assert(self.forall(r => r.getLong(0) === r.getLong(1)))
    // the driver-collect bound is ENFORCED, not implicit: an oversized
    // query frame raises instead of silently OOMing the driver
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfTopKBatch(index, "vec_id", "embedding",
        embs.select($"vec_id".as("qid"), $"embedding"),
        "qid", "embedding", k = 1, nProbe = 2, maxQueries = 3)
    }
    assert(ex.getMessage.contains("maxQueries"))
  }

  test("PQ: identical vectors encode identically; codes compress >= 16x") {
    val normed = Similarity.withL2Normalized(embs, "embedding", "nvec")
    val doubled = normed.unionByName(
      normed.where($"vec_id" < 10).withColumn("vec_id", $"vec_id" + 7000L))
    val model = Similarity.trainPq(doubled, "nvec", nSub = 8, nCodes = 16,
      iters = 1)
    assert(model.nSub === 8 && model.subDim === 8)
    val enc = Similarity.pqEncodeAll(doubled, "nvec", model)
    // binary codes: exactly nSub bytes per vector — 64 float32 (256 B)
    // compress to 8 B = 32x, comfortably past the 16x bar
    val lens = enc.select(length($"pq_codes")).distinct()
      .as[Int].collect().toSeq
    assert(lens === Seq(8))
    val dim = embs.select(size($"embedding")).head().getInt(0)
    assert(dim * 4 / model.nSub >= 16)
    // planted twins (identical floats) get byte-identical codes
    val twins = enc.where($"vec_id" < 10).select($"vec_id", $"pq_codes")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val copies = enc.where($"vec_id" >= 7000L && $"vec_id" < 7010L)
      .select($"vec_id", $"pq_codes")
      .collect().map(r => (r.getLong(0) - 7000L) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(twins === copies)
  }

  test("PQ ADC top-k agrees with brute-force cosine within quantization tolerance") {
    // set-overlap with brute-force is NOT the right bar on random
    // vectors (beyond the self-match the true neighborhood is a dead
    // heat ADC cannot rank) — the guaranteed property is the score
    // bound: |adc(x) − dot(q,x)| = |dot(q, x̂−x)| ≤ maxErr for every x,
    // so every ADC top-10 pick's TRUE score is ≥ (brute 10th score −
    // 2·maxErr). That inequality pins encode/LUT/ADC consistency
    // end-to-end; the identical-encoding test pins exactness.
    val normed = Similarity.withL2Normalized(embs, "embedding", "nvec")
      .cache()
    val model = Similarity.trainPq(normed, "nvec", nSub = 8, nCodes = 32,
      iters = 2)
    val enc = Similarity.pqEncodeAll(normed, "nvec", model)
      .select($"vec_id", $"pq_codes", $"nvec")
    val qs = normed.where($"vec_id" < 4)
      .select($"vec_id", $"nvec").collect()
    qs.foreach { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Float](1).toArray
      val lut = model.adcLut(q)
      val scored = enc.select($"vec_id",
        graft.functions.VectorExpressions.pqAdcScore($"pq_codes", lut)
          .as("adc"),
        graft.functions.VectorExpressions.dot($"nvec", typedLit(q.toSeq))
          .as("dot")).cache()
      val maxErr = scored.agg(max(abs($"adc" - $"dot"))).head().getDouble(0)
      // the codes must carry real signal: error well inside the dot range
      assert(maxErr < 0.9, s"quantization error too large: $maxErr")
      val brute10th = Similarity
        .bruteForceTopK(normed, "vec_id", "nvec", q, 10)
        .agg(min($"score")).head().getDouble(0)
      val adcTop = Similarity.pqTopK(enc, "vec_id", "pq_codes", model, q, 10)
        .join(scored.select($"vec_id", $"dot"), Seq("vec_id"))
      val worstTrue = adcTop.agg(min($"dot")).head().getDouble(0)
      assert(worstTrue >= brute10th - 2 * maxErr - 1e-6,
        s"q=$qid: ADC pick true-score $worstTrue below tolerance " +
        s"(brute 10th $brute10th, maxErr $maxErr)")
      // the self vector dominates random cross-sims by construction and
      // quantization error is bounded: the query itself must surface
      assert(adcTop.where($"vec_id" === qid).count() === 1L,
        s"q=$qid: self vector missing from ADC top-10")
      scored.unpersist()
    }
    normed.unpersist()
  }

  test("pqTopKBatch: one job reproduces the per-query pqTopK loop exactly") {
    val normed = Similarity.withL2Normalized(embs, "embedding", "nvec")
    val model = Similarity.trainPq(normed, "nvec", nSub = 8, nCodes = 32,
      iters = 1)
    val enc = Similarity.pqEncodeAll(normed, "nvec", model)
      .select($"vec_id", $"pq_codes")
    val qs = normed.where($"vec_id" < 4)
      .select($"vec_id", $"nvec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val batched = Similarity
      .pqTopKBatch(enc, "vec_id", "pq_codes", model, qs, k = 5)
      .select($"query_id", $"vec_id", $"adc_score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val looped = qs.flatMap { case (qid, qv) =>
      Similarity.pqTopK(enc, "vec_id", "pq_codes", model, qv, 5)
        .collect().map(r => (qid, r.getLong(0)))
    }.toSet
    assert(batched === looped)
    // per-query top-k must prune BEFORE the exchange (WindowGroupLimit
    // partial), and the whole batch is one window — never |Q| scans
    val plan = Similarity
      .pqTopKBatch(enc, "vec_id", "pq_codes", model, qs, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"batched probe must map-side-prune to k per query:\n$plan")
    val guard = intercept[IllegalArgumentException] {
      Similarity.pqTopKBatch(enc, "vec_id", "pq_codes", model, qs,
        k = 5, maxQueries = 2)
    }
    assert(guard.getMessage.contains("maxQueries"))
  }

  test("IVF-PQ composed index: byte codes in the bucketed layout, pruned ADC probe") {
    // the combined layout: PQ compresses what a probe reads, IVF bounds
    // how much is read — planted twins survive both (identical floats →
    // same centroid argmax AND identical codes)
    val normed = Similarity.withL2Normalized(embs, "embedding", "nvec")
    val doubled = normed.unionByName(
      normed.where($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 7000L))
    val index = Similarity.buildIvfPq(doubled, "vec_id", "nvec",
      nCentroids = 4, nSub = 8, nCodes = 32)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPq(index, dir)
    val stored = Similarity.readIvfPq(spark, dir)
    assert(stored.model.asSeq === index.model.asSeq)
    assert(stored.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    // stored payload is id + nSub bytes — the floats never hit disk
    assert(stored.codes.schema.fieldNames.sorted ===
      Array("centroid_id", "pq_codes", "vec_id"))
    // full-probe from storage == flat ADC over all codes (round-trip)
    val q = normed.where($"vec_id" === 3L).select($"nvec")
      .head().getSeq[Float](0).toArray
    val flat = Similarity.pqTopK(
      Similarity.pqEncodeAll(doubled, "nvec", index.model),
      "vec_id", "pq_codes", index.model, q, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfPqTopK(stored, "vec_id", q, 10,
      nProbe = 4).collect().map(_.getLong(0)).toSeq
    assert(full === flat)
    // planted twin recall through the full stack: both copies of vec 3
    // surface in the pruned single-cell probe (same floats, same cell)
    val probed1 = Similarity.ivfPqTopK(stored, "vec_id", q, 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(probed1.contains(3L) && probed1.contains(7003L))
    // pruning pin: the probe lists only nProbe centroid directories
    val probed = Similarity.ivfPqTopK(stored, "vec_id", q, 10, nProbe = 2)
    val phys = probed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("centroid_id")))
    val pruned = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(pruned.length === 2, s"expected 2 probed partitions, listed ${pruned.length}")
  }

  test("IVF bucketed storage: probed read lists ONLY the probed partitions") {
    val index = Similarity.buildIvf(embs, "vec_id", "embedding", nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvf(index, dir)
    val stored = Similarity.readIvf(spark, dir)
    assert(stored.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    // full probe from storage == brute force (round-trip preserves data)
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", queryVec, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(stored, "vec_id", "embedding", queryVec, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full === brute)
    // pruning pin: the scan's partition filters select exactly nProbe
    // directories — this is what makes IVF read ~nProbe/nCentroids of
    // the data instead of filtering rows after a full scan
    val probed = Similarity.ivfTopK(stored, "vec_id", "embedding", queryVec, 10, nProbe = 2)
    val phys = probed.queryExecution.executedPlan match { // unwrap AQE
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("centroid_id")),
      s"expected a partition filter on centroid_id, got ${scan.partitionFilters}")
    val pruned = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(pruned.length === 2, s"expected 2 probed partitions, listed ${pruned.length}")
  }

  test("topKForQueries: per-query window rank, corpus unshuffled") {
    val queries = embs.where($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val top = Similarity.topKForQueries(embs, "vec_id", "embedding",
      queries, "query_id", "qvec", 3)
    val byQuery = top.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === 3)
      assert(rows.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("id") === q)
    }
  }

  // ---------- text analysis ----------

  test("token counts: whitespace and bpe-ish; n_chars matches length") {
    val row = TextAnalysis.analyze(docs, "doc_id", "text")
      .join(docs.select("doc_id", "text", "n_chars"), "doc_id")
      .where($"doc_id" === 1).head()
    val text = row.getAs[String]("text")
    assert(row.getAs[Int]("n_words") === text.trim.split("\\s+").length)
    assert(row.getAs[Int]("n_bpeish_tokens") >= row.getAs[Int]("n_words"))
    assert(row.getAs[org.apache.spark.sql.Row]("quality").getAs[Double]("n_chars")
      === row.getAs[Long]("n_chars").toDouble)
  }

  test("language id: stopword-dominant synthetic docs classify correctly") {
    val labeled = Seq(
      ("the cat and the dog of it is that", "en"),
      ("el la de que y en los se del las", "es"),
      ("der die und das ist von den mit", "de"),
      ("le la les de des et est dans que une", "fr"),
      ("这是一个中文句子我们的大", "zh"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
    val got = labeled.select(TextAnalysis.langId($"text").as("pred"), $"expected")
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("vocab tokenizer: rank ids, OOV sentinel, blank text, round-trip with vocab") {
    val corpus = Seq("the cat sat", "the the dog", "THE  Cat", "").toDF("text")
    // counts: the=4, cat=2, dog=1, sat=1 → ids the=0, cat=1, dog=2, sat=3
    val vocab = TextAnalysis.buildVocab(corpus, "text", size = 3)
    assert(vocab === Seq("the", "cat", "dog")) // n desc, word asc at the tie
    val got = corpus.select(
        TextAnalysis.tokenize($"text", vocab, unkId = -1).as("ids"))
      .collect().map(_.getSeq[Int](0))
    assert(got === Seq(Seq(0, 1, -1), Seq(0, 0, 2), Seq(0, 1), Seq.empty))
    // full-size vocab: every word resolvable, tokenize∘vocab is total
    val all = TextAnalysis.buildVocab(corpus, "text", size = 100)
    assert(all.length === 4)
    val none = corpus.select(TextAnalysis.tokenize($"text", all).as("ids"))
      .select(explode($"ids").as("id")).where($"id" === -1).count()
    assert(none === 0L)
  }

  test("heavy hitters: exact counts below sketch capacity, partial agg before shuffle") {
    val data = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      Seq.fill(5)("d")).toDF("v").repartition(4)
    val got = graft.operators.Profile.heavyHitters(data, "v", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got === Seq(("a", 50L), ("b", 30L), ("c", 20L)))
    val plan = graft.operators.Profile.heavyHitters(data, "v", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_top_k"),
      s"sketch must combine map-side before the shuffle:\n$plan")
  }

  test("url canonicalization: case/port/params/fragment rules, invalids null, idempotent") {
    import graft.functions.CanonicalUrl.canonicalize
    assert(canonicalize("HTTPS://User@Host.COM:443/a/b?z=1&utm_campaign=c&y=2&gclid=g#x")
      === "https://User@host.com/a/b?y=2&z=1")
    assert(canonicalize("http://h.com:8080") === "http://h.com:8080/")
    assert(canonicalize("http://H.com/p?utm_a=1&UTM_b=2") === "http://h.com/p")
    assert(canonicalize("http://h.com/p?b=2&a=1&a=10") === "http://h.com/p?a=1&a=10&b=2")
    assert(canonicalize("not a url") === null)
    assert(canonicalize("mailto:a@b.com") === null)
    assert(canonicalize("http://") === null)
    for (u <- Seq("HTTP://A.B:80/x?b=1&a=2#f", "https://q.z/", "http://h.com:8080/p?a=1")) {
      val once = canonicalize(u)
      assert(canonicalize(once) === once, s"not idempotent on $u")
    }
    // the Column path agrees with the driver-side function
    val urls = Seq("HTTP://A.B:80/x?b=1&utm_x=0&a=2#f", "nope").toDF("u")
    val got = urls.select(graft.functions.CanonicalUrl.canonicalUrl($"u").as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(got === Seq(Some("http://a.b/x?a=2&b=1"), None))
  }

  test("unicode normalization: NFC composes, NFKC folds compat chars, idempotent") {
    def norm(t: String, form: String): String =
      Seq(t).toDF("t").select(TextExpressions.normalizeText($"t", form)).head().getString(0)
    assert(norm("café", "NFC") === "café")
    assert(norm("café", "NFC") === "café")
    assert(norm("ﬁsh", "NFC") === "ﬁsh")
    assert(norm("ﬁsh", "NFKC") === "fish")
    // idempotence + dedup motivation: both spellings hash equal after NFC
    val hashes = Seq("café", "café").toDF("t")
      .select(xxhash64(TextExpressions.normalizeText($"t", "NFC")))
      .collect().map(_.getLong(0))
    assert(hashes(0) === hashes(1))
  }

  test("compression ratio: repetitive text compresses far below shuffled text") {
    val repetitive = "spam spam spam spam " * 50
    val varied = (1 to 200).map(i => s"w${i * 7919 % 1000}").mkString(" ")
    def ratio(t: String): Double =
      Seq(t).toDF("t").select(TextExpressions.compressionRatio($"t")).head().getDouble(0)
    assert(ratio(repetitive) < 0.1, s"repetitive: ${ratio(repetitive)}")
    assert(ratio(varied) > ratio(repetitive) * 3, s"varied: ${ratio(varied)}")
    assert(ratio("") === 1.0)
    // deterministic across evaluations
    assert(ratio(repetitive) === ratio(repetitive))
  }

  test("pii: detection counts and redaction on hand-built strings") {
    val rows = Seq(
      (1L, "contact user5@example.com and admin@sub.domain.org now"),
      (2L, "call 555-123-4567 or 555 987 6543"),
      (3L, "from 192.168.1.99 to 10.0.0.1 not 1234.5.6.7"),
      (4L, "plain text no pii")).toDF("id", "t")
    val got = rows.select($"id",
        TextAnalysis.piiCounts($"t").as("p"),
        TextAnalysis.redactPii($"t").as("r"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getInt(0), r.getStruct(1).getInt(1), r.getStruct(1).getInt(2),
          r.getString(2))).toMap
    assert(got(1L)._1 === 2 && got(1L)._4 === "contact [EMAIL] and [EMAIL] now")
    assert(got(2L)._2 === 2 && got(2L)._4 === "call [PHONE] or [PHONE]")
    // "1234.5.6.7" must NOT match (word boundary blocks a mid-number start)
    assert(got(3L)._3 === 2 && got(3L)._4 === "from [IP] to [IP] not 1234.5.6.7")
    assert(got(4L) === ((0, 0, 0, "plain text no pii")))
  }

  test("logistic quality: sigmoid of log-odds, matches driver computation") {
    val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
      "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
    val rows = docs.limit(50).select(
        $"doc_id",
        TextAnalysis.textProfile($"text").as("tp"))
      .select($"doc_id", $"tp",
        TextAnalysis.logOddsFrom($"tp", -2.0, w).as("z"),
        TextAnalysis.logisticScoreFrom($"tp", -2.0, w).as("score"))
      .collect()
    rows.foreach { r =>
      val tp = r.getStruct(1)
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val z = r4(tp.getAs[Double]("mean_word_len")) * 0.5 +
        tp.getAs[Int]("n_words") * 0.02 +
        r4(tp.getAs[Double]("punct_ratio")) * -8.0 +
        r4(tp.getAs[Double]("stopword_ratio")) * 4.0 + -2.0
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-12, s"doc ${r.getLong(0)}")
      assert(math.abs(r.getAs[Double]("score") - 1.0 / (1.0 + math.exp(-z))) < 1e-12)
    }
  }

  test("mixing: modulo path hits exact per-source fractions; hash path deterministic") {
    import graft.operators.Mixing
    // dense ids 0..999, one source per id%4 → 250 docs each
    val df = (0L until 1000L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val sampled = Mixing.sampleByWeights(df, "doc_id", "source",
      Map("s0" -> 1.0, "s1" -> 0.5), defaultWeight = 0.0,
      granularity = 100, hashKey = false)
    val counts = sampled.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // s0: all 250. s1: ids ≡1 (mod 4) with id%100 < 50 — per hundred the
    // s1 ids are 1,5,…,97 (25) of which 1,5,…,49 (13) pass → 130 of 250.
    assert(counts === Map("s0" -> 250L, "s1" -> 130L))
    // hash path: deterministic across runs, approximately the weight
    val h1 = Mixing.sampleByWeights(df, "doc_id", "source",
      Map("s0" -> 0.5), defaultWeight = 0.0).collect().map(_.getLong(0)).toSet
    val h2 = Mixing.sampleByWeights(df, "doc_id", "source",
      Map("s0" -> 0.5), defaultWeight = 0.0).collect().map(_.getLong(0)).toSet
    assert(h1 === h2)
    assert(math.abs(h1.size - 125.0) < 40, s"got ${h1.size} of ~125")
    // realized mix sums to 1
    val mix = Mixing.realizedMix(sampled, "source").collect()
    assert(math.abs(mix.map(_.getDouble(2)).sum - 1.0) < 1e-6)
  }

  test("quality score in [0,1]; fingerprint deterministic") {
    val a = TextAnalysis.analyze(docs, "doc_id", "text").cache()
    val scores = a.select("quality_score").collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    val f1 = a.select("doc_id", "fingerprint").collect().toSeq
    val f2 = TextAnalysis.analyze(docs, "doc_id", "text")
      .select("doc_id", "fingerprint").collect().toSeq
    assert(f1.toSet === f2.toSet)
    // identical texts share fingerprints
    val same = Seq("hello world foo bar baz quux alpha beta gamma delta epsilon zeta",
      "hello world foo bar baz quux alpha beta gamma delta epsilon zeta").toDF("t")
      .select(TextExpressions.fingerprint($"t", 32).as("f")).collect()
    assert(same(0).getLong(0) === same(1).getLong(0))
  }

  // ---------- multimodal ----------

  test("png codec: grid-pooled grayscale matches hand-computed values") {
    // 2×2 image: pixel (x,y) lands in grid cell (y*4/2)*4 + x*4/2 —
    // cells 0, 2, 8, 10 hold one pixel each, the other 12 stay 0
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFFFFFF) // gray 1.0
    img.setRGB(1, 0, 0x000000) // gray 0.0
    img.setRGB(0, 1, 0x7F7F7F) // gray 127/255
    img.setRGB(1, 1, 0xFF0000) // gray 255/765
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val f = Multimodal.pngFeatures(out.toByteArray)
    assert(f.length === Multimodal.FeatureDim)
    assert(math.abs(f(0) - 1.0f) < 1e-6, f.toSeq)
    assert(f(2) === 0.0f)
    assert(math.abs(f(8) - 127.0f / 255.0f) < 1e-6)
    assert(math.abs(f(10) - 255.0f / 765.0f) < 1e-6)
    assert((0 until 16).filterNot(Set(0, 2, 8, 10)).forall(f(_) === 0.0f))
  }

  test("wav codec: windowed mean-|amplitude| matches hand-computed values") {
    // 32 samples, 16 windows of 2; samples 2j and 2j+1 both = j*1000
    val pcm = new Array[Byte](64)
    (0 until 32).foreach { i =>
      val s = ((i / 2) * 1000).toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val f = Multimodal.wavFeatures(Multimodal.wavFromPcm(pcm))
    (0 until 16).foreach { j =>
      assert(math.abs(f(j) - (j * 1000) / 32768.0f) < 1e-6, s"window $j")
    }
  }

  test("synthetic media payloads are real decodable PNG/WAV containers") {
    val png = Multimodal.syntheticPng(5L, 9, 8)
    assert(png.take(4).toSeq === Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === 9 && img.getHeight === 8)
    // pixel (0,0) of id=5: r=(5*31)%256=155, g=(5*17)%256=85, b=(5*53)%256=9
    assert((img.getRGB(0, 0) & 0xFFFFFF) === ((155 << 16) | (85 << 8) | 9))
    val wav = Multimodal.syntheticWav(5L, 800)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(Multimodal.wavFeatures(wav).length === Multimodal.FeatureDim)
  }

  test("image resize: real pixels, aspect preserved, pass-through cases") {
    val big = Multimodal.syntheticPng(3L, 16, 10)
    val resized = Multimodal.resizePng(big, 8)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth === 8 && img.getHeight === 5) // 16x10 → cap 8 → 8x5
    // within-bounds payload returns unchanged; determinism
    assert(Multimodal.resizePng(big, 32) eq big)
    assert(Multimodal.resizePng(big, 8).toSeq === resized.toSeq)
    // distributed form: PNG rows shrink, others untouched
    val media = Multimodal.syntheticMedia(spark, 30)
    val out = Multimodal.resizeImages(media, maxSide = 8).collect()
    assert(out.length === 30)
    out.filter(_.mime == "image/png").foreach { r =>
      assert(math.max(r.width, r.height) <= 8, s"media ${r.media_id}")
      val d = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      assert(d.getWidth === r.width && d.getHeight === r.height)
    }
    val vids = media.collect().filter(_.mime == "video/x-msvideo").map(r => r.media_id -> r.payload.toSeq).toMap
    out.filter(_.mime == "video/x-msvideo").foreach(r => assert(r.payload.toSeq === vids(r.media_id)))
  }

  test("avi codec: container round-trips, frames sampled evenly, corrupt tail tolerated") {
    // two solid-gray frames → every pooled cell ≈ the frame mean (JPEG-lossy)
    def solid(v: Int, w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val avi = Multimodal.aviFromJpegFrames(
      Seq(solid(64, 16, 12), solid(192, 16, 12)), 16, 12)
    assert(new String(avi.take(4), "US-ASCII") === "RIFF")
    assert(Multimodal.aviMjpegFrames(avi).length === 2)
    val (n, feats) = Multimodal.aviFeatures(avi, frameSample = 4)
    assert(n === 2) // clip shorter than the sample budget: all frames
    val expected = (64 + 192) / 2.0 / 255.0
    feats.foreach(f => assert(math.abs(f - expected) < 0.02, s"$f vs $expected"))
    // sampling: 6-frame synthetic clip, budget 4 → exactly 4 decoded
    val six = Multimodal.syntheticAviMjpeg(2L, 16, 12, 6)
    assert(Multimodal.aviFeatures(six, 4)._1 === 4)
    assert(Multimodal.aviFeatures(six, 4)._2.toSeq ===
      Multimodal.aviFeatures(six, 4)._2.toSeq) // deterministic
    // corrupt tail: truncation mid-chunk keeps the frames before it
    assert(Multimodal.aviMjpegFrames(avi.take(avi.length - 10)).length === 1)
    assert(Multimodal.aviMjpegFrames(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.aviFeatures(Array.fill(64)(7.toByte), 4)._1 === 0)
    // hostile chunk length (0x7FFFFFF0): must not throw or wrap negative
    val hostile = "RIFF".getBytes ++ Array[Byte](0, 1, 0, 0) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ Array[Byte](-16, -1, -1, 127) ++ "movi".getBytes ++
      Array.fill(32)(0.toByte)
    assert(Multimodal.aviMjpegFrames(hostile).isEmpty) // clamped walk, no crash
    // frames nested in a 'rec ' grouping LIST (interleaved-AVI layout)
    // still decode: rebuild the movi body with the frames wrapped
    def le(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val jpeg = solid(100, 16, 12)
    val framePad = if (jpeg.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    val dc = "00dc".getBytes ++ le(jpeg.length) ++ jpeg ++ framePad
    val rec = "LIST".getBytes ++ le(4 + dc.length) ++ "rec ".getBytes ++ dc
    val movi = "LIST".getBytes ++ le(4 + rec.length) ++ "movi".getBytes ++ rec
    val body = "AVI ".getBytes ++ movi
    val interleaved = "RIFF".getBytes ++ le(body.length) ++ body
    assert(Multimodal.aviMjpegFrames(interleaved).length === 1)
    assert(Multimodal.aviFeatures(interleaved, 4)._1 === 1)
  }

  // ---------- corpus gating ----------

  test("gopher quality filter: per-rule attribution and the keep gate") {
    // 60 words, 50% stopwords, 31 distinct, mwl 4.0, no caps/digits/punct
    val good = (1 to 30).flatMap(i => Seq("the", s"w${('a' + i % 26).toChar}ord"))
      .mkString(" ")
    val corpus = Seq(
      (0L, good),               // passes every rule
      (1L, "tiny doc"),         // fails r_word_count (and r_stopword)
      (2L, good.toUpperCase),   // fails ONLY r_upper (words lower-cased first)
      (3L, (1 to 30).flatMap(_ => Seq("the", "spam")).mkString(" ")) // r_repetition
    ).toDF("doc_id", "text")
    val rep = TextAnalysis.qualityFilterReport(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rep(0L).getAs[Int]("keep") === 1)
    Seq("r_word_count", "r_mean_word_len", "r_punct", "r_stopword",
      "r_digit", "r_upper", "r_repetition").foreach(n =>
      assert(rep(0L).getAs[Int](n) === 1, n))
    assert(rep(1L).getAs[Int]("r_word_count") === 0)
    assert(rep(1L).getAs[Int]("keep") === 0)
    assert(rep(2L).getAs[Int]("r_upper") === 0)
    assert(rep(2L).getAs[Int]("r_word_count") === 1)
    assert(rep(2L).getAs[Int]("r_stopword") === 1) // "THE" lower-cases to a stopword
    assert(rep(2L).getAs[Int]("r_repetition") === 1)
    assert(rep(3L).getAs[Int]("r_repetition") === 0)
    assert(rep(3L).getAs[Int]("r_word_count") === 1)
    // the gate keeps exactly the clean row, schema untouched
    val kept = TextAnalysis.applyQualityFilter(corpus, "text")
    assert(kept.schema === corpus.schema)
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(0L))
  }

  test("domain blocklist: suffix semantics; predicate and join paths agree") {
    import graft.operators.WebFilter
    val rows = Seq(
      (0L, "http://src3.example.com/a"),           // exact hit
      (1L, "https://www.src3.example.com/b?x=1"),  // subdomain hit
      (2L, "http://deep.a.b.c.d.src3.example.com"),// beyond-depth labels still hit
      (3L, "http://notsrc3.example.com/c"),        // label boundary: NOT a hit
      (4L, "http://src7.net:8080/d"),              // port stripped, hit
      (5L, "http://example.com/e"),                // apex not listed: kept
      (6L, "not a url at all"),                    // null host: kept
      (7L, "http://SRC7.NET/upper")                // case-insensitive hit
    ).toDF("id", "url")
    val blocklist = Seq("src3.example.com", "SRC7.net")
    val keptPred = WebFilter.filterBlockedHosts(rows, "url", blocklist)
      .select("id").as[Long].collect().toSet
    assert(keptPred === Set(3L, 5L, 6L))
    val blockDf = blocklist.toDF("domain")
    val keptJoin = WebFilter
      .filterBlockedHostsJoin(rows, "id", "url", blockDf)
      .select("id").as[Long].collect().toSet
    assert(keptJoin === keptPred)
    assert(WebFilter.filterBlockedHosts(rows, "url", blocklist).schema === rows.schema)
  }

  test("multimodal: batched feature extraction preserves ids, shape, determinism") {
    val media = Multimodal.syntheticMedia(spark, 200)
    val feats = Multimodal.extractFeatures(media, frameSample = 4, batchSize = 16)
    val rows = feats.collect()
    assert(rows.length === 200)
    assert(rows.forall(_.features.length === Multimodal.FeatureDim))
    assert(rows.filter(_.mime == "video/x-msvideo").forall(_.frames_sampled === 4))
    val again = Multimodal.extractFeatures(media, frameSample = 4, batchSize = 7)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    rows.foreach(f => assert(again(f.media_id) === f.features.toSeq)) // batch-size invariant
    val resized = Multimodal.planResize(
      media.toDF(), maxSide = 32)
    assert(resized.where($"target_width" > 32 || $"target_height" > 32).count() === 0)
  }

  test("min-k buffer: cap, distinctness, merge == union's k smallest") {
    import graft.functions.MinKBuffer
    def add(b: MinKBuffer, ks: Long*): Unit = ks.foreach(x => b.add(x, x))
    val a = new MinKBuffer(3)
    add(a, 9L, 2L, 7L, 2L, 11L, 1L) // dup 2 ignored
    assert(a.sortedKeys === Array(1L, 2L, 7L))
    val b = new MinKBuffer(3)
    add(b, 0L, 7L, 8L)
    a.merge(b) // union {0,1,2,7,8,9,11} → 3 smallest
    assert(a.sortedKeys === Array(0L, 1L, 2L))
    val full = new MinKBuffer(2)
    add(full, 5L, 5L, 5L) // all-dup input keeps one
    assert(full.sortedKeys === Array(5L))
  }

  test("min-k-by: payloads follow keys; repeats collapse; past-cap keys rejected; k = Int.MaxValue keeps all") {
    import graft.functions.MinKBuffer
    val b = new MinKBuffer(4)
    Seq(40L -> "d", 10L -> "a", 30L -> "c", 10L -> "a", 20L -> "b", 50L -> "e", 30L -> "c")
      .foreach { case (k, v) => b.add(k, v) }
    assert(b.sortedKeys === Array(10L, 20L, 30L, 40L))
    assert(b.sortedValues.toSeq === Seq("a", "b", "c", "d"))
    assert(!b.accepts(40L) && !b.accepts(99L) && b.accepts(39L))
    // uncapped: nothing preallocated, every distinct key kept in order
    val all = new MinKBuffer(Int.MaxValue)
    val keys = (1 to 5000).map(i => (i * 7919L) % 5003L) // a permutation
    keys.foreach(x => all.add(x, x.toString))
    keys.take(100).foreach(x => all.add(x, x.toString))
    assert(all.sortedKeys.toSeq === keys.distinct.sorted)
    assert(all.sortedValues.toSeq === keys.distinct.sorted.map(_.toString))
  }

  test("min-k-by aggregate: struct payloads survive serialize/deserialize; SQL spellings agree") {
    import graft.functions.CollectMinK
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val payload = StructType(Seq(StructField("v", StringType), StructField("n", LongType)))
    val agg = CollectMinK(BoundReference(0, LongType, nullable = true),
      BoundReference(1, payload, nullable = true), k = 3)
    val buf = agg.createAggregationBuffer()
    Seq(7L -> "g", 2L -> "b", 9L -> null, 4L -> "d", 1L -> "a").foreach { case (k, v) =>
      val p = if (v == null) null else InternalRow(UTF8String.fromString(v), k * 10)
      agg.update(buf, InternalRow(k, p))
    }
    agg.update(buf, InternalRow(null, InternalRow(UTF8String.fromString("z"), 0L))) // null key skipped
    val back = agg.deserialize(agg.serialize(buf))
    def render(b: graft.functions.MinKBuffer) = b.sortedValues.toSeq.map {
      case r: InternalRow => s"${r.getUTF8String(0)}:${r.getLong(1)}"
      case other => String.valueOf(other)
    }
    assert(back.sortedKeys === Array(1L, 2L, 4L))
    assert(render(back) === Seq("a:10", "b:20", "d:40"))
    assert(render(back) === render(buf))
    // Column and SQL spellings over a multi-partition frame
    val df = (1 to 40).map(i => (i % 2, (41 - i).toLong, s"v$i")).toDF("g", "key", "val")
      .repartition(4)
    val viaColumn = df.groupBy("g")
      .agg(CollectMinK.minKBy($"key", $"val", 3).as("top"),
        CollectMinK.minKBy($"key", $"val", Int.MaxValue).as("all"))
      .orderBy("g").collect()
    assert(viaColumn.map(_.getSeq[String](1)).toSeq ===
      Seq(Seq("v40", "v38", "v36"), Seq("v39", "v37", "v35")))
    assert(viaColumn.map(_.getSeq[String](2).size).toSeq === Seq(20, 20))
    df.createOrReplaceTempView("min_k_by_t")
    val viaSql = spark.sql(
      "SELECT g, graft_min_k_by(key, val, 3) AS top, graft_min_k(key, 2) AS ks " +
        "FROM min_k_by_t GROUP BY g ORDER BY g").collect()
    assert(viaSql.map(_.getSeq[String](1)).toSeq === viaColumn.map(_.getSeq[String](1)).toSeq)
    assert(viaSql.map(_.getSeq[Long](2)).toSeq === Seq(Seq(1L, 3L), Seq(2L, 4L)))
  }

  test("inverted index: df/tf/capped postings, hand-computed") {
    val corpus = Seq(
      (1L, "cat cat dog"),
      (2L, "cat bird"),
      (3L, "dog bird bird")).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(corpus, "doc_id", "text", k = 2)
      .orderBy("word").as[(String, Long, Long, String)].collect()
    assert(out === Array(
      ("bird", 2L, 3L, "2 3"),
      ("cat", 2L, 3L, "1 2"),
      ("dog", 2L, 2L, "1 3")))
    // k caps the posting sample at the SMALLEST ids
    val capped = TextAnalysis.invertedIndex(corpus, "doc_id", "text", k = 1)
      .where($"word" === "bird").as[(String, Long, Long, String)].head()
    assert(capped === (("bird", 2L, 3L, "2")))
  }

  test("inverted index: string id rejected at analysis time; null ids dropped") {
    val strIds = Seq(("doc-1", "cat")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.invertedIndex(strIds, "doc_id", "text")
    }
    assert(e.getMessage.contains("must be integral"))
    // null ids carry no identity for postings — excluded from df AND
    // tf_total (not just silently absent from the posting sample)
    val withNull = Seq((Some(1L), "cat"), (None, "cat cat"))
      .toDF("doc_id", "text")
    val row = TextAnalysis.invertedIndex(withNull, "doc_id", "text")
      .as[(String, Long, Long, String)].head()
    assert(row === (("cat", 1L, 1L, "1")))
  }

  test("pmiPairs: hand-computed scores, min-count floor, rounded-rank order") {
    // docs: {a,b} {a,b} {a,c} {b,c} {a} → N=5
    // doc counts: c(a)=4, c(b)=3, c(c)=2
    // pairs: (a,b)=2, (a,c)=1, (b,c)=1 → only (a,b) clears min 2
    val corpus = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"),
      (4L, "c b"), (5L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiPairs(corpus, "doc_id", "text",
        vocabSize = 10, minPairCount = 2, k = 5)
      .as[(String, String, Long, Double)].collect()
    val expected = BigDecimal(math.log(2.0 * 5 / (4 * 3)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Array(("a", "b", 2L, expected)))
  }

  test("pmiPairs: vocab bound excludes tail words from pairing") {
    // "z" appears once — with vocabSize=2 only {a,b} are eligible
    val corpus = Seq((1L, "a b z"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiPairs(corpus, "doc_id", "text",
        vocabSize = 2, minPairCount = 1, k = 10)
      .as[(String, String, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)) === Array(("a", "b")))
  }

  test("wordContainment: subset scores 1, partial overlap exact, empty query null") {
    val queries = Seq((10L, "a b"), (11L, "x y z"), (12L, ""))
      .toDF("q_id", "q_text")
    val corpus = Seq((1L, "a b c d"), (2L, "x q r"))
      .toDF("d_id", "text")
    val pairs = Seq((10L, 1L), (11L, 2L), (12L, 1L)).toDF("q_id", "d_id")
    val out = TextAnalysis.wordContainment(
        queries, "q_id", "q_text", corpus, "d_id", "text", pairs)
      .orderBy("q_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(out === Array(
      (10L, 1L, Some(1.0)),          // {a,b} ⊆ {a,b,c,d}
      (11L, 2L, Some(0.333333)),     // {x} of {x,y,z}
      (12L, 1L, None)))              // empty query set → null
  }

  test("quantileNormalize: percent_rank per group, ties share a value") {
    val df = Seq(("s1", 10L), ("s1", 20L), ("s1", 20L), ("s1", 30L),
      ("s2", 5L)).toDF("source", "v")
    val out = Mixing.quantileNormalize(df, "source", "v")
      .orderBy("source", "v").as[(String, Long, Double)].collect()
    assert(out === Array(
      ("s1", 10L, 0.0), ("s1", 20L, 0.333333), ("s1", 20L, 0.333333),
      ("s1", 30L, 1.0), ("s2", 5L, 0.0)))
  }

  test("retentionCohorts: hand-computed triangle; nulls dropped") {
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$d%d $h%02d:00:00")
    val events = Seq(
      (Some(1L), ts(1, 9)), (Some(1L), ts(1, 17)), (Some(1L), ts(2, 9)),
      (Some(2L), ts(1, 9)), (Some(2L), ts(3, 9)),
      (Some(3L), ts(2, 9)),
      (None, ts(1, 9))).toDF("user_id", "ts")
    val out = Sessionize.retentionCohorts(events, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(out === Array(
      ("2024-01-01", 0L, 2L),  // users 1, 2 first seen day 1
      ("2024-01-01", 1L, 1L),  // user 1 returns day 2
      ("2024-01-01", 2L, 1L),  // user 2 returns day 3
      ("2024-01-02", 0L, 1L))) // user 3 cohort of day 2
  }

  test("bpeTrain: hand-computed merge sequence on a tiny corpus") {
    // words: "low" ×3, "lower" ×1 → chars l o w (4), e r tail (1)
    // merge 1: pairs (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1
    //   → tie (l,o) vs (o,w) breaks on left asc: (l,o), count 4
    // merge 2: (lo,w)=4, (w,e)=1, (e,r)=1 → (lo,w), count 4
    // merge 3: (low,e)=1, (e,r)=1 → (e,r) ties (low,e)? counts 1,1 →
    //   left asc: "e" < "low" → (e,r), count 1
    // merge 4: (low,er)=1 → (low,er), count 1
    val corpus = Seq((1L, "low low lower"), (2L, "low")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(corpus, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect()
    assert(out === Array(
      (1L, "l", "o", 4L), (2L, "lo", "w", 4L),
      (3L, "e", "r", 1L), (4L, "low", "er", 1L)))
    // exhaustion: every word collapses to one symbol → stops early
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val ex = TextAnalysis.bpeTrain(tiny, "text", nMerges = 5)
      .as[(Long, String, String, Long)].collect()
    assert(ex === Array((1L, "a", "b", 1L)))
  }

  test("bpeTrain: disjoint adjacent occurrences all merge (banana case)") {
    // 'banana': (a,n) appears twice DISJOINTLY — one literal replace
    // would consume the shared delimiter and merge only the first;
    // reference BPE merges both, then (an,a) twice, etc.
    // banana×2: merge1 (a,n)=4 → b an an a; merge2 pairs:
    // (b,an)=2, (an,an)=2, (an,a)=2 → tie on count, left asc:
    // "an" < "b" → (an,a)? "an" vs "an": (an,a) vs (an,an): right asc
    // "a" < "an" → (an,a), count 2
    val corpus = Seq((1L, "banana"), (2L, "banana")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(corpus, "text", nMerges = 2)
      .as[(Long, String, String, Long)].collect()
    assert(out === Array((1L, "a", "n", 4L), (2L, "an", "a", 2L)))
  }

  test("groupPercentiles: hand-computed linear interpolation") {
    // group a: values 1..5 → p25 = 2, p50 = 3, p75 = 4
    // group b: values 10, 20 → p25 = 12.5, p50 = 15, p75 = 17.5
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
      ("b", 10L), ("b", 20L))).toDF("g", "v")
    val out = Profile.groupPercentiles(df, "g", "v")
      .as[(String, Double, Double, Double)].collect()
    assert(out === Array(("a", 2.0, 3.0, 4.0), ("b", 12.5, 15.0, 17.5)))
  }

  test("giniConcentration: equal masses → 0; dominance → near 1") {
    val eq = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("g", "m")
    val r = Profile.giniConcentration(eq, "g", col("m")).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 15L)
    assert(r.getDouble(2) === 0.0)
    // masses 1, 1, 98: G = 2*(1*1+2*1+3*98)/(3*100) - 4/3 = 0.646667
    val skew = Seq(("a", 98L), ("b", 1L), ("c", 1L)).toDF("g", "m")
    val g = Profile.giniConcentration(skew, "g", col("m")).head().getDouble(2)
    assert(g === BigDecimal(2.0 * (1 + 2 + 3 * 98) / 300 - 4.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("duplicateClusterHistogram: sizes from planted copies") {
    val df = Seq("x", "x", "x", "y", "y", "z").toDF("text")
    val out = Dedup.duplicateClusterHistogram(df, "text")
      .as[(Long, Long)].collect()
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("dailyTrend: ratio to previous present day, first day null") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d%d 10:00:00")
    val events = (Seq.fill(2)(("a", ts(1))) ++ Seq.fill(6)(("a", ts(2))) ++
      Seq.fill(3)(("a", ts(4))) ++ Seq(("b", ts(1))))
      .toDF("event_type", "ts")
    val out = graft.operators.Drift.dailyTrend(events, "ts", "event_type")
      .orderBy("event_type", "day").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out === Array(
      ("a", "2024-01-01", 2L, None),
      ("a", "2024-01-02", 6L, Some(3.0)),
      ("a", "2024-01-04", 3L, Some(0.5)), // vs last PRESENT day (the 2nd)
      ("b", "2024-01-01", 1L, None)))
  }

  test("conversionFunnel: order matters; empty stage still reports 0") {
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val events = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      (2L, ts(5), "click"), (2L, ts(6), "view"),   // click BEFORE view
      (3L, ts(1), "view")).toDF("user_id", "ts", "event_type")
    val out = Sessionize.conversionFunnel(events, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .as[(Long, String, Long)].collect()
    // user 2's click precedes their first view → not converted
    assert(out === Array(
      (1L, "view", 3L), (2L, "click", 1L), (3L, "purchase", 1L)))
    // a funnel nobody finishes still reports the cliff
    val none = Sessionize.conversionFunnel(events, "user_id", "ts",
        "event_type", Seq("purchase", "view"))
      .as[(Long, String, Long)].collect()
    assert(none === Array((1L, "purchase", 1L), (2L, "view", 0L)))
  }

  test("urlFeatures: full URL, userinfo+port strip, malformed → nulls") {
    val df = Seq(
      "https://user:pw@WWW.Example.COM:8080/a/b/c?x=1&y=2#frag",
      "http://host.org",
      "not a url").toDF("url")
    val out = df.select(graft.operators.WebFilter.urlFeatures(col("url")).as("f"))
      .select("f.scheme", "f.host", "f.path_depth", "f.n_params",
        "f.has_fragment")
      .collect()
    assert(out(0).getString(0) === "https")
    assert(out(0).getString(1) === "www.example.com")
    assert(out(0).getLong(2) === 3L && out(0).getLong(3) === 2L)
    assert(out(0).getBoolean(4))
    assert(out(1).getString(0) === "http" && out(1).getString(1) === "host.org")
    assert(out(1).getLong(2) === 0L && out(1).getLong(3) === 0L)
    assert(!out(1).getBoolean(4))
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
    assert(out(2).getLong(2) === 0L && out(2).getLong(3) === 0L)
  }

  test("dataCard: hand-computed per-source rollup, empty docs counted") {
    val docs = Seq(
      ("s1", "en", "one two three"),
      ("s1", "fr", ""),
      ("s2", "en", "a b c d e")).toDF("source", "lang", "text")
    val out = Profile.dataCard(docs, "source", "text", "lang",
        shortTokens = 4).collect()
    val s1 = out(0)
    assert(s1.getString(0) === "s1" && s1.getLong(1) === 2L)
    assert(s1.getLong(2) === 3L)                 // total tokens
    assert(s1.getDouble(3) === 1.5)              // avg
    assert(s1.getDouble(4) === 1.0)              // both < 4 tokens
    assert(s1.getLong(5) === 1L && s1.getLong(6) === 2L) // empty, langs
    val s2 = out(1)
    assert(s2.getLong(2) === 5L && s2.getDouble(4) === 0.0)
  }

  test("bigram log-prob: hand-computed conditionals; short docs get null") {
    // bigrams: (a,b)×2 from docs 1,2; (a,c)×1 from doc 1
    // p(b|a) = 2/3, p(c|a) = 1/3
    val corpus = Seq(
      (1L, "a b a c"), // bigrams (a,b) (b,a) (a,c)
      (2L, "a b"),     // bigram  (a,b)
      (3L, "x"),       // single word → null
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // counts: (a,b)=2 (b,a)=1 (a,c)=1; ctx a=3, b=1
    val pAB = math.log(2.0 / 3.0); val pBA = math.log(1.0)
    val pAC = math.log(1.0 / 3.0)
    assert(out(0) === ((1L, 3L, Some(r6((pAB + pBA + pAC) / 3.0)))))
    assert(out(1) === ((2L, 1L, Some(r6(pAB)))))
    assert(out(2) === ((3L, 0L, None)))
    assert(out(3) === ((4L, 0L, None)))
  }

  // ---------- content-defined chunking ----------

  test("cdc: chunks partition the text exactly, in both boundary modes") {
    import graft.operators.CdcChunking
    val withLen = docs.where($"text".isNotNull && length($"text") > 0)
      .select($"doc_id", length($"text").as("n"))
    for (maskBits <- Seq(0, 4)) { // md5 oracle mode / rolling scale mode
      val sums = CdcChunking.chunks(docs, "doc_id", "text",
          window = 8, maskBits = maskBits)
        .groupBy($"doc_id")
        .agg(sum($"chunk_len").as("s"), count(lit(1)).as("k"))
      val joined = sums.join(withLen, "doc_id")
      assert(joined.where($"s" =!= $"n").count() === 0,
        "chunk lengths must sum to the text length (exact partition)")
      assert(joined.count() === withLen.count(),
        "every non-empty doc must chunk")
      assert(sums.where($"k" < 1).count() === 0)
    }
  }

  test("wordChunks native equals the HOF/SQL-mirror spelling on the corpus") {
    import graft.operators.LineDedup
    val native = docs.select($"doc_id",
      LineDedup.wordChunks($"text", 12).as("c"))
    val mirror = docs.select($"doc_id",
      LineDedup.wordChunksHof($"text", 12).as("c"))
    assert(native.exceptAll(mirror).isEmpty && mirror.exceptAll(native).isEmpty,
      "native WordChunks diverged from the HOF mirror")
    // adversarial edges: empty, blank, multi-space, short tail chunk
    val edge = Seq("", "   ", "a", "a  b   c d e", "x\ty\nz")
      .toDF("text")
    val n2 = edge.select(LineDedup.wordChunks($"text", 2).as("c"))
    val m2 = edge.select(LineDedup.wordChunksHof($"text", 2).as("c"))
    assert(n2.exceptAll(m2).isEmpty && m2.exceptAll(n2).isEmpty)
  }

  test("cdc native chunker equals the HOF/SQL-mirror spelling, both modes") {
    import graft.operators.CdcChunking
    // texts >= window chars only: below that the HOF spelling's
    // sequence(window, len) descends (undefined walk) while native and
    // the DuckDB oracle agree on one whole-text chunk
    // plus one text with supplementary characters, which count as one
    // character each in Spark's length and substr
    val base = docs.where($"text".isNotNull && length($"text") >= 8)
      .select($"doc_id", $"text")
      .unionByName(Seq("a 😀 header, then 🎉 the quick brown fox 𝄞 jumps over the lazy dog 😀 twice")
        .toDF("text").select(lit(-1L).as("doc_id"), $"text"))
    val modes: Seq[(Int, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Seq((0, CdcChunking.boundariesMd5(_, 8)),
        (4, CdcChunking.boundariesRolling(_, 8, 4)))
    for ((maskBits, hof) <- modes) {
      val native = CdcChunking.chunks(base, "doc_id", "text",
        window = 8, maskBits = maskBits)
      val mirror = CdcChunking.chunksHof(base, "doc_id", "text", hof)
      assert(native.exceptAll(mirror).isEmpty && mirror.exceptAll(native).isEmpty,
        s"native chunker diverged from the HOF mirror at maskBits=$maskBits")
    }
  }

  test("cdc rolling mode: prefix insertion preserves downstream chunk hashes") {
    import graft.operators.CdcChunking
    // the shift-robustness contract on the SCALE mode (the md5 mode has
    // the full SQL oracle q_cdc_shift_recall): prepend a header to every
    // 29th doc, chunk both, and the shifted copy must share >= 50% of the
    // original's distinct hashes (boundaries re-synchronize ~window chars
    // after the insertion point)
    val base = docs.where($"text".isNotNull && length($"text") >= 200)
      .select($"doc_id", $"text")
    val planted = base.where($"doc_id" % 29 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat(lit("BOILERPLATE HEADER INSERTED. "), $"text").as("text"))
    val nPlanted = planted.count()
    assert(nPlanted > 0, "fixture must plant at least one shifted copy")
    val chunked = CdcChunking.chunks(base.unionByName(planted), "doc_id",
      "text", window = 8, maskBits = 4)
    val recovered = CdcChunking.overlapPairs(chunked, "doc_id",
        minOverlap = 0.5, maxBucket = 200)
      .where($"id_b" === $"id_a" + 1000000L)
      .count()
    assert(recovered === nPlanted,
      s"expected all $nPlanted shifted copies recovered, got $recovered")
  }

  test("cdc: hot boilerplate chunk is capped out of pairs and surfaced") {
    import graft.operators.CdcChunking
    // 4 docs share one chunk; maxBucket=3 must SKIP that hash for pair
    // fan-out and report it in hotChunks (no silent caps)
    val chunked = Seq(
      (1L, 0, "h_shared", 16), (2L, 0, "h_shared", 16),
      (3L, 0, "h_shared", 16), (4L, 0, "h_shared", 16),
      (1L, 1, "h_pair", 16), (2L, 1, "h_pair", 16))
      .toDF("doc_id", "chunk_idx", "chunk_hash", "chunk_len")
    val pairs = CdcChunking.overlapPairs(chunked, "doc_id",
      minOverlap = 0.0, maxBucket = 3)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 2L)), "only the uncapped hash may produce pairs")
    val hot = CdcChunking.hotChunks(chunked, "doc_id", maxBucket = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hot === Array(("h_shared", 4L)))
  }

  // ---------- BPE apply ----------

  test("bpeApply: rank order, leftmost-first non-overlap, exact on runs") {
    val words = Seq("abcabc", "aaa", "aaaa", "b", "").toDF("w")
    val out = words.select(TextExpressions.bpeApply($"w",
        Seq(("a", "b"), ("ab", "c"), ("a", "a"))).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("abc", "abc"))  // both merges cascade
    assert(out(1) === Seq("aa", "a"))     // leftmost-first, no overlap
    assert(out(2) === Seq("aa", "aa"))    // disjoint run pairs both merge
    assert(out(3) === Seq("b"))
    assert(out(4) === Seq())
  }

  test("bpe encode: list-merge and stacked-replace spellings agree on the corpus") {
    val merges = TextAnalysis.bpeTrain(docs, "text", nMerges = 4)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length === 4)
    val a = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges)
    val b = TextAnalysis.bpeTokenCountsReplace(docs, "doc_id", "text", merges)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "the two encode spellings must agree (runs under 2^BpePasses)")
    // encoding strictly compresses vs character count for merged words
    val chars = docs.select($"doc_id",
      size(filter(split(regexp_replace(lower(trim($"text")), "\\s+", ""),
        ""), x => x =!= "")).as("n_c"))
    val j = a.join(chars, "doc_id")
    assert(j.where($"n_bpe_tok" > $"n_c").count() === 0,
      "subword count can never exceed character count")
  }

  // ---------- tokenizer health: OOV, fertility, ensemble ----------

  test("oovStats: hand-computed coverage, zero-word doc keeps null rate") {
    val corpus = Seq(
      (1L, "the cat sat"),   // vocab {the, cat}: 1 OOV of 3
      (2L, "THE the"),       // case-folded: 0 OOV of 2
      (3L, "dog dog dog"),   // all OOV
      (4L, ""),              // zero words
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.oovStats(corpus, "doc_id", "text",
        vocab = Seq("the", "cat"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out(0) === ((1L, 3L, 1L, Some(0.333333))))
    assert(out(1) === ((2L, 2L, 0L, Some(0.0))))
    assert(out(2) === ((3L, 3L, 3L, Some(1.0))))
    assert(out(3) === ((4L, 0L, 0L, None)))
    assert(out(4) === ((5L, 0L, 0L, None)))
  }

  test("bpeFertility: hand-computed tokens-per-word by group") {
    // merge (a,b): "ab ab" → 2 words → 2 tokens; "abc" → ab+c → 2 tokens
    val corpus = Seq(
      ("s1", "ab ab"),  // 2 words, 2 subwords → fertility 1.0
      ("s1", "abc"),    // 1 word, 2 subwords
      ("s2", "xyz")     // 1 word, 3 subwords → 3.0
    ).toDF("source", "text")
    val out = TextAnalysis.bpeFertility(corpus, "text", "source",
        merges = Seq(("a", "b")))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out(0) === (("s1", 3L, 4L, 1.333333)))
    assert(out(1) === (("s2", 1L, 3L, 3.0)))
  }

  test("rankEnsemble: mean of within-group percent ranks, null ranks worst") {
    import graft.operators.Mixing
    val df = Seq(
      (1L, "g", Some(10L), Some(1L)),
      (2L, "g", Some(20L), Some(2L)),
      (3L, "g", Some(30L), None),      // null second signal → rank 0
      (4L, "h", Some(5L), Some(9L))    // singleton group → 0
    ).toDF("id", "grp", "s1", "s2")
    val out = Mixing.rankEnsemble(df, "grp", Seq("s1", "s2"))
      .orderBy("id").select("id", "ensemble_score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // g: s1 ranks 0, .5, 1; s2 ranks (null first) 3→0, 1→.5, 2→1
    assert(out(0) === ((1L, 0.25)))  // (0 + .5)/2
    assert(out(1) === ((2L, 0.75)))  // (.5 + 1)/2
    assert(out(2) === ((3L, 0.5)))   // (1 + 0)/2
    assert(out(3) === ((4L, 0.0)))
  }

  // ---------- JSONL-column ingest ----------

  test("jsonIngest: malformed flagged not dropped, fields typed, probe semantics") {
    import graft.sources.JsonIngest
    val rows = Seq(
      (1L, """{"id":7,"lang":"en","n":42}"""),   // well-formed
      (2L, """X{"id":8,"lang":"de","n":1}"""),   // malformed prefix
      (3L, """{"lang":"fr","n":3}"""),           // valid JSON, probe absent
      (4L, """{"id":9,"n":"notanint"}""")        // lang missing, n uncastable
    ).toDF("row_id", "js")
    val out = JsonIngest.extractFields(rows, "js",
        Seq(("lang", "$.lang", "string"), ("n", "$.n", "bigint")),
        probePath = "$.id")
      .orderBy("row_id")
      .select($"row_id", $"json_ok", $"lang", $"n")
      .collect()
    assert(out.length === 4, "no silent drops")
    assert(out(0) === org.apache.spark.sql.Row(1L, true, "en", 42L))
    assert(out(1) === org.apache.spark.sql.Row(2L, false, null, null))
    // probe-absent record is as unusable as malformed: json_ok false,
    // but its parseable fields still extract (flag, don't null out)
    assert(out(2).getBoolean(1) === false && out(2).getString(2) === "fr")
    assert(out(3) === org.apache.spark.sql.Row(4L, true, null, null))
    val qc = JsonIngest.qcStats(
      JsonIngest.extractFields(rows, "js",
        Seq(("lang", "$.lang", "string"), ("n", "$.n", "bigint")),
        probePath = "$.id"),
      Seq("lang", "n")).collect()(0)
    assert(qc === org.apache.spark.sql.Row(4L, 2L, 1L, 1L))
  }

  // ---------- release-gate audits (round-5 continuation 6) ----------

  test("splitLeakage: cross-split copies flagged, within-split dups are not") {
    val df = Seq(
      ("train", "alpha"), ("train", "alpha"), // within-split dup: no leak
      ("train", "beta"), ("test", "beta"),    // cross-split: leaks both
      ("test", "gamma"),                       // unique
      ("val", null.asInstanceOf[String])       // null text: excluded
    ).toDF("split", "text")
    val got = Dedup.splitLeakage(df, "text", "split")
      .orderBy("split")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(got === Array(
      ("test", 2L, 2L, 1L, 1L, 0.5),
      ("train", 3L, 2L, 1L, 1L, 0.333333)))
  }

  test("packEfficiency: fill, underfull and oversize-singleton accounting") {
    import graft.operators.Packing
    // budget 10: [7,3] fills pack 0 exactly; [12] oversize alone;
    // [5] underfull tail
    val df = Seq(
      ("a", 1L, 7L), ("a", 2L, 3L), ("a", 3L, 12L), ("a", 4L, 5L),
      ("b", 5L, 4L)).toDF("g", "id", "cost")
    val out = Packing.packEfficiency(
      Packing.greedyPack(df, "g", "id", "cost", budget = 10L),
      "g", "cost", budget = 10L)
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Double, Long, Long)].collect()
    assert(out === Array(
      ("a", 3L, 4L, 27L, 30L, 0.9, 1L, 1L),
      ("b", 1L, 1L, 4L, 10L, 0.4, 1L, 0L)))
  }

  test("epochBudget: epochs, weight-0 source, weighted-but-absent source") {
    val df = Seq(("web", 100L), ("web", 100L), ("scraped", 50L))
      .toDF("source", "n_tok")
    val got = Mixing.epochBudget(df, "source", "n_tok",
        budgetTokens = 1000L,
        weights = Seq("web" -> 0.8, "books" -> 0.2))
      .orderBy("source")
      .as[(String, Long, Double, Long, Option[Double])].collect()
    assert(got === Array(
      ("books", 0L, 0.2, 200L, None),          // weighted, absent: loud
      ("scraped", 50L, 0.0, 0L, Some(0.0)),    // unweighted corpus source
      ("web", 200L, 0.8, 800L, Some(4.0))))
    intercept[IllegalArgumentException] {
      Mixing.epochBudget(df, "source", "n_tok", 1000L,
        Seq("web" -> 0.5, "books" -> 0.2)) // not normalized
    }
  }

  test("correlationByGroup: exact r on perfect, inverse and degenerate groups") {
    val df = Seq(
      ("up", 1L, 10L), ("up", 2L, 20L), ("up", 3L, 30L),   // r = 1
      ("down", 1L, 30L), ("down", 2L, 20L), ("down", 3L, 10L), // r = -1
      ("flat", 5L, 1L), ("flat", 5L, 9L),                  // zero var x
      ("mix", 1L, 1L), ("mix", 2L, 4L), ("mix", 3L, 2L)
    ).toDF("g", "x", "y")
    val got = Profile.correlationByGroup(df, "g", "x", "y")
      .orderBy("g").as[(String, Long, Option[Double])].collect().toMap2
    assert(got("up") === (3L, Some(1.0)))
    assert(got("down") === (3L, Some(-1.0)))
    assert(got("flat") === (2L, None))
    // mix: Σx=6 Σy=7 Σxy=15 Σx²=14 Σy²=21 →
    // r = (3·15−6·7)/(√(3·14−36)·√(3·21−49))
    val r = (3.0 * 15 - 6 * 7) / (math.sqrt(3.0 * 14 - 36) * math.sqrt(3.0 * 21 - 49))
    assert(math.abs(got("mix")._2.get - r) < 1e-6)
  }

  private implicit class Tup3Map(rows: Array[(String, Long, Option[Double])]) {
    def toMap2: Map[String, (Long, Option[Double])] =
      rows.map(t => t._1 -> ((t._2, t._3))).toMap
  }

  test("calibrationBins: bins, rates, gap; score 1.0 clamps; nulls drop") {
    val df = Seq(
      (Some(0.05), 0L), (Some(0.95), 1L), (Some(0.95), 0L),
      (Some(1.0), 1L),                       // exactly 1.0 → bin 9
      (None: Option[Double], 1L)             // unscorable: excluded
    ).toDF("score", "y")
    val got = Profile.calibrationBins(df, "score", "y", nBins = 10)
      .orderBy("bin")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
    assert(got === Array(
      (0, 1L, 0L, 0.05, 0.0, 0.05),
      (9, 3L, 2L, 0.966667, 0.666667, 0.3)))
  }

  test("noveltyCurve: first-seen content per day, repeats not novel") {
    val df = Seq(
      (1, "A"), (1, "A"), (1, "B"),  // day 1: A,B novel; 3 docs
      (2, "A"), (2, "C")             // day 2: only C novel
    ).toDF("day", "text")
    val got = Dedup.noveltyCurve(df, "text", "day")
      .orderBy("day")
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(got === Array(
      (1, 3L, 2L, 2L, 0.666667),
      (2, 2L, 2L, 1L, 0.5)))
  }

  // ---------- governance / mixture-design (round-5 continuation 8) ----------

  test("kAnonymity: small cells flagged, null QI forms its own cell") {
    import graft.operators.Governance
    val df = Seq(
      (Some("a"), "x"), (Some("a"), "x"), (Some("a"), "x"),
      (Some("b"), "x"),                       // cell of 1 → at risk
      (None: Option[String], "x"), (None, "x") // null QI cell of 2
    ).toDF("src", "lang")
    val got = Governance.kAnonymity(df, Seq("src", "lang"), k = 3L)
      .orderBy(asc_nulls_first("src"))
      .as[(Option[String], String, Long, Boolean)].collect()
    assert(got === Array(
      (None, "x", 2L, true),
      (Some("a"), "x", 3L, false),
      (Some("b"), "x", 1L, true)))
    val sum = Governance.kAnonymitySummary(df, Seq("src", "lang"), 3L)
      .as[(Long, Long, Long, Long)].head()
    assert(sum === ((3L, 2L, 3L, 1L)))
  }

  test("lDiversity: null sensitive counts as a distinct value") {
    import graft.operators.Governance
    val df = Seq(
      ("a", Some("en")), ("a", Some("de")),          // diverse
      ("b", Some("en")), ("b", Some("en")),          // 1 value → risk
      ("c", Some("en")), ("c", None: Option[String]) // en + withheld = 2
    ).toDF("src", "lang")
    val got = Governance.lDiversity(df, Seq("src"), "lang", l = 2L)
      .orderBy("src").as[(String, Long, Boolean)].collect()
    assert(got === Array(("a", 2L, false), ("b", 1L, true),
      ("c", 2L, false)))
  }

  test("domainReweight: excess-loss domains gain, eta=0 keeps base mix") {
    import graft.operators.Mixing
    val lb = Seq(
      ("a", 1L, Some(2.0), 1.0),  // excess 1.0
      ("b", 1L, Some(0.5), 1.0),  // below reference → excess 0
      ("c", 2L, None: Option[Double], 1.0) // no loss evidence → excess 0
    ).toDF("src", "n", "loss", "ref")
    val got = Mixing.domainReweight(lb, "src", "n", "loss", "ref", eta = 1.0)
      .orderBy("src").as[(String, Double, Double)].collect()
      .map(t => t._1 -> t._3).toMap
    // raw: a = e^1 ≈ 2.718282, b = 1, c = 2; z ≈ 5.718282
    val z = math.exp(1.0) + 3.0
    assert(math.abs(got("a") - math.exp(1.0) / z) < 1e-6)
    assert(math.abs(got("b") - 1.0 / z) < 1e-6)
    assert(math.abs(got("c") - 2.0 / z) < 1e-6)
    val flat = Mixing.domainReweight(lb, "src", "n", "loss", "ref", eta = 0.0)
      .orderBy("src").as[(String, Double, Double)].collect()
    assert(flat.map(_._3) === Array(0.25, 0.25, 0.5)) // base-proportional
    assert(flat.map(_._2) === Array(1.0, 0.0, 0.0))   // excess still reported
  }

  test("robotsVerdict: longest prefix wins, tie goes to allow, no rule allows") {
    import graft.operators.WebFilter
    val rules = Seq(
      ("h.com", "/", false),
      ("h.com", "/pub", true),
      ("h.com", "/pub/x", false),
      ("t.com", "/a", false), ("t.com", "/b", true)
    ).toDF("host", "prefix", "allow")
    val urls = Seq(
      (1L, "http://h.com/pub/y"),   // /pub (allow) beats / (disallow)
      (2L, "http://h.com/pub/xx"),  // /pub/x longest → disallow
      (3L, "http://h.com/other"),   // only / matches → disallow
      (4L, "http://h.com"),         // path defaults '/' → disallow
      (5L, "http://unruled.com/z"), // no rules for host → allowed
      (6L, "not a url"),            // unparsable → allowed
      (7L, "http://t.com/a")        // same-length tie impossible here;
                                    // exact-prefix disallow
    ).toDF("doc_id", "url")
    val got = WebFilter.robotsVerdict(urls, "doc_id", "url", rules)
      .orderBy("doc_id").select("doc_id", "allowed")
      .as[(Long, Boolean)].collect()
    assert(got === Array((1L, true), (2L, false), (3L, false), (4L, false),
      (5L, true), (6L, true), (7L, false)))
    // length tie, opposite verdicts → allow wins (RFC 9309 tie-break)
    val tie = Seq(("x.com", "/aa", false), ("x.com", "/ab", true),
      ("x.com", "/a", false)).toDF("host", "prefix", "allow")
    val t2 = WebFilter.robotsVerdict(
      Seq((1L, "http://x.com/ab9")).toDF("doc_id", "url"),
      "doc_id", "url", tie).select("allowed").as[Boolean].head()
    assert(t2 === true)
  }

  test("vocabOverlap: hand-checked jaccard, rank ties break on word asc") {
    import graft.operators.TextAnalysis
    val df = Seq(
      ("a", "w1 w1 w2 w3"),     // top-2 of a: w1(2), w2(1, tie w2<w3)
      ("b", "w1 w4 w4 w9"),     // top-2 of b: w4(2), w1(1, tie w1<w9)
      (null.asInstanceOf[String], "w1 w2") // null source excluded
    ).toDF("source", "text")
    val got = TextAnalysis.vocabOverlap(df, "source", "text", k = 2)
      .as[(String, String, Long, Double)].collect()
    // common = {w1}; union = 2 + 2 - 1 = 3
    assert(got === Array(("b", "a", 1L, 0.333333)) ||
      got === Array(("a", "b", 1L, 0.333333)))
    assert(got.head._1 == "a" || got.head._2 == "a")
  }

  test("badWordStats: word-level matching, no scunthorpe substring hits") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "clean text here"),
      (2L, "bad bad word"),        // 2/3 bad
      (3L, "badge badger"),        // substring of 'bad' must NOT hit
      (4L, "")                     // empty → ratio 0, keeps
    ).toDF("doc_id", "text")
    val got = TextAnalysis.badWordStats(df, "doc_id", "text",
        Seq("bad", "word"), maxRatio = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got === Array(
      (1L, 3L, 0L, 0.0, true),
      (2L, 3L, 3L, 1.0, false),   // 'word' is also listed: 3/3
      (3L, 2L, 0L, 0.0, true),
      (4L, 0L, 0L, 0.0, true)))
  }

  test("stratifiedSample: exactly ceil(f*n) per stratum, deterministic") {
    import graft.operators.Mixing
    val df = (0L until 100L).map(i => (i, if (i < 90) "big" else "small"))
      .toDF("id", "st")
    val got = Mixing.stratifiedSample(df, "id", "st", fraction = 0.25,
      seed = 3L, hashKey = false)
    val counts = got.groupBy("st").count()
      .as[(String, Long)].collect().toMap
    assert(counts === Map("big" -> 23L, "small" -> 3L)) // ceil(22.5), ceil(2.5)
    val again = Mixing.stratifiedSample(df, "id", "st", fraction = 0.25,
      seed = 3L, hashKey = false).select("id").as[Long].collect().sorted
    assert(again === got.select("id").as[Long].collect().sorted)
    // null stratum samples like any other
    val withNull = df.withColumn("st",
      when(col("id") < 4, lit(null).cast("string")).otherwise(col("st")))
    val n = Mixing.stratifiedSample(withNull, "id", "st", 0.5, 3L,
      hashKey = false).where(col("st").isNull).count()
    assert(n === 2L)
  }

  test("stratifiedSample two-phase equals naive ranking, fallback included") {
    import graft.operators.Mixing
    val m = 4294967296L
    def key(id: Long, seed: Long) = (id * 2654435761L + seed) % m
    val seed = 3L
    val thr = math.ceil(m.toDouble * 0.4 * 2).toLong
    // engineer a 2-row stratum whose BOTH keys miss the survivor
    // threshold — forces the full-rank fallback arm for that stratum
    // ids disjoint from the lo stratum's 0..99 — the sampler keys the
    // final semi-join on the id, so ids must be unique across strata
    val hiIds = (100L until 2000L).filter(id => key(id, seed) >= thr).take(2)
    assert(hiIds.length === 2)
    val df = ((0L until 100L).map(i => (i, "lo")) ++
      hiIds.map(i => (i, "hi"))).toDF("id", "st")
    val fast = Mixing.stratifiedSample(df, "id", "st", 0.4, seed,
      hashKey = false).select("id", "st").as[(Long, String)].collect().sorted
    val naive = Mixing.stratifiedSampleNaive(df, "id", "st", 0.4, seed,
      hashKey = false).select("id", "st").as[(Long, String)].collect().sorted
    assert(fast === naive, "two-phase diverged from the naive ranking")
    assert(fast.count(_._2 == "hi") === 1) // ceil(2 * 0.4) despite fallback
    assert(fast.count(_._2 == "lo") === 40)
    // hashKey=true path agrees with its own naive spelling too
    val f2 = Mixing.stratifiedSample(df, "id", "st", 0.3, 7L)
      .select("id").as[Long].collect().sorted
    val n2 = Mixing.stratifiedSampleNaive(df, "id", "st", 0.3, 7L)
      .select("id").as[Long].collect().sorted
    assert(f2 === n2)
  }

  test("ngramNovelty: hashed-gram join equals the word-tuple spelling") {
    import graft.operators.TextAnalysis
    val ref = docs.where($"doc_id" % 2 === 0)
    val score = docs.where($"doc_id" % 2 === 1)
    val hashed = TextAnalysis.ngramNovelty(ref, score, "doc_id", "text", 3)
    val tuples = TextAnalysis.ngramNovelty(ref, score, "doc_id", "text", 3,
      hashGrams = false)
    assert(hashed.exceptAll(tuples).isEmpty &&
      tuples.exceptAll(hashed).isEmpty,
      "hashed-gram novelty diverged from the word-tuple spelling")
  }

  test("trigramBackoff: exact ladder — known trigram, bigram backoff, OOV floor") {
    import graft.operators.TextAnalysis
    // train: "a b c a b d" → trigrams: abc, bca, cab, abd
    //   c(ab)=2 contexts from trigram table: ab→{c,d} so c12(a,b)=2
    //   bigrams: ab×2, bc, ca, bd; unigrams: a×2,b×2,c,d (N=6, V=4)
    val train = Seq((0L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c"),   // known trigram: ln(1/2)
      (2L, "x b c"),   // unseen tri+ctx, bigram bc known: ln(.4 * 1/2)
      (3L, "x y zz")   // everything unseen: ln(.16 * (0+1)/(6+4))
    ).toDF("doc_id", "text")
    val got = TextAnalysis.trigramBackoff(train, score, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Option[Double])].collect()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) === ((1L, 1L, Some(r6(math.log(0.5))))))
    assert(got(1) === ((2L, 1L, Some(r6(math.log(0.4 * 0.5))))))
    assert(got(2) === ((3L, 1L, Some(r6(math.log(0.4 * 0.4 * 0.1))))))
    // under 3 words → zero trigrams, null score
    val short = TextAnalysis.trigramBackoff(train,
        Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Option[Double])].head()
    assert(short === ((9L, 0L, None)))
  }

  test("lmQualityBuckets: rank terciles per lang, unscored stays null") {
    import graft.operators.TextAnalysis
    // 'rare' appears once → lowest logprob; 'the' dominates → head
    val df = Seq(
      (1L, "the the the the", "en"),
      (2L, "the the it it", "en"),
      (3L, "rare rare rare word", "en"),
      (4L, "", "en"),                       // unscorable
      (5L, "x x", "de")                     // single-doc lang → head
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.lmQualityBuckets(df, "doc_id", "text", "lang")
      .orderBy("doc_id")
      .as[(Long, String, Option[Double], Option[String])].collect()
    assert(got.map(r => r._1 -> r._4).toMap === Map(
      1L -> Some("head"), 2L -> Some("middle"), 3L -> Some("tail"),
      4L -> None, 5L -> Some("head")))
  }

  test("dedupSavings: later copies charged to their group, winner free") {
    import graft.operators.Dedup
    val df = Seq(
      (1L, "dup", "a", 10L), (2L, "dup", "b", 10L), (3L, "dup", "a", 10L),
      (4L, "uniq", "a", 7L)
    ).toDF("id", "text", "src", "sz")
    val got = Dedup.dedupSavings(df, "id", "text", "src", "sz")
      .orderBy("src").as[(String, Long, Long)].collect()
    // id 1 wins; ids 2 (src b) and 3 (src a) are waste
    assert(got === Array(("a", 1L, 10L), ("b", 1L, 10L)))
  }

  test("psiTrend: day one scores 0, one-sided categories hit the eps floor") {
    import graft.operators.Drift
    val df = Seq(
      ("2024-01-01 10:00:00", "a"), ("2024-01-01 11:00:00", "b"),
      ("2024-01-02 10:00:00", "a"), ("2024-01-02 11:00:00", "a"),
      ("2024-01-03 10:00:00", "c") // c unseen on day 1 → floored base
    ).toDF("ts", "cat").withColumn("ts", col("ts").cast("timestamp"))
    val got = Drift.psiTrend(df, "ts", "cat")
      .orderBy("day")
      .as[(java.sql.Date, Long, Double)].collect()
    assert(got.length === 3)
    assert(got(0)._3 === 0.0)               // self-comparison
    assert(got(1)._3 > 0 && got(2)._3 > got(1)._3) // c-day drifts hardest
    assert(got.map(_._2).toSeq === Seq(2L, 2L, 1L))
  }

  test("templateHeaders: planted template wins, wordless docs don't vote") {
    import graft.operators.TextAnalysis
    val df = Seq(
      ("a", "same old header words here x"),
      ("a", "same old header words here y"),
      ("a", "something completely different"),
      ("a", "   "),                        // no words: no vote
      ("b", "unique one"), ("b", "unique two")
    ).toDF("source", "text")
    val got = TextAnalysis.templateHeaders(df, "source", "text",
        prefixWords = 5)
      .orderBy("source")
      .as[(String, String, Long, Long, Double)].collect()
    assert(got(0) === (("a", "same old header words here", 3L, 2L,
      0.666667)))
    // b: 1-vs-1 tie → lexicographically greatest prefix wins
    assert(got(1) === (("b", "unique two", 2L, 1L, 0.5)))
  }

  test("contentLabelConflicts: disagreeing labels flagged, null spelled out") {
    import graft.operators.Dedup
    val df = Seq(
      ("dup", Some("en")), ("dup", Some("de")), ("dup", Some("en")),
      ("solo", Some("en")), ("solo", Some("en")),      // agree: no row
      ("nl", Some("en")), ("nl", None: Option[String]) // null conflicts
    ).toDF("text", "lang")
    val got = Dedup.contentLabelConflicts(df, "text", "lang")
      .orderBy("labels")
      .as[(String, Long, Long, String)].collect()
    assert(got.map(r => (r._2, r._3, r._4)).toSeq === Seq(
      (2L, 2L, "<null>,en"), (3L, 2L, "de,en")))
  }

  test("dispersion: tight cluster cos 1, zero vector unscorable but counted") {
    import graft.operators.EmbeddingQC
    val df = Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 1, Seq(2.0f, 0.0f)), (3L, 1, Seq(0.0f, 0.0f)) // zero vec
    ).toDF("vec_id", "label", "embedding")
    val got = EmbeddingQC.dispersion(df, "vec_id", "embedding", "label")
      .orderBy("label")
      .as[(Int, Long, Long, Option[Double], Option[Double])].collect()
    assert(got(0) === ((0, 2L, 2L, Some(1.0), Some(1.0))))
    // label 1: centroid (1,0); the zero vector can't take a cosine
    assert(got(1) === ((1, 2L, 1L, Some(1.0), Some(1.0))))
  }

  test("ngramNovelty: seen grams 0, unseen 1, short docs null") {
    import graft.operators.TextAnalysis
    val ref = Seq((0L, "a b c d")).toDF("doc_id", "text") // grams abc bcd
    val score = Seq(
      (1L, "a b c d"),     // both grams seen → 0
      (2L, "x y z w"),     // xyz, yzw unseen → 1
      (3L, "a b c z"),     // abc seen, bcz not → 0.5
      (4L, "a b")          // no trigrams → null
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(ref, score, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect()
    assert(got === Array(
      (1L, 2L, Some(0.0)), (2L, 2L, Some(1.0)),
      (3L, 2L, Some(0.5)), (4L, 0L, None)))
  }

  test("ndcgAtK: perfect ranking 1, reversed ranking < 1, no relevance null") {
    import graft.operators.Profile
    // rel: doc1=3, doc2=1, doc3=0; perfect score order = rel order
    val perfect = Seq((1L, 9.0, 3L), (2L, 5.0, 1L), (3L, 1.0, 0L))
      .toDF("id", "score", "rel")
    val p = Profile.ndcgAtK(perfect, "id", "score", "rel", k = 2)
      .as[(Int, Double, Double, Option[Double])].head()
    assert(p._1 === 2 && p._4 === Some(1.0))
    // dcg = (2^3-1)/log2(2) + (2^1-1)/log2(3)
    val expDcg = 7.0 / 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    assert(math.abs(p._2 - expDcg) < 1e-6 && p._2 === p._3)
    val reversed = Seq((1L, 1.0, 3L), (2L, 5.0, 1L), (3L, 9.0, 0L))
      .toDF("id", "score", "rel")
    val r = Profile.ndcgAtK(reversed, "id", "score", "rel", k = 2)
      .as[(Int, Double, Double, Option[Double])].head()
    assert(r._4.get < 1.0 && r._4.get > 0.0)
    val none = Seq((1L, 9.0, 0L), (2L, 5.0, 0L)).toDF("id", "score", "rel")
    val n = Profile.ndcgAtK(none, "id", "score", "rel", k = 2)
      .as[(Int, Double, Double, Option[Double])].head()
    assert(n === ((2, 0.0, 0.0, None)))
  }

  test("hostQuality: pass rates per host, null verdicts earn nothing") {
    import graft.operators.WebFilter
    val df = Seq(
      ("http://a.com/1", Some(true)), ("http://a.com/2", Some(false)),
      ("http://b.com/1", Some(true)),
      ("http://b.com/2", None: Option[Boolean]), // unscored: not kept
      ("garbage", Some(true))                    // unparsable host bucket
    ).toDF("url", "keep")
    val got = WebFilter.hostQuality(df, "url", "keep")
      .orderBy(asc_nulls_first("host"))
      .as[(Option[String], Long, Long, Double)].collect()
    assert(got === Array(
      (None, 1L, 1L, 1.0),
      (Some("a.com"), 2L, 1L, 0.5),
      (Some("b.com"), 2L, 1L, 0.5)))
  }

  test("similarityHistogram: bucket edges, 1.0 clamps into the top bucket") {
    import graft.operators.Dedup
    val pairs = Seq(0.0, 0.05, 0.1, 0.95, 1.0).toDF("j")
    val got = Dedup.similarityHistogram(pairs, "j", nBuckets = 10)
      .orderBy("bucket").as[(Long, Long)].collect()
    assert(got === Array((0L, 2L), (1L, 1L), (9L, 2L)))
  }

  test("centroidDrift: stable group cos 1, inverted group cos -1, empty side null") {
    import graft.operators.EmbeddingQC
    val df = Seq(
      // label 0: identical centroids across snapshots
      (0L, 0, Seq(1.0f, 2.0f)), (1L, 1, Seq(1.0f, 2.0f)),
      // label 1: new snapshot flips sign
      (2L, 0, Seq(1.0f, 0.0f)), (3L, 1, Seq(-1.0f, 0.0f)),
      // label 2: baseline only → no cosine
      (4L, 0, Seq(1.0f, 1.0f))
    ).toDF("vec_id", "snap", "embedding")
      .withColumn("label", col("vec_id")) // unused; group below
      .withColumn("grp", when(col("vec_id") <= 1, 0)
        .when(col("vec_id") <= 3, 1).otherwise(2))
    val got = EmbeddingQC.centroidDrift(df, "embedding", "grp", "snap")
      .orderBy("grp").as[(Int, Long, Long, Option[Double])].collect()
    assert(got === Array(
      (0, 1L, 1L, Some(1.0)),
      (1, 1L, 1L, Some(-1.0)),
      (2, 1L, 0L, None)))
  }

  test("hardNegatives: same-label and self excluded, nearest different-label wins") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // query
      (2L, Seq(0.99f, 0.1f), 0),  // same label, closest — must NOT mine
      (3L, Seq(0.9f, 0.2f), 1),   // different label, close → rank 1
      (4L, Seq(0.0f, 1.0f), 1),   // different label, orthogonal → rank 2
      (5L, Seq(-1.0f, 0.0f), 2)   // different label, opposite → rank 3
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(corpus, "vec_id", "embedding",
        "label", corpus.where($"vec_id" === 1L), "vec_id", "embedding",
        "label", k = 3)
      .orderBy("rank").select("id", "rank").as[(Long, Int)].collect()
    assert(got === Array((3L, 1), (4L, 2), (5L, 3)))
  }

  test("mergeable profiles: merge(profile(A), profile(B)) == profile(A ∪ B)") {
    import graft.operators.Profile
    val a = Seq(1.0, 2.0, 3.0).toDF("x")
    val b = Seq(10.0, 20.0).toDF("x")
    val merged = Profile.mergeProfiles(Seq(
        Profile.mergeableProfile(a, Seq("x")),
        Profile.mergeableProfile(b, Seq("x")))).collect()(0)
    assert(merged.getAs[Long]("cnt") === 5L)
    assert(merged.getAs[Double]("min") === 1.0)
    assert(merged.getAs[Double]("max") === 20.0)
    assert(merged.getAs[Double]("sum") === 36.0)
    assert(merged.getAs[Double]("avg") === 7.2)
    // empty batch contributes nothing and keeps NULLs out of min/max
    val empty = Profile.mergeableProfile(a.where($"x" > 100), Seq("x"))
    val m2 = Profile.mergeProfiles(Seq(
      Profile.mergeableProfile(a, Seq("x")), empty)).collect()(0)
    assert(m2.getAs[Long]("cnt") === 3L && m2.getAs[Double]("min") === 1.0)
    // all-empty field: loud NULL avg
    val m3 = Profile.mergeProfiles(Seq(empty, empty)).collect()(0)
    assert(m3.getAs[Long]("cnt") === 0L)
    assert(m3.isNullAt(m3.fieldIndex("avg")))
  }

  test("dp counts: Laplace arithmetic exact, seed-deterministic, epsilon-scaled") {
    import graft.operators.Governance
    val df = Seq.tabulate(30)(i => (i.toLong, i.toLong % 3)).toDF("id", "grp")
    def run(eps: Double, seed: Long) =
      Governance.dpCounts(df, "grp", col("grp"), eps, seed)
        .orderBy("grp").collect()
    val out = run(1.0, 17L)
    // replicate the draw in plain Scala: u=(h+.5)/2^32, inverse-CDF
    out.foreach { r =>
      val g = r.getLong(0)
      val h = java.lang.Math.floorMod(g * 2654435761L + 17L, 4294967296L)
      val u = (h + 0.5) / 4294967296.0
      val c = u - 0.5
      val noise = -math.signum(c) * math.log(1.0 - 2.0 * math.abs(c))
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("n_true") === 10L)
      assert(r.getAs[Double]("noise") === r6(noise), s"grp=$g")
      assert(r.getAs[Double]("n_dp") === r6(10.0 + noise), s"grp=$g")
    }
    assert(run(1.0, 17L) === out)          // same seed → identical release
    assert(run(1.0, 18L) !== out)          // fresh seed → fresh draw
    // epsilon scales the noise magnitude: b = 1/eps
    val tight = run(2.0, 17L)
    out.zip(tight).foreach { case (a, b) =>
      assert(math.abs(b.getAs[Double]("noise")) <=
        math.abs(a.getAs[Double]("noise")) / 2 + 1e-6)
    }
  }

  test("rendezvous shard: full range, deterministic, minimal movement vs modulo") {
    import graft.operators.Packing
    val keys = spark.range(10000).toDF("k")
    val assigned = keys.select(
      Packing.rendezvousShard($"k", 8, seed = 17L).as("s"))
    val dist = assigned.groupBy("s").count().orderBy("s")
      .as[(Int, Long)].collect()
    assert(dist.map(_._1).toSeq === (0 until 8)) // every shard populated
    assert(dist.map(_._2).forall(n => n > 800 && n < 1700)) // roughly even
    // identity: K -> K moves nothing
    val same = Packing.rendezvousMoved(keys, "k", 8, 8, 17L).head()
    assert(same.getAs[Long]("n_moved") === 0L)
    // grow 8 -> 10: expected moved fraction 2/10; modulo resharding
    // moves ~1 - 1/10 of keys — rendezvous must beat it by a mile
    val grow = Packing.rendezvousMoved(keys, "k", 8, 10, 17L).head()
    val frac = grow.getAs[Double]("moved_frac")
    assert(frac > 0.12 && frac < 0.28, s"moved_frac=$frac")
    val moduloMoved = keys.where(pmod($"k", lit(8)) =!= pmod($"k", lit(10)))
      .count().toDouble / 10000
    assert(frac < moduloMoved / 3, s"rendezvous $frac vs modulo $moduloMoved")
  }

  test("stitch candidates: boundary-gram pairs, short/self excluded, exact==hash") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "page one text ends with BRIDGE"),   // tail 'BRIDGE'
      (2L, "BRIDGE and page two continues on"), // head 'BRIDGE' → (1, 2)
      (3L, "BRIDGE but nothing points here"),   // also head 'BRIDGE' → (1, 3)
      (4L, "unrelated content entirely"),
      (5L, "short"),                            // < k chars: excluded
      (6L, "ABABAB")                            // head==tail: self-pair excluded
    ).toDF("doc_id", "text")
    val got = Dedup.stitchCandidates(docs, "doc_id", "text", k = 6)
      .orderBy("tail_id", "head_id").as[(Long, Long)].collect()
    assert(got === Array((1L, 2L), (1L, 3L)))
    val exact = Dedup.stitchCandidates(docs, "doc_id", "text", k = 6,
        exact = true)
      .orderBy("tail_id", "head_id").as[(Long, Long)].collect()
    assert(exact === got)
    // the narrow-exchange discipline: hash mode never shuffles text
    val out = Dedup.stitchCandidates(docs, "doc_id", "text", k = 6)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"), s"text leaked into an exchange: $names")
    }
  }

  test("detokenize: round trip on in-vocab words, <unk> for OOV, empty doc") {
    import graft.operators.TextAnalysis
    val vocab = Seq("the", "cat", "sat")
    val df = Seq(
      (1L, "The cat SAT"),        // full round trip (lower-cased)
      (2L, "the dog sat"),        // dog is OOV
      (3L, "")
    ).toDF("id", "text")
    val got = df.select($"id",
        TextAnalysis.detokenize(
          TextAnalysis.tokenize($"text", vocab, unkId = -1), vocab)
          .as("rt"))
      .orderBy("id").as[(Long, String)].collect()
    assert(got === Array(
      (1L, "the cat sat"), (2L, "the <unk> sat"), (3L, "")))
  }

  test("cross-field rules: vacuous antecedent, null consequent violates, multi-fire") {
    import graft.operators.ValidationPass
    val df = Seq(
      (1L, Some(true), Some(true)),   // applicable, satisfied
      (2L, Some(true), Some(false)),  // violation
      (3L, Some(true), None),         // null consequent = violation
      (4L, Some(false), Some(false)), // antecedent false: vacuous
      (5L, None, Some(false))         // antecedent null: vacuous
    ).toDF("id", "ant", "cons")
    val got = ValidationPass.crossFieldViolations(df, "id", Seq(
        ("R_ONE", col("ant"), col("cons")),
        ("R_ALWAYS", lit(true), col("cons")))) // fires on every non-true cons
      .orderBy("id", "rule_id").as[(Long, String)].collect()
    assert(got === Array(
      (2L, "R_ALWAYS"), (2L, "R_ONE"),
      (3L, "R_ALWAYS"), (3L, "R_ONE"),
      (4L, "R_ALWAYS"), (5L, "R_ALWAYS")))
    // one-pass shape: no exchange at all
    val plan = ValidationPass.crossFieldViolations(df, "id",
      Seq(("R", col("ant"), col("cons"))))
    plan.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.isEmpty, "cross-field pass must not shuffle")
  }

  test("benford: digit extraction, zero-count digit, sub-1 and null excluded") {
    // digits: 1 (x3 via 1.5, 12, 199), 2 (x1 via 250), 9 absent, 0.5 and
    // null excluded → n_rows tested = 4
    val df = Seq(Some(1.5), Some(12.0), Some(199.0), Some(250.0),
      Some(0.5), None).toDF("x")
    val rows = Profile.benfordTest(df, "x").collect()
    assert(rows.length === 9)
    val byD = rows.map(r => r.getInt(0) -> r).toMap
    assert(byD(1).getLong(1) === 3L && byD(2).getLong(1) === 1L)
    assert(byD(9).getLong(1) === 0L)
    assert(byD(1).getDouble(2) === 0.75) // p_obs
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byD(1).getDouble(3) === r6(math.log10(2.0)))
    // zero-count digit still contributes chi mass: t * p_exp
    assert(byD(9).getDouble(4) === r6(4.0 * math.log10(1.0 + 1.0 / 9)))
  }

  test("fd violations: clean FD, broken FD, null det excluded, null dep distinct") {
    val clean = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("det", "dep")
    val r1 = Profile.fdViolations(clean, "det", "dep").head()
    assert(r1.getAs[Long]("n_keys") === 2L)
    assert(r1.getAs[Long]("n_violating_keys") === 0L)
    assert(r1.getAs[Double]("violation_rate") === 0.0)
    val broken = Seq((Some(1L), Some("a")), (Some(1L), Some("b")),
      (Some(1L), None),            // null dep is its own value → 3 distinct
      (Some(2L), Some("c")), (None, Some("zzz"))) // null det excluded
      .toDF("det", "dep")
    val r2 = Profile.fdViolations(broken, "det", "dep").head()
    assert(r2.getAs[Long]("n_keys") === 2L)
    assert(r2.getAs[Long]("n_violating_keys") === 1L)
    assert(r2.getAs[Double]("violation_rate") === 0.5)
    assert(r2.getAs[Long]("max_distinct_dep") === 3L)
  }

  test("key candidates: true key, dup column, nulls break keyness, composite") {
    val df = Seq((1L, Some("x"), "p"), (2L, Some("x"), "q"),
      (3L, None, "p")).toDF("id", "grp", "tag")
    val m = Profile.keyCandidates(df, Seq(
        ("id", col("id")), ("grp", col("grp")), ("tag", col("tag")),
        ("grp:tag", concat_ws(":", col("grp"), col("tag")))))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(5)))).toMap
    assert(m("id") === ((3L, 0L, true)))
    assert(m("grp") === ((1L, 1L, false))) // 1 distinct non-null, 1 null
    assert(m("tag") === ((2L, 0L, false)))
    // concat_ws drops null parts (no separator): "x:p", "x:q", "p" —
    // 3 distinct, never null, so the composite reads as a key here
    assert(m("grp:tag") === ((3L, 0L, true)))
  }

  test("freshness: staleness vs global max, single-event rate null, null key bucket") {
    import graft.operators.Drift
    val df = Seq(
      (Some("a"), Some("2024-01-01 00:00:00")),
      (Some("a"), Some("2024-01-01 06:00:00")),
      (Some("b"), Some("2024-01-01 05:00:00")), // single event
      (None: Option[String], Some("2024-01-01 01:00:00")),
      (Some("c"), None: Option[String])         // null ts: excluded
    ).toDF("k", "s").select(col("k"), col("s").cast("timestamp").as("ts"))
    val got = Drift.freshness(df, "k", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!got.contains("c")) // no non-null ts → no stream row
    assert(got("a").getAs[Double]("staleness_s") === 0.0)
    assert(got("a").getAs[Double]("events_per_hour") === r6d(2.0 / 6.0))
    assert(got("b").getAs[Double]("staleness_s") === 3600.0)
    assert(got("b").isNullAt(got("b").fieldIndex("events_per_hour")))
    assert(got("<null>").getAs[Double]("staleness_s") === 5 * 3600.0)
  }

  test("charEntropy: closed-form values, codepoints not UTF-16 units") {
    val df = Seq(
      (1L, "aaaa"),   // one symbol → 0 bits
      (2L, "ab"),     // two equiprobable → 1 bit
      (3L, "abab"),   // same distribution → still 1 bit
      (4L, "abcd"),   // four equiprobable → 2 bits
      (5L, ""),       // empty → 0 by contract
      (6L, null),     // null → null
      (7L, "😀"),            // one surrogate-pair codepoint → 0
      (8L, "😀a")            // two distinct codepoints → 1
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextAnalysis.charEntropy(col("text")).as("h"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got(1L) === Some(0.0))
    assert(got(2L) === Some(1.0))
    assert(got(3L) === Some(1.0))
    assert(got(4L) === Some(2.0))
    assert(got(5L) === Some(0.0))
    assert(got(6L) === None)
    assert(got(7L) === Some(0.0),
      "surrogate pair must count as ONE codepoint")
    assert(got(8L) === Some(1.0))
    // skewed distribution: "aab" → 2/3·log2(3/2) + 1/3·log2(3)
    val skew = Seq((1L, "aab")).toDF("id", "text")
      .select(TextAnalysis.charEntropy(col("text"))).collect()(0).getDouble(0)
    val expect = 2.0 / 3 * (math.log(1.5) / math.log(2)) +
      1.0 / 3 * (math.log(3) / math.log(2))
    assert(math.abs(skew - expect) < 1e-12)
    // projection stays shuffle-free
    val plan = df.select(TextAnalysis.charEntropy(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"charEntropy shuffled:\n$plan")
  }

  test("luhnCandidates: extraction, normalization, checksum verdicts") {
    val df = Seq(
      (1L, "pay 4111111111111111 now"),          // valid Visa test PAN
      (2L, "pay 4111111111111112 now"),          // one digit off → invalid
      (3L, "ref 4111 1111 1111 1111 thanks"),    // spaced variant → valid
      (4L, "id 4111-1111-1111-1111 end"),        // dashed variant → valid
      (5L, "short 123456789012 run"),            // 12 digits < 13 → absent
      (6L, "phone 555 1234 only"),               // runs too short → absent
      (7L, "long 12345678901234567890123 x")     // >19 digits → absent
    ).toDF("id", "text")
    val got = TextAnalysis.luhnCandidates(df, "id", "text")
      .as[(Long, String, Boolean)].collect().toSet
    assert(got === Set(
      (1L, "4111111111111111", true),
      (2L, "4111111111111112", false),
      (3L, "4111111111111111", true),
      (4L, "4111111111111111", true)))
    // pure projection + stateless explode: no shuffle, no UDF
    val plan = TextAnalysis.luhnCandidates(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"luhnCandidates shuffled:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"luhnCandidates used a UDF:\n$plan")
  }

  test("crossSourceMatrix: planted shared groups, null source labeled") {
    val df = Seq(
      ("k1", "web"), ("k1", "books"), ("k1", "web"),   // dup rows collapse
      ("k2", "web"), ("k2", "code"), ("k2", "books"),  // 3-source group
      ("k3", "web"),                                   // singleton: no pair
      ("k4", "books"), ("k4", null)                    // null joins as label
    ).toDF("key", "src")
    val got = Dedup.crossSourceMatrix(df, "key", "src")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("books", "web", 2L),    // k1 and k2
      ("books", "code", 1L), ("code", "web", 1L),
      ("<null>", "books", 1L)))
  }

  test("percentileRanks: percent_rank semantics over distinct values") {
    val df = Seq(10L, 10L, 20L, 30L).toDF("v")
    val got = Profile.percentileRanks(df, "v")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((10L, 2L, 0.0), (20L, 1L, r6d(2.0 / 3.0)),
      (30L, 1L, 1.0)))
    // single row → rank 0, not 0/0; nulls excluded
    val single = Profile.percentileRanks(
      Seq(Some(5L), None).toDF("v"), "v")
      .as[(Long, Long, Double)].collect().toSeq
    assert(single === Seq((5L, 1L, 0.0)))
  }

  test("prefixFilterJaccardPairs: full differential vs inverted index") {
    // pseudo-random word-set docs incl. one boilerplate token shared by
    // EVERY doc (the inverted-index path's quadratic hazard; the prefix
    // path must still find the identical pair set)
    val docs = (0 until 80).map { i =>
      val h = i * 2654435761L
      val ws = (0 until 4 + (i % 5)).map(j => s"w${(h + j * 17) % 23}")
      (i.toLong, (ws :+ "common").mkString(" "))
    }.toDF("id", "text")
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val pp = Dedup.prefixFilterJaccardPairs(docs, "id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      val brute = Dedup.ngramJaccardPairs(docs, "id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pp === brute, s"threshold $t pair sets diverged")
      assert(brute.nonEmpty, s"threshold $t fixture found no pairs")
      assert(pp.forall(_._3 >= t))
    }
  }

  test("kCenters: greedy farthest-point picks, ties to the lowest id") {
    // 4-dim points: a cluster near the origin and two far corners
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val pts = Seq(
      (0L, v(0, 0, 0, 0)), (1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(10, 10, 0, 0)),  // far corner A: d²=200 from origin
      (4L, v(-10, 10, 0, 0)), // far corner B, same norm — tie broken to 3
      (5L, v(0, 0, 5, 0))     // mid-range
    ).toDF("id", "vec")
    val got = graft.operators.Similarity
      .kCenters(pts, "id", "vec", dim = 4, k = 3, startId = 0L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got(0) === ((1L, 0L, 0.0)))
    assert(got(1) === ((2L, 3L, 200.0))) // tie with 4 → lower id wins
    // after {0, 3}: point 4 is 200 from 0 and 400 from 3 → min 200;
    // point 5 is 25 from 0 → next center is 4
    assert(got(2) === ((3L, 4L, 200.0)))
  }

  test("joinSizeEstimate: exact per-key products, heaviest first") {
    val a = (Seq.fill(3)("k1") ++ Seq.fill(2)("k2") ++ Seq("k3") ++
      Seq(null.asInstanceOf[String])).toDF("k")
    val b = (Seq.fill(4)("k1") ++ Seq.fill(5)("k2") ++
      Seq(null.asInstanceOf[String])).toDF("k")
    val got = graft.operators.SkewJoin.joinSizeEstimate(a, "k", b, "k", 10)
      .as[(String, Long, Long, Long)].collect().toSeq
    // k3 has no match on b; nulls excluded
    assert(got === Seq(("k1", 3L, 4L, 12L), ("k2", 2L, 5L, 10L)))
  }

  test("knnLabelDisagreement: planted mislabel found, cap enforced") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // two tight clusters; id 3 sits IN cluster A but carries B's label
    val pts = Seq(
      (1L, v(1, 0, 0), "A"), (2L, v(0.9, 0.1, 0), "A"),
      (3L, v(0.95, 0.05, 0), "B"), // mislabeled
      (4L, v(0, 0, 1), "B"), (5L, v(0, 0.1, 0.9), "B"),
      (6L, v(0.1, 0, 0.95), null.asInstanceOf[String]) // unlabeled
    ).toDF("id", "vec", "label")
    val got = graft.operators.Similarity
      .knnLabelDisagreement(pts, "id", "vec", "label", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(got(3L) === (("B", 2L))) // both neighbors are A → flagged
    assert(got(1L)._2 === 1L)       // one of its 2-NN is the mislabel
    assert(got(6L)._1 === "<null>") // unlabeled = its own class
    assert(got(6L)._2 === 2L)
    intercept[IllegalArgumentException] {
      graft.operators.Similarity
        .knnLabelDisagreement(pts, "id", "vec", "label", 2, maxRows = 3)
    }
  }

  test("pathPrefixRollup: section volumes, pagination gap visible") {
    val urls = Seq(
      "https://a.com/blog/2024/post1",
      "https://a.com/blog/2024/post1?page=2", // same path after ?-strip
      "https://a.com/blog/2024/post2",
      "https://a.com/tag/x/p1",
      "https://a.com",                         // no path → "/"
      "not a url"                              // unparsable → "/"
    ).toDF("url")
    val got = graft.operators.WebFilter.pathPrefixRollup(urls, "url", 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("/blog/2024", 3L, 2L), ("/", 2L, 1L),
      ("/tag/x", 1L, 1L)))
  }

  test("cubeCounts: all four granularities in one pass, sums consistent") {
    val df = Seq(("en", "web"), ("en", "web"), ("en", "code"),
      ("de", "web")).toDF("lang", "src")
    val got = Profile.cubeCounts(df, "lang", "src")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got.toSet === Set(
      ("en", "web", 0L, 2L), ("en", "code", 0L, 1L), ("de", "web", 0L, 1L),
      ("en", "<all>", 1L, 3L), ("de", "<all>", 1L, 1L),
      ("<all>", "web", 2L, 3L), ("<all>", "code", 2L, 1L),
      ("<all>", "<all>", 3L, 4L)))
    // each granularity level must re-total to the row count
    Seq(0L, 1L, 2L, 3L).foreach { g =>
      assert(got.filter(_._3 == g).map(_._4).sum === 4L, s"gid $g")
    }
  }

  test("massWeightedPercentiles: token mass sits where counts don't") {
    // six 1-char docs + one 100-char doc: the count-median is 1, but
    // half the MASS needs the big doc
    val df = (Seq.fill(6)(1L) :+ 100L).toDF("len")
    val got = Profile.massWeightedPercentiles(df, "len", "len",
        Seq(0.05, 0.5))
      .as[(Double, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (0.05, 1L, 6L, 6L, r6d(6.0 / 106.0)),  // 5% of mass: tiny docs do
      (0.5, 100L, 7L, 106L, 1.0)))           // 50%: only with the giant
    // null masses/values excluded
    val withNull = Profile.massWeightedPercentiles(
      Seq(Some(1L), None).toDF("len"), "len", "len", Seq(1.0))
      .as[(Double, Long, Long, Long, Double)].collect()
    assert(withNull === Seq((1.0, 1L, 1L, 1L, 1.0)))
    // cardinality contract: a value column whose distinct count busts
    // the budget fails LOUDLY instead of silently single-task-sorting
    val wide = (1L to 20L).toDF("len")
    val err = intercept[Exception] {
      Profile.massWeightedPercentiles(wide, "len", "len", Seq(0.5),
        maxDistinct = 10L).collect()
    }
    assert(err.getMessage.contains("cardinality contract") ||
      Option(err.getCause).exists(
        _.getMessage.contains("cardinality contract")))
  }

  test("scriptMix: dominant script, priority tie-break, purity flag") {
    val df = Seq(
      (1L, "hello world"),   // pure latin
      (2L, "привет hello"),  // cyrillic 6 > latin 5
      (3L, "数据"),           // pure cjk
      (4L, "123 !!!"),       // no tracked letters at all
      (5L, "abc αβγ")        // 3-3 tie → priority order picks latin
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptMix(df, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, String, Option[Double], Boolean)]
      .collect().toSeq
    assert(got === Seq(
      (1L, 10L, 0L, 0L, 0L, 10L, "latin", Some(1.0), false),
      (2L, 5L, 6L, 0L, 0L, 11L, "cyrillic", Some(r6d(6.0 / 11.0)), true),
      (3L, 0L, 0L, 2L, 0L, 2L, "cjk", Some(1.0), false),
      (4L, 0L, 0L, 0L, 0L, 0L, "none", None, false),
      (5L, 3L, 0L, 0L, 3L, 6L, "latin", Some(0.5), true)))
  }

  test("heapsFit: two-point corpus fits the power law exactly") {
    // doc0: 2 tokens, 2 new words → (n, v) = (2, 2)
    // doc1: 4 tokens, 2 new words → (6, 4); empty doc never counts
    val df = Seq((0L, "a b"), (1L, "a b c d"), (5L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.heapsFit(df, "doc_id", "text")
      .as[(Option[Double], Option[Double], Option[Double], Long)]
      .collect().head
    val beta = (math.log(4) - math.log(2)) / (math.log(6) - math.log(2))
    val k = math.exp(math.log(2) - beta * math.log(2))
    assert(got._1 === Some(r6d(beta)))
    assert(got._2 === Some(r6d(k)))
    assert(got._3 === Some(1.0)) // two points: perfect fit
    assert(got._4 === 2L)
  }

  test("runsTest: hand-computed runs, gap observability, degenerate") {
    // T T F T F F F T T T → 5 runs, n1 = 6, n2 = 4
    val flags = Seq(true, true, false, true, false, false, false,
      true, true, true)
    val df = flags.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      .toDF("pos", "f")
    val got = Profile.runsTest(df, "pos", "f")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    val mu = 1.0 + 2.0 * 6 * 4 / 10.0
    val v = (2.0 * 6 * 4 * (2.0 * 6 * 4 - 10)) / (10.0 * 10 * 9)
    assert(got === ((10L, 6L, 4L, 9L, 5L, Some(r6d(mu)),
      Some(r6d((5 - mu) / math.sqrt(v))))))
    // a gap in the position column shows up as n_pairs < n − 1
    val gapped = Profile.runsTest(df.where(col("pos") =!= 5), "pos", "f")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(gapped._1 === 9L && gapped._4 === 7L)
    // all flags equal → σ² = 0 → no z
    val const = Profile.runsTest(
      Seq((0L, true), (1L, true)).toDF("pos", "f"), "pos", "f")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(const._5 === 1L && const._7 === None)
  }

  test("conservation: clean split zeroes out, dup + drop are caught") {
    import graft.operators.Funnel
    def h(id: Long): Long = id % 1000000007L * 2654435761L % 1000000007L
    val input = (1L to 6L).map(i => (i, i * 10)).toDF("id", "m")
    val evens = input.where(col("id") % 2 === 0)
    val odds = input.where(col("id") % 2 === 1)
    val clean = Funnel.conservation(input,
        Seq("evens" -> evens, "odds" -> odds), "id", Some("m"))
      .as[(String, Long, Long, Long)].collect()
    val res = clean.find(_._1 == "~residual").get
    assert(res === (("~residual", 0L, 0L, 0L)))
    assert(clean.find(_._1 == "evens").get._2 === 3L)
    // same row in two parts + one row in none: counts conserve by
    // luck-free construction here, the digest still catches both
    val dupAndDrop = Funnel.conservation(input, Seq(
        "a" -> input.where(col("id") =!= 3), // drops id 3
        "b" -> input.where(col("id") === 4)),  // id 4 lands twice
      "id", Some("m")).as[(String, Long, Long, Long)].collect()
    val res2 = dupAndDrop.find(_._1 == "~residual").get
    assert(res2._2 === 0L && res2._3 === -10L)
    assert(res2._4 === (h(3) ^ h(4))) // 3 missing, 4 double-counted
    // an empty part still gets its zero row — no silent absence
    val withEmpty = Funnel.conservation(input, Seq(
        "all" -> input, "none" -> input.where(lit(false))),
      "id", Some("m")).as[(String, Long, Long, Long)].collect()
    assert(withEmpty.find(_._1 == "none").get === (("none", 0L, 0L, 0L)))
    assert(withEmpty.find(_._1 == "~residual").get._2 === 0L)
  }

  test("autocorrelation: period-2 volume, gap lag, exact r values") {
    import graft.operators.Drift
    // hourly counts [2,1,2,1,2,1] → r(2) = 2/3, r(1) = −5/6
    val counts = Seq(2, 1, 2, 1, 2, 1)
    val secs = counts.zipWithIndex.flatMap { case (c, hr) =>
      (0 until c).map(i => hr.toLong * 3600L + i)
    }
    val df = secs.toDF("s").select(col("s").cast("timestamp").as("ts"))
    val got = Drift.autocorrelation(df, "ts", Seq(1, 2, 6))
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      (1L, 5L, Some(r6d(-1.25 / 1.5))),
      (2L, 4L, Some(r6d(1.0 / 1.5))),
      (6L, 0L, None))) // beyond the series: row kept, r = NULL
  }

  test("ruleCooccurrence: pairs counted once per doc, singles absent") {
    import graft.operators.ValidationPass
    val v = Seq(
      (1L, "R_A"), (1L, "R_B"), (1L, "R_B"), // dup (doc,rule) collapses
      (2L, "R_A"), (2L, "R_B"), (2L, "R_C"),
      (3L, "R_C")                            // single rule: no pair
    ).toDF("doc_id", "rule_id")
    val got = ValidationPass.ruleCooccurrence(v)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("R_A", "R_B", 2L), ("R_A", "R_C", 1L),
      ("R_B", "R_C", 1L)))
  }

  private def r6d(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
