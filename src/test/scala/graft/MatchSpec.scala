package graft

import org.apache.spark.sql.functions._

import graft.functions.{JaroWinkler, MatchExpressions}
import graft.operators.{Packing, Profile, TextAnalysis}
import graft.sources.Bucketing

/** Batch-28 operators: Aho–Corasick phrase scan, Jaro–Winkler linkage
  * similarity, Spearman rank correlation, packed-window attention
  * waste, and the parquet zone-map skip audit. Hand-computed values
  * plus plan-shape pins. */
class MatchSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------- Jaro–Winkler

  test("jaroWinkler matches hand/DuckDB-pinned values") {
    // DuckDB-probed doubles (jaro_winkler_similarity) — the kernel is
    // fuzz-pinned bit-exact against DuckDB on 30k random pairs; these
    // literals re-pin the canonical cases in-repo.
    def jw(a: String, b: String): Double = JaroWinkler.similarity(
      a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(jw("martha", "marhta") === 0.9611111111111111)
    assert(jw("dixon", "dicksonx") === 0.8133333333333332)
    assert(jw("a", "a") === 1.0)
    assert(jw("", "") === 0.0) // DuckDB's empty rule: 0, not 1
    assert(jw("", "abc") === 0.0)
    assert(jw("ushers", "x") === 0.0)
    // crate/trace: jaro .733 > .7 but no common prefix → no boost
    assert(math.abs(jw("crate", "trace") - 0.7333333333333333) < 1e-15)
    // BYTE-level semantics: 日 = 3 UTF-8 bytes; la=4, lb=8, m=3, t=0
    assert(jw("d日", "xbcx日e") === 0.7083333333333334)
    // boost only above 0.7: long shared prefix, low jaro → untouched
    assert(math.abs(jw("abcdexxxxx", "abcdeyyyyyyyyzzzz")
      - 0.5980392157) < 1e-9)
    // prefix capped at 4
    assert(math.abs(jw("prefixesabc", "prefixesxyz")
      - 0.8909090909090909) < 1e-15)
  }

  test("jaroWinkler column: null-safe, plan stays a zero-exchange projection") {
    val df = Seq(("martha", "marhta"), (null, "x"), ("y", null))
      .toDF("a", "b")
    val out = df.select(MatchExpressions.jaroWinkler(col("a"), col("b"))
      .as("jw")).collect()
    assert(math.abs(out(0).getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
    val p = df.select(MatchExpressions.jaroWinkler(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"jaro-winkler must be a pure projection:\n$p")
  }

  // ------------------------------------------- Aho–Corasick phrases

  test("phraseCounts: classic AC dictionary, overlapping and unicode") {
    val df = Seq(("ushers"), ("日日日"), ("aaa")).toDF("t")
    val phrases = Seq("he", "she", "his", "hers", "日日", "aa")
    val rows = df.select(MatchExpressions.phraseCounts(col("t"), phrases)
      .as("c")).collect().map(_.getSeq[Long](0))
    // "ushers": she@1, he@2, hers@3 — suffix outputs all fire
    assert(rows(0) === Seq(1L, 1L, 0L, 1L, 0L, 0L))
    // byte-level overlapping: 日日 at byte offsets 0 and 3
    assert(rows(1) === Seq(0L, 0L, 0L, 0L, 2L, 0L))
    // "aa" in "aaa": ALL positions → 2 (bordered pattern, overlap counted)
    assert(rows(2) === Seq(0L, 0L, 0L, 0L, 0L, 2L))
  }

  test("phraseScan: sparse rows, zero counts dropped, zero-shuffle plan") {
    val df = Seq((1L, "the table scan met a table scan"),
      (2L, "nothing here"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.phraseScan(df, "doc_id", "text",
      Seq("table scan", "spark")).orderBy("doc_id", "phrase").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L &&
      out(0).getString(1) === "table scan" && out(0).getLong(2) === 2L)
    val p = TextAnalysis.phraseScan(df, "doc_id", "text", Seq("x"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"phrase scan must stay projection+generate:\n$p")
  }

  test("phraseCounts rejects empty phrases loudly") {
    intercept[IllegalArgumentException] {
      graft.functions.PhraseCounts(Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.functions.PhraseCounts(Seq("a", ""))
    }
  }

  // ------------------------------------------------------ Spearman

  test("spearman: hand-computed, ties via average ranks, null exclusion") {
    val up = Seq((1, 10), (2, 20), (3, 30)).toDF("x", "y")
    val r1 = Profile.spearman(up, "x", "y").head()
    assert(r1.getLong(0) === 3L && r1.getDouble(1) === 1.0)
    val down = Seq((1, 30), (2, 20), (3, 10)).toDF("x", "y")
    assert(Profile.spearman(down, "x", "y").head().getDouble(1) === -1.0)
    // ties: x=(1,1,2,3) → avg ranks (1.5,1.5,3,4); rho = 4.5/√(4.5·5)
    val tied = Seq((1, 5), (1, 6), (2, 7), (3, 8)).toDF("x", "y")
    assert(Profile.spearman(tied, "x", "y").head().getDouble(1) === 0.948683)
    // constant side → NULL rho, null rows excluded from n
    val const = Seq((Some(1), 7), (Some(2), 7), (Some(3), 7), (None, 9))
      .toDF("x", "y")
    val r4 = Profile.spearman(const, "x", "y").head()
    assert(r4.getLong(0) === 3L && r4.isNullAt(1))
  }

  test("spearman plan: ordered windows only over the O(distinct) frames") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = Profile.spearman(
      docs.select(col("n_chars"), (col("n_chars") % 7).as("b")),
      "n_chars", "b")
    val p = q.queryExecution.executedPlan.toString
    // rank frames broadcast back — the base table never sort-merges
    assert(p.contains("BroadcastHashJoin"), s"rank join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  // ----------------------------------------------- attention waste

  test("attentionWaste: hand-computed windows, exact pair counts") {
    val df = Seq(("a", 3L), ("b", 2L), ("c", 5L)).toDF("id", "cost")
    val out = Packing.attentionWaste(df, "id", "cost", windowLen = 4L)
      .collect()
    // offsets: a=0, b=3, c=5 (id order); windows of 4:
    // w0 = a[0,3)+b[3,4): T=4, Σl²=10 → cross 3, pairs 6, waste 0.5
    // w1 = b[4,5)+c[5,8): same shape → 0.5
    // w2 = c[8,10): T=2 one segment → cross 0, waste 0.0
    assert(out.length === 3)
    val w0 = out(0)
    assert(w0.getLong(0) === 0L && w0.getLong(1) === 4L &&
      w0.getLong(2) === 2L && w0.getLong(3) === 3L &&
      w0.getLong(4) === 6L && w0.getDouble(5) === 0.5)
    assert(out(1).getDouble(5) === 0.5)
    val w2 = out(2)
    assert(w2.getLong(1) === 2L && w2.getLong(2) === 1L &&
      w2.getLong(3) === 0L && w2.getLong(4) === 1L &&
      w2.getDouble(5) === 0.0)
  }

  test("attentionWaste: T=1 window has NULL waste; zero-cost docs vanish") {
    val df = Seq(("a", 4L), ("z", 0L), ("b", 1L)).toDF("id", "cost")
    val out = Packing.attentionWaste(df, "id", "cost", windowLen = 4L)
      .collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 4L && out(0).getDouble(5) === 0.0)
    assert(out(1).getLong(1) === 1L && out(1).getLong(4) === 0L &&
      out(1).isNullAt(5))
  }

  test("attentionWaste conservation: window token mass equals corpus mass") {
    val docs = (1L to 200L).map(i => (f"d$i%04d", i % 13 + 1)).toDF("id", "c")
    val out = Packing.attentionWaste(docs, "id", "c", windowLen = 32L)
    val total = out.agg(sum("n_tokens")).head().getLong(0)
    val expected = docs.agg(sum("c")).head().getLong(0)
    assert(total === expected)
    // every full window holds exactly windowLen tokens
    val full = out.orderBy("window_id").collect().dropRight(1)
    assert(full.forall(_.getLong(1) === 32L))
  }

  // ------------------------------------------------- zone-map audit

  test("zoneMap: range-clustered write yields disjoint per-file ranges") {
    val df = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v")
    Bucketing.writeSortedBy(df, "/tmp/graft_test_zonemap", "k", nFiles = 4)
    val zm = Bucketing.zoneMap(spark, "/tmp/graft_test_zonemap", "k")
      .collect()
    assert(zm.map(_.getLong(0)).sum === 300L)
    assert(zm.head.getLong(1) === 1L && zm.last.getLong(2) === 300L)
    // sorted by min: each file's max < next file's min (disjoint zones)
    zm.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) < b.getLong(1),
        s"overlapping zones: ${a.mkString(",")} vs ${b.mkString(",")}")
    }
  }

  test("zoneMapSkipStats: skip rule matches the pruning-reader rule") {
    val df = (1L to 100L).map(i => (i, i)).toDF("k", "v")
    Bucketing.writeSortedBy(df, "/tmp/graft_test_zoneskip", "k", nFiles = 4)
    // predicate disjoint from every zone → everything skipped
    val all = Bucketing.zoneMapSkipStats(spark, "/tmp/graft_test_zoneskip",
      "k", 1000L, 2000L).head()
    assert(all.getLong(0) === all.getLong(2) &&
      all.getLong(1) === 100L && all.getLong(3) === 100L &&
      all.getDouble(4) === 1.0 && all.getDouble(5) === 1.0)
    // predicate covering everything → nothing skipped
    val none = Bucketing.zoneMapSkipStats(spark, "/tmp/graft_test_zoneskip",
      "k", 1L, 100L).head()
    assert(none.getLong(2) === 0L && none.getDouble(4) === 0.0)
    intercept[IllegalArgumentException] {
      Bucketing.zoneMapSkipStats(spark, "/tmp/graft_test_zoneskip",
        "k", 10L, 5L)
    }
  }
}
