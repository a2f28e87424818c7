package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ShingleExpression

/** Token-level benchmark decontamination: flag (and drop) training
  * sequences that share n-token grams with an evaluation/benchmark set —
  * the GPT-3-appendix-C / PaLM-style leak check, run directly on the
  * north-star `tokens:array<int>` payload with no detokenization.
  *
  * Scale shape (the part that must survive 10^12 corpus sequences):
  *  - gram extraction is one native expression per row
  *    ([[graft.functions.TokenGramHashes]]) emitting SORTED DISTINCT
  *    8-byte window hashes — repeated grams collapse inside the row,
  *    before anything is exploded;
  *  - the benchmark side is a bounded dimension BY CONSTRUCTION (eval
  *    suites are 10^3–10^6 sequences, curated by hand), so its distinct
  *    gram set is broadcast and the corpus side never shuffles: the
  *    whole check is scan → explode → broadcast-hash semi-probe →
  *    partial-aggregated per-doc count. Zero exchanges over corpus data
  *    (pinned in PlanSpec);
  *  - the per-doc match count aggregates only SURVIVING (matched)
  *    grams, which for a healthy corpus is a vanishing fraction.
  *
  * The reference app has no decontamination analogue; this is an
  * engine extension for the training-data pipeline tier (SURVEY §2
  * "beyond-reference" block), orthogonal to near-dup dedup: dedup
  * compares corpus↔corpus, decontamination compares corpus↔benchmark.
  *
  * Division of labor vs [[Dedup.ngramContamination]]: that operator
  * works on TEXT via word shingles and attributes hits per
  * (corpus_id, bench_id) pair (who leaked from which benchmark); this
  * one works on the token payload directly — no detokenization, no
  * string materialization — and reports per-doc totals plus the apply
  * (removal) step, which is what a token-native training pipeline runs.
  */
object Decontamination {

  /** Sorted distinct hashes of every `n`-token window (empty when the
    * doc has fewer than n tokens). */
  def gramHashes(tokens: Column, n: Int): Column =
    ShingleExpression.tokenGrams(tokens, n)

  /** Distinct benchmark gram hashes — one small frame to broadcast.
    * Kept separate so callers amortize it across many corpus slices
    * (build once, persist, reuse per partition/epoch).
    *
    * explode_outer, not explode, on BOTH sides here: plain explode
    * triggers InferFiltersFromGenerate, whose `size(g) > 0 AND
    * isnotnull(g)` filter gets substituted through the projection by
    * predicate pushdown — re-evaluating the whole gram expression up to
    * 3× per row (CodegenFallback gets no CSE; measured in the
    * q_decontaminate plan). The rule skips outer generates; the join on
    * gram_hash then drops the null row an empty/null array emits, so
    * semantics are identical and the expression runs ONCE (pinned in
    * PlanSpec). */
  def benchmarkGrams(bench: DataFrame, tokCol: String, n: Int): DataFrame =
    bench.select(explode_outer(gramHashes(col(tokCol), n)).as("gram_hash"))
      .where(col("gram_hash").isNotNull).distinct()

  /** Per-doc contamination report: docs sharing >= `minMatches` distinct
    * n-grams with the benchmark, with
    * (doc_id, n_grams, n_matched, contamination_rate).
    *
    * `n_grams` counts the doc's DISTINCT grams (the denominator that
    * pairs with the distinct-match numerator). The benchmark gram set is
    * broadcast — bounded dimension by construction (scaladoc above); for
    * a pathologically large benchmark pass `broadcastBench = false` to
    * fall back to a shuffled semi-join. */
  def contaminated(corpus: DataFrame, idCol: String, tokCol: String,
                   bench: DataFrame, benchTokCol: String, n: Int,
                   minMatches: Long = 1L,
                   broadcastBench: Boolean = true): DataFrame = {
    val bgRaw = benchmarkGrams(bench, benchTokCol, n)
    val bg = if (broadcastBench) broadcast(bgRaw) else bgRaw
    val cg = corpus
      .select(col(idCol), gramHashes(col(tokCol), n).as("__grams"))
      .select(col(idCol), size(col("__grams")).as("n_grams"),
        explode_outer(col("__grams")).as("gram_hash"))
    // grams are distinct per doc already, so count(*) == distinct matches;
    // n_grams is functionally determined by idCol — grouping on both keeps
    // it through the aggregate without a join back
    cg.join(bg, Seq("gram_hash"))
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") >= minMatches)
      .select(col(idCol), col("n_grams"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_grams"), 6)
          .as("contamination_rate"))
  }

  /** Streaming-composable contamination predicate: TRUE where the row
    * shares at least one n-gram with the bloom of the benchmark gram
    * set. A pure per-row projection — no explode, no join, no aggregate
    * — so it filters a `readStream` micro-batch exactly like any other
    * predicate (the batch operators above need aggregation state that
    * streaming would have to watermark).
    *
    * Bloom semantics err SAFE for decontamination: a false positive
    * flags a clean doc — at most a tiny over-removal — while leaked
    * docs are NEVER missed (no false negatives). Build the bloom once
    * from the benchmark (bounded by construction) and reuse it across
    * batches/epochs.
    *
    * False-positive math: Spark's sketch bloom (double-hashed Murmur)
    * has a MEASURED fpp floor around 6e-6 regardless of how low you ask
    * (k=23 at requested 1e-7 still lands ~6e-6 — the classic
    * double-hashing degradation at high k). A per-gram rate compounds
    * per document (g grams ⇒ ≈ g·fpp false-flag odds), so one bloom
    * cannot make a 1k-gram doc safe. The predicate therefore probes TWO
    * independent blooms — the second built over a remixed
    * (xxhash64-of-hash) gram key — and flags only when BOTH hit:
    * effective per-gram fpp ≈ floor² ≈ 4e-11, i.e. ~4e-8 per 1k-gram
    * doc, at twice the (small) bloom bytes; both blooms come from one
    * aggregate job. No false negatives either way.
    *
    * Returns None when the benchmark has no grams (nothing to flag). */
  def contaminationPredicate(bench: DataFrame, benchTokCol: String, n: Int,
                             fpp: Double = 1e-6): Option[Column => Column] = {
    import graft.functions.BloomFunctions
    val bg = benchmarkGrams(bench, benchTokCol, n).persist()
    try {
      val items = math.max(bg.count(), 1L)
      BloomFunctions.buildBloom(bg,
          Seq(col("gram_hash"), xxhash64(col("gram_hash"))), items, fpp).map {
        case Seq(bloomA, bloomB) => (tokens: Column) =>
          exists(gramHashes(tokens, n), h =>
            BloomFunctions.mightContain(bloomA, h) &&
            BloomFunctions.mightContain(bloomB, xxhash64(h)))
      }
    } finally bg.unpersist()
  }

  /** The apply step: corpus minus contaminated docs (broadcast-able anti
    * join on the id — the contaminated set is a tiny fraction of a
    * healthy corpus, but the broadcast is left to the planner/AQE since
    * "tiny" is an empirical property, not a structural one). */
  def removeContaminated(corpus: DataFrame, idCol: String, tokCol: String,
                         bench: DataFrame, benchTokCol: String, n: Int,
                         minMatches: Long = 1L): DataFrame = {
    val bad = contaminated(corpus, idCol, tokCol, bench, benchTokCol, n,
      minMatches).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }
}
