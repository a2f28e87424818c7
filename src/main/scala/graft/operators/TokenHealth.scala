package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.round6

/** Structural health checks for token-ID payloads — the validation
  * tier that looks INSIDE the `tokens` array after the schema/range
  * constraints (ValidationPass) have passed: BOS/EOS framing, vocab
  * coverage, positional distribution, duplicated-n-gram mass, and
  * token-ID distribution drift between snapshots. These are the checks
  * a tokenized-corpus release runs before training: a packing bug
  * shows up as broken framing or a spiked position-0 distribution, a
  * tokenizer swap as vocab-coverage / ID-histogram drift, and a dedup
  * regression as duplicated-gram mass. Reference analogue: none
  * (engine extension per the builder's brief — the reference validates
  * per-cell metadata, never sequence structure).
  *
  * Scale shape: every operator here is a bounded explode (k rows or
  * n-gram count per sequence, never the payload) followed by
  * map-side-combined narrow aggregates — exchanges carry (key, count)
  * pairs of ints, token arrays stay in their input partitions. The
  * drift check merges metadata-sized histogram sketches driver-side
  * (the [[Drift]] convention: baseline computed once and stored,
  * snapshots checked against it).
  */
object TokenHealth {

  /** Per-sequence BOS/EOS framing flags: `miss_bos` (first token is
    * not `bosId`), `miss_eos` (last token is not `eosId`), and
    * `interior_eos` (an `eosId` strictly inside the sequence — the
    * cross-document bleed signal for packed corpora). Empty or NULL
    * token arrays flag both `miss_bos` and `miss_eos`. Pure projection
    * — zero exchanges; `try_element_at` keeps the empty-array probe
    * legal under ANSI mode. */
  def framingFlags(df: DataFrame, tokensCol: String,
                   bosId: Int, eosId: Int): DataFrame = {
    val f = col(tokensCol)
    val interior = slice(f, lit(2), greatest(size(f) - 2, lit(0)))
    df
      .withColumn("miss_bos",
        when(f.isNull || size(f) === 0, lit(true))
          .otherwise(try_element_at(f, lit(1)) =!= bosId))
      .withColumn("miss_eos",
        when(f.isNull || size(f) === 0, lit(true))
          .otherwise(try_element_at(f, lit(-1)) =!= eosId))
      .withColumn("interior_eos",
        when(f.isNull, lit(false))
          .otherwise(coalesce(array_position(interior, lit(eosId)) > 0,
            lit(false))))
  }

  /** Per-group framing summary: sequence count plus the three
    * violation counters from [[framingFlags]]. One map-side-combined
    * aggregate over the flag projection. */
  def framingSummary(df: DataFrame, tokensCol: String, groupCol: String,
                     bosId: Int, eosId: Int): DataFrame =
    framingFlags(df, tokensCol, bosId, eosId)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("miss_bos").cast("long")).as("n_miss_bos"),
        sum(col("miss_eos").cast("long")).as("n_miss_eos"),
        sum(col("interior_eos").cast("long")).as("n_interior_eos"))

  /** Distribution of token IDs at each of the first `k` positions:
    * `(pos, n_seqs, n_distinct_tokens, bucket_entropy,
    * top_bucket_share)`. A corrupted packing or truncation bug is
    * position-local (every sequence suddenly starts with the same
    * token; position-0 entropy collapses), which whole-array
    * frequency stats cannot see.
    *
    * The explode is bounded at `k` rows per sequence. Entropy and the
    * top share are computed over `nBuckets` ID buckets (`pmod(id,
    * nBuckets)`), not raw IDs, so the per-position contingency table —
    * and the FP summation length behind the entropy — is bounded by a
    * constant, never by vocab size; `n_distinct_tokens` stays exact
    * (an integer count over the (pos, id) pairs, which combine
    * map-side). Entropy is `ln N − Σ n_b ln n_b / N` over integer
    * counts, rounded to 6dp (the oracle-parity convention). */
  def positionStats(df: DataFrame, tokensCol: String, k: Int,
                    nBuckets: Int = 64): DataFrame = {
    require(k > 0 && nBuckets > 0, "positionStats: k and nBuckets must be positive")
    val perTok = df
      .select(posexplode(slice(col(tokensCol), 1, k)).as(Seq("pos", "__t")))
      .groupBy(col("pos"), col("__t"))
      .agg(count(lit(1)).as("__n"))
    val perPos = perTok.groupBy(col("pos")).agg(
      sum(col("__n")).as("n_seqs"),
      count(lit(1)).as("n_distinct_tokens"))
    val perBucket = perTok
      .groupBy(col("pos"), pmod(col("__t"), lit(nBuckets)).as("__b"))
      .agg(sum(col("__n")).as("__nb"))
      .groupBy(col("pos")).agg(
        sum(col("__nb")).as("__total"),
        sum(col("__nb").cast("double") * log(col("__nb").cast("double")))
          .as("__nlogn"),
        max(col("__nb")).as("__top"))
      .select(col("pos"),
        round(log(col("__total").cast("double")) -
          col("__nlogn") / col("__total").cast("double"), 6)
          .as("bucket_entropy"),
        round(col("__top").cast("double") / col("__total").cast("double"), 6)
          .as("top_bucket_share"))
    perPos.join(perBucket, Seq("pos")).orderBy("pos")
  }

  /** Per-group vocabulary coverage: total token occurrences, exact
    * distinct token IDs, the covered fraction of a `vocabSize`-entry
    * vocabulary, and the type/token ratio. Two-level aggregate: the
    * (group, id) pairs combine map-side, so the exchange carries at
    * most groups × vocab rows of ints — never the sequences. All four
    * outputs are integers or integer ratios (bit-exact across
    * engines). */
  def vocabCoverage(df: DataFrame, tokensCol: String, groupCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabCoverage: vocabSize must be positive")
    df.select(col(groupCol), explode(col(tokensCol)).as("__t"))
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(count(lit(1)).cast("double") / lit(vocabSize.toDouble), 6)
          .as("vocab_coverage"),
        round(count(lit(1)).cast("double") / sum(col("__n")).cast("double"), 6)
          .as("type_token_ratio"))
  }

  /** Duplicated token-n-gram mass over the corpus: the fraction of all
    * n-gram OCCURRENCES whose gram appears more than once — the
    * token-space companion of the char-level duplicated-span fraction
    * (a dedup regression inflates it; heavily-boilerplated corpora sit
    * high). Returns one row: `(n_grams, n_distinct_grams,
    * n_dup_occurrences, dup_mass)`.
    *
    * The explode emits one row per gram START (bounded by Σ n_tok);
    * each row is projected to the n raw IDs immediately, so the
    * exchange carries n-int keys with map-side-combined partial counts
    * — token arrays never move. `dup_mass` is a ratio of two exact
    * integer sums (bit-exact across engines). */
  def dupGramMass(df: DataFrame, tokensCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "dupGramMass: n must be >= 1")
    val gramCols = (0 until n).map(j => s"g$j")
    val starts = df
      .select(col(tokensCol).as("__toks"),
        posexplode(slice(col(tokensCol), lit(1),
          greatest(size(col(tokensCol)) - (n - 1), lit(0))))
          .as(Seq("__p", "__a")))
    val grams = starts.select(
      (0 until n).map(j =>
        try_element_at(col("__toks"), col("__p") + lit(j + 1)).as(s"g$j")): _*)
    grams
      .groupBy(gramCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        coalesce(sum(when(col("__n") > 1, col("__n")).otherwise(lit(0L))),
          lit(0L)).as("n_dup_occurrences"),
        // NULL on an empty gram set (the 0/0 ratio is undefined, and
        // both engines agree on NULL)
        round(sum(when(col("__n") > 1, col("__n")).otherwise(lit(0L)))
            .cast("double") / sum(col("__n")).cast("double"), 6)
          .as("dup_mass"))
  }

  /** KS drift of the token-ID distribution between a baseline and a
    * current snapshot — the tokenizer-swap / corpus-shift detector at
    * histogram-sketch cost. Both sides reduce to an `nBins`-bucket
    * histogram via one map-side-combined aggregate (the [[Drift]]
    * sketch; at production scale the baseline is computed once and
    * stored via [[Drift.saveHistogram]]); the KS statistic and its
    * critical value are evaluated driver-side on the metadata-sized
    * sketches. Returns one row `(n_base, n_cur, ks_stat, ks_critical,
    * ks_drifted)`, 6dp-rounded. */
  def tokenIdDrift(base: DataFrame, cur: DataFrame, tokensCol: String,
                   lo: Double, hi: Double, nBins: Int = 64,
                   alpha: Double = 0.01): DataFrame = {
    val spark = base.sparkSession
    def hist(df: DataFrame) = Drift.numericHistogram(
      df.select(explode(col(tokensCol)).as("__t"))
        .select(col("__t").cast("double").as("__t")),
      "__t", lo, hi, nBins)
    val bh = hist(base)
    val ch = hist(cur)
    val ks = Drift.ksStatistic(ch, bh)
    val crit = Drift.ksCritical(ch.total, bh.total, alpha)
    import spark.implicits._
    Seq((bh.total, ch.total, round6(ks), round6(crit), ks > crit))
      .toDF("n_base", "n_cur", "ks_stat", "ks_critical", "ks_drifted")
  }

  /** Longest run of one repeated element, as an IN-ROW fold
    * (`functions.aggregate` over the array) — O(n) per sequence, zero
    * exchange, the whole computation stays inside the scan. The
    * explode + gaps-and-islands window spelling (what the SQL oracle
    * runs) would shuffle EVERY token; at 10^12 sequences that is the
    * difference between a projection and a corpus-sized exchange. */
  private def maxRunCol(arr: Column): Column =
    when(arr.isNull || size(arr) === 0, lit(0L)).otherwise(
      aggregate(arr,
        struct(lit(null).cast("int").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x <=> acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best")))

  /** Degenerate-generation signals per sequence — the loop/repetition
    * detector for synthetic or model-generated corpora, where decoding
    * failures show up as a single token repeated forever ("!!!!…") or
    * a collapsed distribution (one token dominating the sequence):
    *
    *  - `max_run` — longest run of one repeated token ([[maxRunCol]])
    *  - `top_token_count` / `top_share` — the mode token's count and
    *    mass fraction, computed as the longest run of the SORTED array
    *    (sorting makes equal tokens contiguous, so mode count = max
    *    run — an O(n log n) in-row spelling that needs no map state)
    *  - `distinct_ratio` — type/token ratio of the sequence
    *
    * Everything is computed inside the scan; the only exchange in a
    * typical use is whatever the caller aggregates afterwards. Ratios
    * are IEEE divisions of exact integers (bit-stable cross-engine).
    * Empty/NULL sequences report 0 counts and NULL ratios — loud, not
    * silently perfect. */
  def runStats(df: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val toks = col(tokensCol)
    df.select(
        col(idCol),
        coalesce(size(toks).cast("long"), lit(0L)).as("n_tok"),
        maxRunCol(toks).as("max_run"),
        maxRunCol(array_sort(toks)).as("top_token_count"),
        coalesce(size(array_distinct(toks)).cast("long"), lit(0L))
          .as("n_distinct"))
      .withColumn("top_share",
        when(col("n_tok") > 0,
          col("top_token_count").cast("double") /
            col("n_tok").cast("double")))
      .withColumn("distinct_ratio",
        when(col("n_tok") > 0,
          col("n_distinct").cast("double") / col("n_tok").cast("double")))
  }

  /** Filter gate over [[runStats]]: drop sequences whose longest run
    * or mode share crosses the degenerate thresholds. Returns the
    * surviving rows of `df` unprojected (byte-identical passthrough,
    * the [[graft.operators.ValidationPass.splitValid]] convention) —
    * the stats frame is only consulted as a predicate, via the same
    * in-row folds, so the gate stays a zero-exchange scan. */
  def dropDegenerate(df: DataFrame, tokensCol: String,
                     maxRun: Int = 20, maxTopShare: Double = 0.5): DataFrame = {
    val toks = col(tokensCol)
    val n = size(toks).cast("long")
    df.where(toks.isNull || n === 0 ||
      (maxRunCol(toks) < maxRun.toLong &&
        maxRunCol(array_sort(toks)).cast("double") <
          lit(maxTopShare) * n.cast("double")))
  }

  /** Order-1 entropy rate of the TOKEN stream: H(next | current) over
    * within-sequence adjacent-token pairs, against the marginal
    * H(token) — the corpus's intrinsic order-1 predictability floor
    * (an order-1 LM can reach exactly 1 − H(next|cur)/H(token) of the
    * unigram uncertainty; a corpus whose ratio climbs across snapshots
    * is getting more templated even if its unigram mix is stable —
    * which is precisely what unigram drift checks CANNOT see). Pairs
    * are built IN-ROW (`arrays_zip` of two slices — token arrays never
    * explode positionally before pairing, never shuffle); pair counts
    * combine map-side to O(observed bigrams) int-pair rows; the
    * entropies are those of their [[Categorical.Joint]], keyed by the
    * token ids in numeric order. Returns one row (n_pairs,
    * h_conditional, h_marginal, predictability). */
  def tokenTransitionEntropy(df: DataFrame,
                             tokensCol: String): DataFrame = {
    val toks = col(tokensCol)
    val pairs = df.where(toks.isNotNull && size(toks) >= 2)
      .select(explode(arrays_zip(
        slice(toks, 1, 1000000000).as("x"),
        slice(toks, 2, 1000000000).as("y"))).as("__p"))
      .where(col("__p.y").isNotNull) // zip pads the shorter slice
      .groupBy(col("__p.x").as("__x"), col("__p.y").as("__y"))
      .agg(count(lit(1)).as("__n"))
      .collect()
    val spark = df.sparkSession
    import spark.implicits._
    val joint = new Categorical.Joint[Int](pairs.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap)
    val hCond = joint.conditional
    val hMarg = joint.entropy(joint.second)
    Seq((joint.total, round6(hCond), round6(hMarg),
      if (hMarg > 0.0) Option(round6(1.0 - hCond / hMarg)) else None))
      .toDF("n_pairs", "h_conditional", "h_marginal", "predictability")
  }
}
