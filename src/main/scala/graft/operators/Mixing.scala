package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.round6

/** Dataset mixing for training-data assembly: deterministic per-source
  * downsampling to target weights (the "mix web at 0.6, code at 0.25,
  * books at 0.15" step every LLM data pipeline runs before tokenizing).
  *
  * Selection is a pure stateless predicate — keep a row iff
  * `bucket(key) < weight(source) · granularity` — so it is:
  *  - exactly reproducible (no RNG state, no sampleBy seed drift across
  *    partitions/retries: the decision is a function of the ROW, which
  *    also makes resumed/re-run jobs pick identical rows);
  *  - embarrassingly parallel (a codegen'd filter, zero shuffle,
  *    pushdown-friendly);
  *  - incrementally consistent: new data added later is sampled by the
  *    same rule, so the mix stays stable under appends.
  *
  * `hashKey = true` (production default) buckets by xxhash64(key) —
  * uniform regardless of key distribution. `hashKey = false` buckets by
  * `key mod granularity` — only sensible for dense sequential ids, but
  * exactly replicable in plain SQL (the oracle path).
  */
object Mixing {

  /** Per-source keep-fractions applied as one filter. Sources absent
    * from `weights` get `defaultWeight` (0.0 = dropped). Weights are
    * clamped to [0,1]; granularity bounds the weight resolution (1e-4
    * at the default 10000). */
  /** Shared modulo-mode key guard (the assignSplits hardening, applied
    * to every hashKey=false path): fractional numeric TYPES are
    * rejected up front (try_cast truncation would silently move split
    * boundaries), non-numeric VALUES raise at runtime (a silently-null
    * bucket would drop or mislabel every row), and a genuinely NULL key
    * lands deterministically in bucket 0, mirroring hash mode where
    * xxhash64(null) is one constant bucket. */
  private def moduloLong(df: DataFrame, keyCol: String, op: String)(
      bucketOf: Column => Column): Column = {
    import org.apache.spark.sql.types._
    df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType
           | NullType => ()
      case d: DecimalType if d.scale == 0 => ()
      case other => throw new IllegalArgumentException(
        s"$op(hashKey=false): key '$keyCol' has fractional " +
        s"numeric type $other — modulo bucketing would silently " +
        "truncate; use an integral key or hashKey=true")
    }
    val b = bucketOf(col(keyCol).try_cast("long"))
    when(col(keyCol).isNull, lit(0L))
      .when(b.isNull, raise_error(concat(
        lit(s"$op(hashKey=false): key '$keyCol' not numeric: "),
        col(keyCol).cast("string"))).cast("long"))
      .otherwise(b)
  }

  /** `nullWeight` is the keep fraction for rows whose source IS NULL —
    * a `weights` map can't key null, and `col === s` is never true for a
    * null source, so without it null-source rows silently fall to
    * `defaultWeight` ("no silent caps": callers sampling real data
    * should decide null's fate explicitly; [[sampleByTemperature]]
    * tempers the null group like any other source). */
  def sampleByWeights(
      df: DataFrame, keyCol: String, sourceCol: String,
      weights: Map[String, Double], defaultWeight: Double = 0.0,
      granularity: Int = 10000, hashKey: Boolean = true,
      nullWeight: Option[Double] = None): DataFrame = {
    require(granularity > 0, "granularity must be positive")
    val bucket: Column =
      if (hashKey) pmod(xxhash64(col(keyCol)), lit(granularity.toLong))
      else moduloLong(df, keyCol, "sampleByWeights")(
        k => pmod(k, lit(granularity.toLong)))
    val named: Column = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(thresholdFor(defaultWeight, granularity))) { case (acc, (s, w)) =>
        when(col(sourceCol) === s, lit(thresholdFor(w, granularity))).otherwise(acc)
      }
    val threshold = nullWeight match {
      case Some(w) =>
        when(col(sourceCol).isNull, lit(thresholdFor(w, granularity)))
          .otherwise(named)
      case None => named
    }
    df.where(bucket < threshold)
  }

  private def thresholdFor(w: Double, granularity: Int): Long =
    math.round(math.min(math.max(w, 0.0), 1.0) * granularity)

  /** Deterministic epoch shuffle: a seed-keyed global reorder of the
    * corpus, the "shuffle your training data differently every epoch"
    * step done as a SORT, not an RNG — order by h(key, seed) and the
    * permutation is reproducible bit-for-bit on any cluster size, stable
    * under retries, and changes completely with the seed.
    *
    * Scale shape: a total sort = one range-partitioned exchange
    * (sampled range boundaries, then per-partition local sort) — the
    * same cost class as any global orderBy, and the ONLY correct way to
    * get a seeded permutation without a driver-side index. Downstream
    * writers keep the order per output file.
    *
    * `hashExpr` defaults to xxhash64(key, seed) (uniform, production
    * path); the oracle path passes a plain-SQL-replicable mix like
    * `(key * 2654435761 + seed) % 2^32` instead. CAUTION on that
    * affine oracle spelling: changing only the seed shifts every key
    * by the same constant, so two "different" epochs come out
    * rank-identical (measured ρ = 1.000000 by
    * [[shuffleIndependence]]) — fine for replaying ONE epoch in SQL,
    * wrong for generating several; multi-epoch oracle keys must run a
    * nonlinear finalizer (the [[shuffleIndependence]] /
    * [[graft.operators.Profile.bootstrapMeans]] xor-shift chain). The
    * xxhash64 default does not have this problem. Ties (hash
    * collisions) are broken by the key itself so the order is total. */
  def epochOrder(df: DataFrame, keyCol: String, seed: Long,
                 hashExpr: Option[Column] = None): DataFrame = {
    val h = hashExpr.getOrElse(xxhash64(col(keyCol), lit(seed)))
    df.withColumn("__epoch_h", h).orderBy(col("__epoch_h"), col(keyCol))
      .drop("__epoch_h")
  }

  /** Deterministic train/validation/test assignment: one `split` label
    * per row from a hash bucket of the key — the holdout-set step of a
    * training pipeline, with the same stateless-predicate properties as
    * [[sampleByWeights]]: reproducible (function of the row, not of RNG
    * state or partitioning), append-stable (new rows land in splits at
    * the same ratios, existing rows never move), and free (a codegen'd
    * projection — no shuffle, no sort, no sample() seed drift).
    *
    * `splits` are (label, fraction) in the given order; fractions are
    * normalized over their sum, boundaries land on granularity units.
    * `hashKey = false` buckets by `key mod granularity` (dense-id oracle
    * path, plain-SQL-replicable) instead of xxhash64. */
  def assignSplits(df: DataFrame, keyCol: String,
                   splits: Seq[(String, Double)],
                   granularity: Int = 10000, hashKey: Boolean = true,
                   outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(splits.forall(_._2 >= 0) && splits.map(_._2).sum > 0,
      "fractions must be non-negative with a positive sum")
    val total = splits.map(_._2).sum
    val bucket: Column =
      if (hashKey) pmod(xxhash64(col(keyCol)), lit(granularity.toLong))
      else moduloLong(df, keyCol, "assignSplits")( // shared guard above
        k => pmod(k, lit(granularity.toLong)))
    // cumulative upper bounds in declaration order; the last split
    // absorbs rounding remainder so every bucket gets a label
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }
      .tail.map(c => math.round(c / total * granularity))
    // every positive-fraction split must span >= 1 bucket, or coarse
    // granularity silently starves it (e.g. 5% at granularity 10)
    bounds.zip(0L +: bounds.init).zip(splits).foreach {
      case ((hi, lo), (name, w)) =>
        require(w == 0 || hi > lo,
          s"split '$name' (fraction $w) spans zero buckets at granularity " +
          s"$granularity — raise granularity")
    }
    val label = splits.init.zip(bounds.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), b), acc) =>
        when(bucket < b, name).otherwise(acc)
      }
    df.withColumn(outCol, label)
  }

  /** Deterministic per-key document cap — the "at most `cap` pages per
    * domain" step of a web-scale corpus (hostname caps against SEO
    * farms / mirror floods; also usable per source, per license, per
    * shard). Keeps, for every key, the `cap` rows with the smallest
    * (rank, id) where rank = xxhash64(id, seed) — a deterministic
    * pseudo-random choice: reproducible bit-for-bit, retry-stable, and
    * re-runs pick identical rows. (NOT append-stable by design: a later
    * doc with a smaller rank displaces — a cap is a corpus-level
    * property, unlike the row-local [[sampleByWeights]] predicate.)
    *
    * Distributed shape — the payload never rides a window, and in the
    * common case never shuffles at all:
    *  1. a NARROW (key, id, rank) projection (~24 bytes/row; text and
    *     token arrays stay put) finds each key's cap-th smallest
    *     (rank, id) tuple via the salted two-phase row_number of
    *     [[graft.operators.ValidationPass cappedOffenders]] — phase 1
    *     partitions by (key, salt(id)) so a hot domain spreads over
    *     `nSalts` tasks (raise nSalts so maxKeyRows/nSalts fits a
    *     task), phase 2 re-ranks the ≤ nSalts×cap survivors per key;
    *     the global top-cap is contained in the union of per-salt
    *     top-caps, so the result equals the single-window spelling;
    *  2. only keys EXCEEDING the cap yield a threshold row (under-cap
    *     keys have no cap-th element), so the threshold frame is
    *     bounded by the number of over-cap keys — typically tiny, so
    *     AQE broadcasts the payload-side LEFT join and the corpus is
    *     filtered in place with zero payload exchange; a genuinely
    *     huge over-cap key set degrades to a shuffle join that AQE
    *     skew-splits (a window partition never splits).
    *  3. keep a row iff its key has no threshold or (rank, id) ≤
    *     threshold — exactly `cap` survivors per over-cap key since
    *     (rank, id) is a total order (id unique).
    *
    * NULL keys are exempt (kept uncapped): no meaningful domain, and
    * SQL join semantics would silently exempt them anyway — documented
    * rather than accidental. `rankExpr` swaps the ranking hash (the
    * oracle path uses a plain-SQL-replicable multiplicative mix, as
    * [[epochOrder]] does). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int,
                seed: Long = 0L, nSalts: Int = 32,
                rankExpr: Option[Column] = None): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(nSalts > 0, "nSalts must be positive")
    import org.apache.spark.sql.expressions.Window
    val rank: Column = rankExpr.getOrElse(xxhash64(col(idCol), lit(seed)))
    val narrow = df.select(col(keyCol).as("__k"), col(idCol).as("__i"),
      rank.as("__r"))
    val w1 = Window
      .partitionBy(col("__k"), pmod(xxhash64(col("__i")), lit(nSalts.toLong)))
      .orderBy(col("__r"), col("__i"))
    val w2 = Window.partitionBy(col("__k")).orderBy(col("__r"), col("__i"))
    val thresholds = narrow
      .withColumn("__rn", row_number().over(w1)).where(col("__rn") <= cap)
      .withColumn("__rn", row_number().over(w2)).where(col("__rn") === cap)
      .select(col("__k"),
        struct(col("__r").as("r"), col("__i").as("i")).as("__thr"))
    df.withColumn("__cap_r", rank)
      .join(thresholds.withColumnRenamed("__k", keyCol), Seq(keyCol), "left")
      .where(col("__thr").isNull ||
        struct(col("__cap_r").as("r"), col(idCol).as("i")) <= col("__thr"))
      .select(df.columns.map(col): _*) // using-join moved the key first
  }

  /** Observability companion to [[capPerKey]] ("no silent caps"): per
    * over-cap key, how many rows the cap would drop, plus totals —
    * one narrow aggregate, no payload motion. */
  def capPerKeyStats(df: DataFrame, keyCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    // NULL keys mirror capPerKey's exemption: never reported as capped
    df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") > cap)
      .select(col(keyCol), col("n_rows"),
        (col("n_rows") - cap).as("n_dropped"))
  }

  /** Temperature-based source rebalancing — the multilingual-corpus
    * technique (sample language s with p_s ∝ n_s^(1/T); T > 1 upweights
    * the tail, T = 1 keeps the natural mix) applied to any source
    * column. Keep-fractions that realize the tempered mix:
    * f_s ∝ n_s^(1/T) / n_s, scaled so the largest fraction is 1 (the
    * most-upweighted source keeps everything; every other source
    * downsamples deterministically).
    *
    * Pure driver arithmetic over one narrow count aggregate, then the
    * [[sampleByWeights]] stateless predicate does the work — same
    * retry/append stability, same zero-shuffle scan shape. All math is
    * fixed-order IEEE ops on integer counts (pow/sqrt/div), so the SQL
    * oracle reproduces the fractions bit-exactly. */
  def temperatureFractions(counts: Map[String, Long],
                           temperature: Double): Map[String, Double] =
    temperatureFractionsOpt(
      counts.map { case (s, n) => (Some(s): Option[String]) -> n }, temperature)
      .collect { case (Some(s), f) => s -> f }

  /** [[temperatureFractions]] over optional keys so a NULL source group
    * (key `None`) joins the joint max-normalization — the tempered
    * fraction of every group depends on ALL group sizes, so null can't
    * be tempered separately. */
  private def temperatureFractionsOpt(
      counts: Map[Option[String], Long],
      temperature: Double): Map[Option[String], Double] = {
    require(temperature > 0, "temperature must be positive")
    require(counts.values.forall(_ >= 0), "counts must be non-negative")
    val ratios = counts.collect { case (s, n) if n > 0 =>
      s -> math.pow(n.toDouble, 1.0 / temperature) / n.toDouble
    }
    if (ratios.isEmpty) Map.empty
    else {
      val m = ratios.values.max
      ratios.map { case (s, r) => s -> r / m }
    }
  }

  /** Count → temper → filter in one call. `hashKey = false` is the
    * SQL-replicable oracle mode, as everywhere in [[Mixing]].
    *
    * Any source TYPE works (counts read the raw value, the keep
    * predicate compares the column to its literal under Spark's own
    * coercion), and a NULL source forms its own tempered group — it is
    * a population like any other, not a silent drop. */
  def sampleByTemperature(df: DataFrame, keyCol: String, sourceCol: String,
                          temperature: Double, granularity: Int = 10000,
                          hashKey: Boolean = true): DataFrame = {
    val rows = df.groupBy(col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("n")).collect()
    val (nullRows, namedRows) = rows.partition(_.isNullAt(0))
    val counts: Map[Option[String], Long] =
      namedRows.map(r => Option(r.get(0).toString) -> r.getLong(1)).toMap ++
        nullRows.headOption.map(r => (None: Option[String]) -> r.getLong(1))
    val fractions = temperatureFractionsOpt(counts, temperature)
    sampleByWeights(df, keyCol, sourceCol,
      fractions.collect { case (Some(s), f) => s -> f },
      defaultWeight = 0.0, granularity = granularity, hashKey = hashKey,
      nullWeight = fractions.get(None))
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * (IPL 2006), the one-pass reservoir algorithm every weighted
    * corpus-subsampling job uses — made fully deterministic: each row's
    * uniform draw u ∈ (0,1) comes from a seeded hash of its id instead
    * of an RNG, and the k rows with the largest u^(1/w) win
    * (equivalently ln(u)/w, computed in log space so tiny weights
    * can't underflow). Deterministic ⇒ retry-stable, append-stable,
    * cluster-size-independent — the same reasons [[sampleByWeights]]
    * refuses `sample()`.
    *
    * Scale shape: one codegen'd projection computing the key + a
    * TakeOrderedAndProject (each task keeps its local top-k; no global
    * sort, no single-task window) + a semi-join moving only selected
    * payloads. `hashKey = true` draws u from xxhash64 (production);
    * `false` uses the multiplicative hash the SQL oracle replicates.
    * Zero/negative/null weights never win (key → -∞ handled as null
    * filter): a zero-weight row must have probability zero. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long = 0L,
                     hashKey: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    val m = 4294967296L // 2^32 draw granularity
    val bucket: Column =
      if (hashKey) pmod(xxhash64(col(idCol), lit(seed)), lit(m))
      else moduloLong(df, idCol, "weightedSample") { k =>
        // overflow-safe (k * 2654435761 + seed) mod 2^32: the direct
        // product wraps for |k| above ~3.5e9 (and throws under ANSI,
        // the session default), so split the multiplier a = aHi*2^16
        // + aLo — every intermediate stays under 2^50 and the result
        // is congruent mod 2^32 with the exact product, which is what
        // the SQL oracle computes via DuckDB's HUGEINT promotion.
        val aHi = 40503L; val aLo = 31153L // 2654435761 = aHi*65536 + aLo
        val u = pmod(k, lit(m))
        pmod(pmod(u * aHi, lit(m)) * 65536L + u * aLo +
          lit(((seed % m) + m) % m), lit(m))
      }
    // u ∈ (0,1): never exactly 0 (ln(0) = -Inf) or 1 (key ties at 0)
    val u = (bucket.cast("double") + 0.5) / m.toDouble
    val w = col(weightCol).cast("double")
    val key = log(u) / w
    val top = df
      .where(w.isNotNull && w > 0)
      .select(col(idCol), key.as("__es_key"))
      .orderBy(col("__es_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol))
    df.join(top, Seq(idCol), "left_semi")
  }

  /** Quantile-bucketed difficulty assignment — the curriculum-learning
    * step ("train easy→hard", or "mix one part from each difficulty
    * decile"): label every row with its score's quantile bucket
    * 0..nBuckets-1.
    *
    * NOT an `ntile()` window: an unpartitioned ranking window is a
    * SinglePartition total sort — one task folds the corpus. Instead:
    * one aggregate pass computes the nBuckets-1 interior quantile
    * thresholds (exact interpolated `percentile` for the oracle path,
    * `approx_percentile` with bounded sketch memory as the scale path),
    * the driver broadcasts them as literals, and assignment is a
    * stateless codegen'd projection — bucket = #(thresholds < score),
    * strict, so boundary rows land LOW, matching SQL's quantile_cont
    * comparison exactly on integer-valued scores.
    *
    * The trade vs ntile: bucket POPULATIONS are only as equal as the
    * score's tie structure allows (heavily-tied scores bulge a bucket
    * — ntile would split ties arbitrarily instead, which is
    * non-deterministic under retries anyway). */
  def quantileBuckets(df: DataFrame, scoreCol: String, nBuckets: Int,
                      exact: Boolean = false,
                      accuracy: Int = 10000): DataFrame = {
    require(nBuckets > 1, "nBuckets must be > 1")
    val qs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val qsSql = qs.mkString("array(", ", ", ")")
    val aggExpr =
      if (exact) expr(s"percentile($scoreCol, $qsSql)")
      else expr(s"approx_percentile($scoreCol, $qsSql, $accuracy)")
    // empty/all-null input → null threshold array → every row bucket 0
    val aggRow = df.agg(aggExpr).head()
    val thresholds =
      if (aggRow.isNullAt(0)) Seq.empty[Double]
      else aggRow.getSeq[Any](0).map(v => v.toString.toDouble)
    val bucket = thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col(scoreCol) > t, 1).otherwise(0)
    }
    df.withColumn("bucket", bucket)
  }

  /** The realized mix after sampling: per-source counts + fraction of
    * the sampled total (one tiny aggregate for observability — "no
    * silent caps" applies to mixing too: always LOOK at the mix you
    * actually produced). */
  def realizedMix(sampled: DataFrame, sourceCol: String): DataFrame = {
    val counts = sampled.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
    counts.crossJoin(counts.agg(sum(col("n")).cast("double").as("__t")))
      .select(col(sourceCol), col("n"),
        round(col("n") / col("__t"), 6).as("fraction"))
  }

  /** Within-group quantile normalization: percent_rank of `valueCol`
    * inside each `groupCol` — the step that makes a quality score
    * COMPARABLE across sources before a global threshold (every
    * curation pipeline hits this: raw lengths/scores have per-source
    * distributions, so one absolute cutoff over- or under-prunes each
    * source; rank-normalizing first makes "keep the top 30%" mean the
    * same thing everywhere). Ties share a rank (SQL percent_rank), so
    * the output is deterministic without an id tie-break; a
    * single-row group gets 0. Appends `pct_rank` (6dp).
    *
    * Scale shape: one hash-partitioned sort per group — the exchange
    * carries only the projected (id, group, value) rows the caller
    * passes, and groups parallelize across partitions. For skewed
    * groups at extreme scale the sketch path ([[quantileBuckets]] per
    * group) is the approximation; this is the exact tier. */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    df.withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  /** Rank-ensemble quality score: the mean within-group percent_rank
    * over several signal columns, appended as `ensemble_score` (6dp) —
    * the robust way to COMBINE heterogeneous quality signals (length,
    * lexical diversity, model scores) into one curation ranking: raw
    * signals have incomparable scales and tails, but their ranks
    * average cleanly, and a document must rank well on several axes to
    * score high (the FineWeb-style ensemble filter). A NULL signal
    * ranks lowest within its group (SQL NULLS FIRST) rather than
    * poisoning the mean — missing evidence is worst evidence, the
    * null-scores-pinned-worst convention from token-budget selection.
    *
    * Scale shape: one hash exchange on the group key reused by every
    * signal's window (same partitioning, per-signal sorts only); groups
    * parallelize across partitions — never a SinglePartition window.
    * Exact tier like [[quantileNormalize]]; sketch-bucket per signal is
    * the approximation at extreme group skew. */
  def rankEnsemble(df: DataFrame, groupCol: String,
                   signalCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(signalCols.nonEmpty, "rankEnsemble needs at least one signal")
    val ranks = signalCols.map { s =>
      val w = Window.partitionBy(col(groupCol))
        .orderBy(col(s).asc_nulls_first)
      percent_rank().over(w)
    }
    df.withColumn("ensemble_score",
      round(ranks.reduce(_ + _) / lit(signalCols.length), 6))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of several CANDIDATE
    * lists: score(d) = Σ_lists 1/(k + rank_d), the de-facto standard
    * for merging heterogeneous retrieval signals (BM25 beside ANN
    * beside recency) because ranks fuse where raw scores don't share a
    * scale — the retrieval-side complement of [[rankEnsemble]] (which
    * averages percent-ranks over the WHOLE corpus; RRF fuses the HEADS
    * of rankings, where 1/(k+r) mass lives).
    *
    * Contract: each input list is pruned to its top-`topN` first —
    * that is the operator's scale story (RRF is a candidate-fusion
    * step; beyond the head the contribution is ≤ 1/(k+topN) ≈ noise).
    * The prune is a TakeOrderedAndProject (per-partition top-N, no
    * global sort); only the ≤ topN survivors meet the rank window, under
    * the [[OrderedFrame.TopK]] budget. Ties break on the id (total order, both
    * engines agree). NULL scores are dropped from that list (absence
    * from a candidate list is the semantics, not worst-rank). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
              topN: Int = 100, k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(topN > 0, "topN must be positive")
    require(k >= 0, "k must be non-negative")
    val ranked = rankings.map { r =>
      OrderedFrame.bounded(r.select(col(idCol), col(scoreCol).cast("double").as("__sc"))
          .where(col("__sc").isNotNull).orderBy(col("__sc").desc, col(idCol)).limit(topN), topN,
        OrderedFrame.TopK, "Mixing.rrfFuse")(col("__sc").desc, col(idCol))
        .numbered("__r").select(col(idCol), col("__r"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lists"),
        round(sum(lit(1.0) / (col("__r") + lit(k))), 6).as("rrf_score"))
      .orderBy(desc("rrf_score"), col(idCol))
  }

  /** Token-budget epoch table: given a total training budget and a
    * target mixture weight per source, how many EPOCHS of each source
    * the budget implies (the LLaMA-style data-mix accounting — epochs
    * well above ~4 flag a source the mixture will memorize, epochs
    * near 0 flag wasted corpus). One map-side-combined count aggregate
    * over the corpus joined (full-outer, broadcast) against the
    * metadata-sized weight table, so misconfiguration is loud in BOTH
    * directions: a weighted source absent from the corpus appears with
    * zero tokens and NULL epochs; an unweighted corpus source appears
    * with weight 0.
    *
    * `weights` must already be normalized (sum within 1e-6 of 1): the
    * weights enter the plan as LITERALS on both engines, so no
    * renormalization arithmetic exists to drift between them. Targets
    * are `floor(budget · w)`; epochs are a 6dp-rounded ratio of two
    * exact integers. */
  def epochBudget(df: DataFrame, sourceCol: String, costCol: String,
                  budgetTokens: Long,
                  weights: Seq[(String, Double)]): DataFrame = {
    require(budgetTokens > 0, "epochBudget: budget must be positive")
    require(weights.nonEmpty && weights.forall(_._2 >= 0),
      "epochBudget: weights must be non-negative")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-6,
      "epochBudget: weights must be normalized (sum to 1)")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = broadcast(weights.toDF(sourceCol, "__w"))
    val avail = df.groupBy(col(sourceCol))
      .agg(sum(col(costCol).cast("long")).as("available_tokens"))
    avail.join(wdf, Seq(sourceCol), "full_outer")
      .select(
        col(sourceCol),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"),
        round(coalesce(col("__w"), lit(0.0)), 6).as("weight"),
        floor(lit(budgetTokens) * coalesce(col("__w"), lit(0.0)))
          .cast("long").as("target_tokens"),
        when(coalesce(col("available_tokens"), lit(0L)) > 0,
          round(floor(lit(budgetTokens) * coalesce(col("__w"), lit(0.0)))
              .cast("double") /
            col("available_tokens").cast("double"), 6))
          .as("epochs"))
  }

  /** One DoReMi-style multiplicative-weights update of the domain
    * mixture (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures"):
    * each domain's weight moves up by how much its proxy-model loss
    * EXCEEDS its reference-model loss — domains the proxy finds
    * unexpectedly hard (= learnable, not yet learned) get more mixture
    * mass; domains at or below reference loss get none of the boost.
    *
    *   w'_i ∝ base_i · exp(η · max(loss_i − ref_loss_i, 0)),
    *   normalized to sum 1 over the domains present.
    *
    * `lossBySource` is the metadata-sized per-domain frame the training
    * loop produces: (sourceCol, baseCol, lossCol, refLossCol), one row
    * per domain — base is the current/prior mixture weight (need not be
    * normalized; the update renormalizes). A NULL loss or ref-loss
    * contributes zero excess (no evidence ⇒ no boost, never a silent
    * drop: the domain keeps its base-proportional share). A NULL source
    * is a domain like any other.
    *
    * Scale shape: the frame is O(domains) — the normalizer is a 1-row
    * aggregate cross-joined in-plan (the realizedMix/HITS broadcast
    * shape), so the update composes into a larger plan without a
    * driver collect. Fixed-order IEEE arithmetic (sub → max → exp →
    * mul → div → round) so a SQL oracle replays it bit-comparably at
    * 6dp. Output: (sourceCol, excess 6dp, weight 6dp). */
  def domainReweight(lossBySource: DataFrame, sourceCol: String,
                     baseCol: String, lossCol: String, refLossCol: String,
                     eta: Double): DataFrame = {
    require(eta >= 0, "domainReweight: eta must be non-negative")
    val excess = greatest(
      coalesce(col(lossCol).cast("double") - col(refLossCol).cast("double"),
        lit(0.0)),
      lit(0.0))
    val raw = col(baseCol).cast("double") * exp(lit(eta) * excess)
    val scored = lossBySource.select(
      col(sourceCol), excess.as("__excess"), raw.as("__raw"))
    scored
      .crossJoin(scored.agg(sum(col("__raw")).as("__z")))
      .select(col(sourceCol),
        round(col("__excess"), 6).as("excess"),
        round(col("__raw") / col("__z"), 6).as("weight"))
  }

  /** Exact-count stratified sampling: keep EXACTLY ⌈fraction · n_s⌉
    * rows from every stratum — the eval-set/ablation-set builder
    * ("exactly 1k docs per language", proportional but guaranteed
    * per-stratum counts). [[sampleByWeights]]'s stateless predicate
    * realizes a fraction only in expectation per stratum; this
    * guarantees the count. Selection is deterministic (smallest seeded
    * hash keys, id tie-break) — retry/append-stable like every sampler
    * in this file.
    *
    * Scale shape — two-phase so the per-stratum ranking never sorts
    * the corpus: phase 1 keeps only rows whose hash key falls under an
    * over-sampled threshold (2·fraction of the key space), bounding
    * the ranked pool at ~2f·n; a stratum whose survivor count falls
    * short of its target (possible only for tiny strata — for large n
    * the shortfall probability is exponentially small) is detected by
    * a bounded count and re-ranked over its FULL rows, so the result
    * is EXACTLY the naive ranking's (any excluded row has key above
    * ≥ target survivors and can never rank inside the target; the
    * differential test pins equality, fallback included). The rank
    * window partitions by stratum over narrow (id, stratum, key) rows;
    * payload arrives by semi-join afterwards; never a SinglePartition
    * sort. NULL strata sample like any other stratum. `idCol` must be
    * unique (the payload returns via an id-keyed semi-join — the
    * contract of every sampler in this file). `hashKey = false` is
    * the SQL-replicable oracle mode, as everywhere in [[Mixing]]. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fraction: Double, seed: Long = 0L,
                       hashKey: Boolean = true): DataFrame = {
    val m = 4294967296L
    val thr = math.min(m.toDouble, math.ceil(m.toDouble * fraction * 2))
      .toLong
    val narrow = stratKeyed(df, idCol, strataCol, fraction, seed, hashKey)
    val targets = narrow.groupBy(col("__s"))
      .agg(ceil(count(lit(1)) * fraction).cast("long").as("__tgt"),
        sum(when(col("__key") < thr, 1L).otherwise(0L)).as("__nsurv"))
      .select(col("__s").as("__s2"), col("__tgt"),
        (col("__nsurv") >= col("__tgt")).as("__ok"))
    val picked = rankPick(
      narrow.join(broadcast(targets), col("__s") <=> col("__s2"))
        .where(!col("__ok") || col("__key") < thr))
    df.join(picked.withColumnRenamed("__i", idCol), Seq(idCol), "left_semi")
  }

  /** The one-phase spelling [[stratifiedSample]] optimizes (full
    * per-stratum sort) — kept for the differential test that pins the
    * two-phase result identical, fallback strata included. */
  private[graft] def stratifiedSampleNaive(df: DataFrame, idCol: String,
      strataCol: String, fraction: Double, seed: Long = 0L,
      hashKey: Boolean = true): DataFrame = {
    val narrow = stratKeyed(df, idCol, strataCol, fraction, seed, hashKey)
    val targets = narrow.groupBy(col("__s"))
      .agg(ceil(count(lit(1)) * fraction).cast("long").as("__tgt"))
      .select(col("__s").as("__s2"), col("__tgt"))
    val picked = rankPick(
      narrow.join(broadcast(targets), col("__s") <=> col("__s2")))
    df.join(picked.withColumnRenamed("__i", idCol), Seq(idCol), "left_semi")
  }

  private def stratKeyed(df: DataFrame, idCol: String, strataCol: String,
      fraction: Double, seed: Long, hashKey: Boolean): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      "stratifiedSample: fraction in (0, 1]")
    val m = 4294967296L
    val key: Column =
      if (hashKey) pmod(xxhash64(col(idCol), lit(seed)), lit(m))
      else moduloLong(df, idCol, "stratifiedSample") { k =>
        val aHi = 40503L; val aLo = 31153L
        val u = pmod(k, lit(m))
        pmod(pmod(u * aHi, lit(m)) * 65536L + u * aLo +
          lit(((seed % m) + m) % m), lit(m))
      }
    df.select(col(idCol).as("__i"), col(strataCol).as("__s"),
      key.as("__key"))
  }

  /** Rank the pool by (key, id) within each stratum and keep the first
    * `__tgt` rows. Input: (__i, __s, __key, __tgt, …). */
  private def rankPick(pool: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__s"))
      .orderBy(col("__key").asc, col("__i").asc)
    pool.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__tgt"))
      .select(col("__i"))
  }

  /** Integer water-filling: allocate a total `budget` of rows across
    * groups, each capped at its own size — small groups keep everything,
    * large groups are levelled down to a common water line λ, the
    * largest integer with Σ min(nᵢ, λ) ≤ budget. The allocation rule
    * behind "cap every domain at its fair share of the token budget"
    * mixture designs — the hard-cap complement to the SOFT rebalancing
    * of [[temperatureFractions]] (which reweights proportionally and
    * never saturates) and to DoReMi-style learned weights.
    *
    * Fully deterministic, including the sub-λ remainder: after
    * levelling, `budget − Σ min(nᵢ, λ)` leftover units (< number of
    * unsaturated groups, by maximality of λ) go one each to the first
    * leftover-many unsaturated groups in (size, name) order — the same
    * total order that drives the level search, so the whole allocation
    * is a pure function of the count map. Pure driver arithmetic on
    * O(groups) state; no Spark job here (callers feed it one count
    * aggregate, the [[temperatureFractions]] pattern).
    */
  def waterfill(counts: Map[String, Long], budget: Long): Map[String, Long] = {
    require(budget >= 0, "budget must be non-negative")
    require(counts.values.forall(_ >= 0), "counts must be non-negative")
    val sorted = counts.toSeq.sortBy { case (s, n) => (n, s) }
    val k = sorted.length
    if (k == 0) return Map.empty
    if (sorted.map(_._2).sum <= budget) return counts // budget covers all
    // walk groups ascending: group j binds iff the equal split of what
    // remains over groups j..k is smaller than n_j
    var remaining = budget
    var level = -1L
    var j = 0
    while (j < k && level < 0) {
      val share = remaining / (k - j) // floor
      if (share < sorted(j)._2) level = share
      else { remaining -= sorted(j)._2; j += 1 }
    }
    val base = sorted.map { case (s, n) => s -> math.min(n, level) }
    var leftover = budget - base.map(_._2).sum
    base.map { case (s, a) =>
      val bump = if (leftover > 0 && counts(s) > a) { leftover -= 1; 1L }
                 else 0L
      s -> (a + bump)
    }.toMap
  }

  /** Deterministic weighted interleave (stride scheduling, the
    * lottery-scheduler classic): the k-th row of source s gets virtual
    * time k / wₛ, and consuming rows in virtual-time order yields the
    * smoothest possible w-proportional interleave — "a code row every
    * 4th position", not code-in-a-clump — which is the ORDER a
    * curriculum/mixture dataloader actually wants, where
    * [[sampleByWeights]] only decides MEMBERSHIP. Pure projection + one
    * per-source row_number window (hash exchange on the source key, no
    * global sort — consumers TakeOrdered the head or range-partition by
    * vt). A pure function of (id order, weights): append-stable,
    * retry-stable, SQL-replicable. Sources absent from `weights` are
    * excluded (weight 0 = not in the mix). Ties in vt (exact double
    * equality, e.g. 2/0.5 = 4/1.0) are broken by (source, id) — also
    * deterministic. */
  def interleavePositions(df: DataFrame, idCol: String, srcCol: String,
                          weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "at least one source weight")
    require(weights.values.forall(_ > 0), "weights must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
    df.where(col(srcCol).isin(weights.keys.toSeq: _*))
      .withColumn("__k", row_number().over(w))
      .withColumn("vt",
        col("__k").cast("double") /
          element_at(typedlit(weights), col(srcCol)))
  }

  /** Raking (iterative proportional fitting): reweight a two-axis
    * contingency table so BOTH marginals hit their targets at once —
    * the survey-statistics workhorse, and the mixture-design step for
    * "balance the corpus to these language shares AND these source
    * shares simultaneously" (per-axis reweighting alone breaks the
    * other axis; IPF alternates row and column scalings and converges
    * geometrically when every target is reachable).
    *
    * Operates on PROPORTIONS (cells normalized by the grand total;
    * targets should each sum to 1). A fixed `iters` count, not a
    * convergence test, keeps the output a pure function of the input
    * — replayable in SQL as chained CTEs. Cells absent from the input
    * stay absent (structural zeros, standard IPF); a row/column whose
    * current sum is 0 keeps its weights (cannot be scaled to a
    * positive target — surfaced by the final marginals, not hidden).
    * Driver arithmetic on O(cells) state; labels are bounded by
    * contract (the [[temperatureFractions]] pattern). */
  def rake(cells: Map[(String, String), Long],
           rowTargets: Map[String, Double],
           colTargets: Map[String, Double],
           iters: Int = 3): Map[(String, String), Double] = {
    require(iters >= 1, "iters must be >= 1")
    require(cells.values.forall(_ >= 0), "cell counts must be non-negative")
    val total = cells.values.sum.toDouble
    if (total == 0) return cells.map { case (k, _) => k -> 0.0 }
    // sorted key order everywhere: marginal sums over doubles must add
    // in a fixed order for bit-stable output
    val keys = cells.keys.toSeq.sorted
    var w = keys.map(k => k -> cells(k).toDouble / total).toMap
    (1 to iters).foreach { _ =>
      val rowSums = keys.groupBy(_._1).map { case (r, ks) =>
        r -> ks.sortBy(_._2).map(w).sum
      }
      w = w.map { case (k @ (r, _), v) =>
        val s = rowSums(r)
        k -> (if (s > 0) v * (rowTargets.getOrElse(r, 0.0) / s) else v)
      }
      val colSums = keys.groupBy(_._2).map { case (c, ks) =>
        c -> ks.sortBy(_._1).map(w).sum
      }
      w = w.map { case (k @ (_, c), v) =>
        val s = colSums(c)
        k -> (if (s > 0) v * (colTargets.getOrElse(c, 0.0) / s) else v)
      }
    }
    w
  }

  /** [[rake]] as a frame operator with uniform targets over the
    * OBSERVED labels of each axis: one map-side-combined count
    * aggregate (the [[Categorical.table]] cells), driver IPF on the
    * O(cells) table, and a small result frame (row label, col label,
    * n_rows, weight). The weight column is the raked cell PROPORTION;
    * weight/(n/N) is the per-row resampling factor. NULL labels rake
    * under their own category — no volume silently vanishes. */
  def rakeWeights(df: DataFrame, rowCol: String, colCol: String,
                  iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val rows = Categorical.table(df, rowCol, colCol).cells.collect()
    val cells = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val rowLabels = cells.keys.map(_._1).toSeq.distinct
    val colLabels = cells.keys.map(_._2).toSeq.distinct
    val raked = rake(cells,
      rowLabels.map(_ -> 1.0 / rowLabels.size).toMap,
      colLabels.map(_ -> 1.0 / colLabels.size).toMap, iters)
    import spark.implicits._
    cells.keys.toSeq.sorted
      .map { case k @ (r, c) =>
        (r, c, cells(k),
          round6(raked(k)))
      }
      .toDF(rowCol, colCol, "n_rows", "weight")
  }

  /** [[waterfill]] as a frame operator: one map-side-combined count
    * aggregate, driver arithmetic on O(groups) rows, and a small
    * result frame (group, n_rows, alloc) — never a per-row pass. NULL
    * group keys are counted under their own bucket (rendered as a NULL
    * `grp` row) so no volume silently vanishes from the audit. */
  def waterfillAllocation(df: DataFrame, groupCol: String,
                          budget: Long): DataFrame = {
    val spark = df.sparkSession
    val rows = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("n")).collect()
    val nullTag = "\u0000null" // sorts before any printable group name
    val counts = rows.map { r =>
      (if (r.isNullAt(0)) nullTag else r.getString(0)) -> r.getLong(1)
    }.toMap
    val alloc = waterfill(counts, budget)
    import spark.implicits._
    counts.toSeq.sortBy(_._1)
      .map { case (g, n) =>
        (if (g == nullTag) null else g, n, alloc(g))
      }
      .toDF("grp", "n_rows", "alloc")
  }

  /** Neyman-optimal sample allocation — how to SPLIT a labeling /
    * audit / eval budget across strata so the resulting estimate has
    * minimum variance: n_h ∝ N_h·σ_h (big AND internally-varied strata
    * earn samples; a huge but homogeneous stratum needs few). The
    * design step before [[graft.operators.Mixing.sampleByWeights]] /
    * stratifiedSample executes the draw: proportional allocation
    * over-samples uniform strata, and at a 10⁹-row audit budget the
    * variance difference is the audit's power.
    *
    * Mechanics: per-stratum (n, Σx, Σx²) from ONE map-side-combined
    * aggregate with decimal(38,0) exactness; population σ_h =
    * √(n·Σx² − (Σx)²)/n through a fixed IEEE order; integer
    * allocations by largest-remainder (ties broken on stratum name) so
    * they sum exactly to `budget`; each allocation then capped at the
    * stratum size N_h with the cap SURFACED (`capped` — Σalloc may
    * fall below budget after capping; redistribute by re-running on
    * the uncapped strata if needed, documented rather than silently
    * iterated). Weight-degenerate inputs (all σ = 0) allocate zero
    * everywhere, loudly. NULL strata form '<null>'; NULL values are
    * excluded from the moments. Driver arithmetic is O(strata) —
    * metadata-sized. Returns (stratum, n_rows, sigma, weight, alloc,
    * capped) ordered by stratum. */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val spark = df.sparkSession
    val x = col(valueCol).cast("decimal(38,0)")
    val rows = df.where(col(valueCol).isNotNull)
      .groupBy(Categorical.key(col(stratumCol)).as("stratum"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .collect()
      .map { r =>
        val n = r.getLong(1)
        val sx = BigDecimal(r.getDecimal(2))
        val sxx = BigDecimal(r.getDecimal(3))
        val num = (BigDecimal(n) * sxx - sx * sx).toDouble
        val sigma =
          if (n > 0 && num > 0) math.sqrt(num) / n.toDouble else 0.0
        (r.getString(0), n, sigma, n.toDouble * sigma)
      }
      .sortBy(_._1)
    // Σw in sorted-stratum order — deterministic, SQL-replayable
    val totalW = rows.foldLeft(0.0)(_ + _._4)
    val raw = rows.map { case (st, n, sg, w) =>
      val r = if (totalW > 0) budget.toDouble * w / totalW else 0.0
      (st, n, sg, w, r, math.floor(r).toLong)
    }
    val leftover =
      if (totalW > 0) budget - raw.map(_._6).sum else 0L
    val bonus = raw.map(t => (t._1, t._5 - t._6))
      .sortBy { case (st, rem) => (-rem, st) }
      .take(leftover.toInt).map(_._1).toSet
    import spark.implicits._
    raw.map { case (st, n, sg, w, _, base) =>
        val want = base + (if (bonus.contains(st)) 1L else 0L)
        val alloc = math.min(want, n)
        (st, n,
          round6(sg),
          round6(w),
          alloc, want > n)
      }.toSeq
      .toDF("stratum", "n_rows", "sigma", "weight", "alloc", "capped")
      .orderBy(col("stratum"))
  }

  /** Leakage-safe train/val/test assignment: the split of every
    * document is a deterministic hash of its CONTENT GROUP key, not of
    * its row id — so exact duplicates (same text ⇒ same md5 ⇒ same
    * bucket) can NEVER span splits. Hashing the row id instead is the
    * classic leak [[Dedup.splitLeakage]] exists to catch: two copies of
    * one page land in train and test and the eval number is fiction.
    * This is the CONSTRUCTIVE half — assign so the audit passes by
    * arithmetic, don't audit after the damage.
    *
    * `fractions` are cumulative percent fences over a 100-bucket hash
    * (e.g. `("train",80),("val",90),("test",100)`): bucket = (first 15
    * hex chars of md5(content) as a 60-bit int) % 100, the repo's
    * SQL-replicable content-hash spelling (DuckDB:
    * `CAST('0x' || substr(md5(text),1,15) AS BIGINT)`). NULL content
    * groups under the literal '<null>' key — one split, never dropped.
    *
    * Scale shape: ONE codegen'd projection (md5 + conv + CASE), zero
    * shuffle, zero driver state — the same stateless-predicate
    * guarantees as [[sampleByWeights]] (retry-stable, append-stable:
    * tomorrow's recrawl of the same page lands in the same split). */
  def groupAwareSplit(df: DataFrame, contentCol: String,
                      fractions: Seq[(String, Int)] =
                        Seq(("train", 80), ("val", 90), ("test", 100)))
      : DataFrame = {
    require(fractions.nonEmpty && fractions.last._2 == 100 &&
        fractions.map(_._2) == fractions.map(_._2).sorted &&
        fractions.forall(f => f._2 > 0 && f._2 <= 100),
      "fractions must be ascending cumulative percents ending at 100")
    val key = md5(Categorical.key(col(contentCol)))
    val bucket = conv(substring(key, 1, 15), 16, 10).cast("long") % 100
    val split = fractions.init.foldRight(
        lit(fractions.last._1): Column) { case ((name, hi), rest) =>
      when(bucket < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** Temporal train/test split with an EMBARGO gap: train strictly
    * before `cutoff − embargo`, test at/after `cutoff`, and the rows in
    * between assigned to 'embargo' — excluded from both sides so that
    * near-boundary leakage (a test-period page crawled seconds earlier,
    * sessions straddling the fence, label lookahead) cannot ride the
    * boundary. Dropping the gap rows SILENTLY would violate the repo's
    * no-silent-caps rule — they are returned labeled instead, and the
    * caller filters. One stateless projection; `cutoff` is an ISO
    * timestamp literal, `embargoSecs ≥ 0`. */
  def temporalSplit(df: DataFrame, tsCol: String, cutoff: String,
                    embargoSecs: Long): DataFrame = {
    require(embargoSecs >= 0, "embargoSecs must be non-negative")
    val ts = col(tsCol)
    val hi = to_timestamp(lit(cutoff))
    val lo = hi - expr(s"INTERVAL $embargoSecs SECONDS")
    df.withColumn("split",
      when(ts.isNull, lit(null).cast("string"))
        .when(ts < lo, lit("train"))
        .when(ts >= hi, lit("test"))
        .otherwise(lit("embargo")))
  }

  /** Stratified k-fold assignment with GUARANTEED balance: within each
    * stratum, rows rank by a deterministic pseudo-random key and fold
    * = (rank − 1) mod k — so every (stratum, fold) cell holds
    * ⌊n_s/k⌋ or ⌈n_s/k⌉ rows BY CONSTRUCTION, where hash-mod
    * assignment (`fold = hash % k`) only balances in expectation and
    * at small strata reliably delivers the 60/40 folds that make
    * cross-validation variance estimates lie. Deterministic: same
    * input → same folds on any cluster size, retry, or row order
    * (rank ties broken by id).
    *
    * Scale shape: one narrow (id, stratum) projection shuffled by
    * stratum for the rank window — per-stratum window state is one
    * counter; a mega-stratum is bounded by its own row count, the
    * [[quantileBuckets]]-class hazard note applies. The
    * overflow-safe multiplicative key keeps the SQL oracle exact (the
    * [[weightedSample]] spelling). Returns (idCol, strataCol, fold). */
  def stratifiedFolds(df: DataFrame, idCol: String, strataCol: String,
                      k: Int, seed: Long = 7L): DataFrame = {
    require(k >= 2, "k must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val m = 4294967296L
    val key = moduloLong(df, idCol, "stratifiedFolds") { c =>
      val aHi = 40503L; val aLo = 31153L
      val u = pmod(c, lit(m))
      pmod(pmod(u * aHi, lit(m)) * 65536L + u * aLo +
        lit(((seed % m) + m) % m), lit(m))
    }
    val w = Window.partitionBy(col(strataCol)).orderBy(key, col(idCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }

  /** The balance audit for [[stratifiedFolds]]: (stratum, fold,
    * n_rows) — every cell within 1 of n_s/k or the assignment is
    * broken. O(strata × k) rows. */
  def foldBalance(folds: DataFrame, strataCol: String): DataFrame =
    folds.groupBy(col(strataCol), col("fold"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col(strataCol), col("fold"))

  /** In-batch negative collision audit for contrastive training: with
    * batches assigned by a deterministic hash, how many same-group
    * (same-source / same-near-dup-cluster) pairs land in the SAME
    * batch — exactly the pairs that poison in-batch negative sampling
    * (the "negative" is secretly a positive) and silently cap
    * contrastive accuracy. Reports Σ per-(batch, group) C(n,2)
    * against Σ per-batch C(N,2): the realized same-group collision
    * rate of the batching actually used, not the i.i.d. approximation
    * n/B·p². Two narrow aggregates keyed by (batch[, group]) —
    * map-side combined, payloads never move; the overflow-safe
    * multiplicative key keeps the SQL replica exact. Returns one row
    * (n_docs, n_batches_used, same_group_pairs, total_pairs,
    * collision_rate). */
  def inBatchCollisions(df: DataFrame, idCol: String, groupCol: String,
                        nBatches: Int, seed: Long = 11L): DataFrame = {
    require(nBatches >= 1, "nBatches must be >= 1")
    val m = 4294967296L
    val batch = pmod(moduloLong(df, idCol, "inBatchCollisions") { c =>
      val aHi = 40503L; val aLo = 31153L
      val u = pmod(c, lit(m))
      pmod(pmod(u * aHi, lit(m)) * 65536L + u * aLo +
        lit(((seed % m) + m) % m), lit(m))
    }, lit(nBatches.toLong))
    val base = df.select(batch.as("__b"),
      Categorical.key(col(groupCol)).as("__g"))
    val perBG = base.groupBy(col("__b"), col("__g"))
      .agg(count(lit(1)).as("__n"))
    val stats = perBG.agg(
      sum(col("__n")).as("n_docs"),
      count_distinct(col("__b")).as("n_batches_used"),
      sum((col("__n") * (col("__n") - 1) / 2).cast("long"))
        .as("same_group_pairs"))
    val perB = perBG.groupBy(col("__b")).agg(sum(col("__n")).as("__nb"))
      .agg(sum((col("__nb") * (col("__nb") - 1) / 2).cast("long"))
        .as("total_pairs"))
    stats.crossJoin(broadcast(perB))
      .select(coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("n_batches_used"),
        coalesce(col("same_group_pairs"), lit(0L)).as("same_group_pairs"),
        coalesce(col("total_pairs"), lit(0L)).as("total_pairs"),
        when(col("total_pairs") > 0,
          round(col("same_group_pairs").cast("double")
            / col("total_pairs"), 6)).as("collision_rate"))
  }

  /** Epoch-shuffle independence audit: Spearman rank correlation
    * between two seeds' [[epochOrder]] permutations — the shuffle-
    * QUALITY number ("are my epochs actually independent reorderings,
    * or does seed 2 mostly replay seed 1's order, silently correlating
    * gradient noise across epochs"). THE TRAP THIS EXISTS TO CATCH:
    * any AFFINE key (id·A + seed) only shifts every key by the same
    * constant when the seed changes, so "reshuffled" epochs come out
    * rank-identical (ρ = 1.000000, measured) — the keys here run
    * through the [[graft.operators.Profile.bootstrapMeans]] xor-shift
    * finalizer, whose nonlinearity decorrelates seeds, and whose
    * 32-bit rounds are bijective, so ranks stay tie-free for ids
    * below 2²⁰ (the id·4096 packing bound — document larger id spaces
    * onto xxhash64 production keys) and
    * ρ = 1 − 6·Σd²/(n(n²−1)) is EXACT integer arithmetic (no fp, no
    * interpolation — the oracle matches bit-for-bit); a healthy pair
    * sits near 0 at n^(−1/2) scale. Cost class: two rank assignments
    * = two range-partitioned sorts of narrow (id, key) rows — the
    * [[epochOrder]] exchange, run as an offline audit once per epoch
    * pair ([[epochRanks]]). Returns one row (n, sum_d2, rho). */
  def shuffleIndependence(df: DataFrame, idCol: String,
                          seed1: Long, seed2: Long): DataFrame = {
    val d = (col("__r1") - col("__r2")).cast("long")
    val st = epochRanks(df, idCol, seed1, seed2)(
      _.agg(count(lit(1)).as("n"), sum(d * d).as("sum_d2")).head())
    val n = st.getLong(0); val d2 = st.getLong(1)
    val spark = df.sparkSession
    import spark.implicits._
    val rho =
      if (n < 2) None
      else Option(round6(1.0 - 6.0 * d2.toDouble / (n.toDouble *
        (n.toDouble * n.toDouble - 1.0))))
    Seq((n, d2, rho)).toDF("n", "sum_d2", "rho")
  }

  /** The [[shuffleIndependence]] sort key of an id under `seed`. */
  private[graft] def epochKey(df: DataFrame, idCol: String, seed: Long): Column =
    moduloLong(df, idCol, "shuffleIndependence") { c =>
      val m = 4294967296L
      val k0 = pmod(pmod(c, lit(2147483648L)) * 4096L +
        lit(java.lang.Math.floorMod(seed, m)) * 81L, lit(m))
      def xs(h: Column, s: Int): Column = h.bitwiseXOR(shiftright(h, s))
      val h1 = pmod(xs(k0, 16) * lit(569557677L), lit(m))
      val h2 = pmod(xs(h1, 15) * lit(1935933847L), lit(m))
      xs(h2, 15)
    }

  /** (idCol, __r1, __r2): each row's rank under the [[shuffleIndependence]]
    * keys of `seed1` and `seed2`, handed to `use`. A rank is the offset + 1
    * of [[Packing.globalOffsets]] at a cost of 1 per row; the second
    * ranking's id is (id, __r1), unique even where ids repeat. */
  private[graft] def epochRanks[T](df: DataFrame, idCol: String, seed1: Long,
                                   seed2: Long)(use: DataFrame => T): T = {
    val first = Packing.globalOffsets(df.select(col(idCol), lit(1L).as("__one")),
      idCol, "__one", Seq(epochKey(df, idCol, seed1), col(idCol)))
    val second = Packing.globalOffsets(
      first.select(col(idCol), col("__one"),
        struct(col(idCol), (col("offset") + 1).as("__r1")).as("__row")),
      "__row", "__one", Seq(epochKey(df, idCol, seed2), col(idCol), col("__row.__r1")))
    try use(second.select(col("__row.*"), (col("offset") + 1).as("__r2")))
    finally { Packing.releaseOffsets(second); Packing.releaseOffsets(first) }
  }

  /** Distribution-matching plan: per-bin keep fractions that reshape a
    * TARGET group's value distribution into the REFERENCE group's (the
    * "length-match web to books before comparing quality" step —
    * comparing unmatched groups confounds every downstream metric with
    * the length mix). Equi-width bins over [lo, hi); with reference
    * shares a_i and target shares b_i, the largest exactly-matched
    * subsample keeps fraction k_i = (a_i/b_i)·s* in bin i, where
    * s* = min over supplied bins of b_i/a_i (the bottleneck bin keeps
    * everything). Bins the reference needs but the target cannot
    * supply (a_i > 0, b_i = 0) make exact matching impossible — they
    * are SURFACED per row (`unmatchable`), never silently zeroed.
    * Pure integer-ratio arithmetic on two O(bins) count frames; apply
    * with [[sampleByWeights]]-style bucketing downstream. Returns
    * (bin, ref_share, target_share, keep_fraction, expected_kept,
    * unmatchable). */
  def distributionMatchPlan(df: DataFrame, groupCol: String,
                            valueCol: String, refGroup: String,
                            targetGroup: String, lo: Double, hi: Double,
                            bins: Int): DataFrame = {
    require(bins >= 1 && hi > lo, "need hi > lo and bins >= 1")
    val v = col(valueCol).cast("double")
    val bin = when(v < lo, lit(0L)).when(v >= hi, lit(bins - 1L))
      .otherwise(least(floor((v - lo) / ((hi - lo) / bins)),
        lit(bins - 1L)))
    val counts = df
      .where(col(groupCol).isin(refGroup, targetGroup) && v.isNotNull)
      .groupBy(bin.as("bin"), col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val rows = counts.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val nA = rows.collect { case ((_, g), n) if g == refGroup => n }.sum
    val nB = rows.collect { case ((_, g), n) if g == targetGroup => n }.sum
    require(nA > 0 && nB > 0, "both groups need rows in [lo, hi)")
    val allBins = (0L until bins.toLong)
      .filter(b => rows.contains((b, refGroup)) ||
        rows.contains((b, targetGroup)))
    def share(b: Long, g: String, tot: Long): Double =
      rows.getOrElse((b, g), 0L).toDouble / tot
    val sStar = allBins.flatMap { b =>
      val a = share(b, refGroup, nA); val bb = share(b, targetGroup, nB)
      if (a > 0.0 && bb > 0.0) Some(bb / a) else None
    }.minOption.getOrElse(0.0)
    allBins.sorted.map { b =>
      val a = share(b, refGroup, nA); val bb = share(b, targetGroup, nB)
      val unmatchable = a > 0.0 && bb == 0.0
      val keep = if (bb == 0.0) 0.0 else math.min(1.0, a / bb * sStar)
      (b, round6(a), round6(bb), round6(keep),
        math.round(keep * rows.getOrElse((b, targetGroup), 0L)),
        unmatchable)
    }.toDF("bin", "ref_share", "target_share", "keep_fraction",
      "expected_kept", "unmatchable")
  }

  /** UCB1 exploration scores for adaptive source allocation (Auer et
    * al. 2002): ucb = mean reward + √(2·ln N / n) per arm — the
    * principled answer to "which under-sampled source should the next
    * curation budget probe", where pure exploitation (rank by mean
    * quality) starves every arm it has barely measured: the bonus
    * term decays as an arm accumulates observations, so a
    * 10-document source with mediocre mean still outranks a
    * million-document source with a slightly better one until it has
    * been SEEN. One sufficient-stats aggregate (n, Σreward per
    * group), N = Σn from the same frame, arithmetic on the O(groups)
    * result. NULL rewards are excluded from both n and the mean (an
    * unscored doc is not evidence); a group with no scored rows keeps
    * NULL mean/ucb. Returns (group, n, mean_reward, ucb) ordered ucb
    * DESC (the allocation order), NULLs last. */
  def ucbAllocation(df: DataFrame, groupCol: String,
                    rewardCol: String): DataFrame = {
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(col(rewardCol)).as("n"),
        sum(col(rewardCol).cast("double")).as("__s"))
    val tot = per.agg(sum(col("n")).as("__N"))
    val mean = col("__s") / col("n")
    val ucb = mean + sqrt(lit(2.0) * log(col("__N").cast("double"))
      / col("n"))
    per.crossJoin(broadcast(tot))
      .select(col("__g").as(groupCol), col("n"),
        when(col("n") > 0, round(mean, 6)).as("mean_reward"),
        when(col("n") > 0, round(ucb, 6)).as("ucb"))
      .orderBy(col("ucb").desc_nulls_last, col(groupCol))
  }
}
