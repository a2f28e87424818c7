package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.round6

/** Single fused-aggregate column profiler — the north-star per-column
  * stats pass (BASELINE.json): count / null-rate / min / max / distinct
  * via HyperLogLog++ (`approx_count_distinct`) / quantiles via
  * `approx_percentile` (t-digest-like sketch), all in ONE
  * HashAggregateExec over ONE scan. Partial+final aggregation is
  * automatic, so sketches merge two-level (partition-local → global) and
  * shuffle volume is O(partitions × columns), sublinear in rows.
  */
object Profile {

  final case class NumericProfile(
      field: String, nRows: Long, nNull: Long,
      min: Double, max: Double, approxDistinct: Long,
      p25: Double, p50: Double, p75: Double, p99: Double)

  final case class StringProfile(
      field: String, nRows: Long, nNull: Long,
      min: String, max: String, approxDistinct: Long)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** One aggregate row containing every column's stats. */
  def profileExprs(df: DataFrame, fields: Seq[String]): Seq[Column] = {
    val schema = df.schema
    count(lit(1)).as("n_rows") +: fields.flatMap { f =>
      val c = col(f)
      val base = Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"null__$f"),
        approx_count_distinct(c).as(s"dist__$f"))
      if (isNumeric(schema(f).dataType))
        base ++ Seq(
          min(c).cast("double").as(s"min__$f"),
          max(c).cast("double").as(s"max__$f"),
          percentile_approx(c.cast("double"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.99)), lit(10000))
            .as(s"pct__$f"))
      else
        base ++ Seq(
          min(c).cast("string").as(s"mins__$f"),
          max(c).cast("string").as(s"maxs__$f"))
    }
  }

  /** Run the fused profile; returns (numeric profiles, string profiles). */
  def run(df: DataFrame, fields: Seq[String]): (Seq[NumericProfile], Seq[StringProfile]) = {
    val row: Row = df.agg(profileExprs(df, fields).head, profileExprs(df, fields).tail: _*).head()
    def get[T](name: String): T = row.getAs[T](name)
    val nRows = get[Long]("n_rows")
    val schema = df.schema
    val nums = fields.filter(f => isNumeric(schema(f).dataType)).map { f =>
      val pct = get[scala.collection.Seq[Double]](s"pct__$f")
      NumericProfile(f, nRows, get[Long](s"null__$f"),
        Option(row.getAs[Any](s"min__$f")).map(_.toString.toDouble).getOrElse(Double.NaN),
        Option(row.getAs[Any](s"max__$f")).map(_.toString.toDouble).getOrElse(Double.NaN),
        get[Long](s"dist__$f"),
        pct(0), pct(1), pct(2), pct(3))
    }
    val strs = fields.filterNot(f => isNumeric(schema(f).dataType)).map { f =>
      StringProfile(f, nRows, get[Long](s"null__$f"),
        get[String](s"mins__$f"), get[String](s"maxs__$f"), get[Long](s"dist__$f"))
    }
    (nums, strs)
  }

  /** DataFrame flavor for SQL-checkable outputs: one row per profiled
    * numeric column with exact (not approx) aggregates only — oracle-safe. */
  def exactNumericProfileDf(df: DataFrame, fields: Seq[String]): DataFrame = {
    val aggs = fields.flatMap { f =>
      val c = col(f).cast("double")
      Seq(
        count(c).as(s"cnt__$f"),
        min(c).as(s"min__$f"),
        max(c).as(s"max__$f"),
        round(avg(c), 4).as(s"avg__$f"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to (field, cnt, min, max, avg) rows — stays a 1×N agg plan
    val spark = df.sparkSession
    import spark.implicits._
    val r = row.head()
    fields.map { f =>
      (f, r.getAs[Long](s"cnt__$f"), r.getAs[Double](s"min__$f"),
        r.getAs[Double](s"max__$f"), r.getAs[Double](s"avg__$f"))
    }.toDF("field", "cnt", "min", "max", "avg")
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012):
    * per numeric column, an equi-width histogram of `bins` bins over
    * [min, max]; a row's score is Σ over columns of
    * ln(nNonNull(column) / binCount(column, row)) — rows whose values
    * sit in sparse bins across many columns float to the top. The
    * linear-time unsupervised outlier detector (the tree/ensemble
    * methods' sanity baseline): O(n) per pass, no pairwise distances,
    * no iterations. Returns the top-k rows by (hbos DESC, keyCols ASC).
    * A NULL value contributes 0 to its row's score (missingness is
    * [[missingnessPatterns]]'s job, not an outlier signal), and each
    * column's density normalizes by its OWN non-null count — so a
    * constant column contributes ln(c/c) = 0 for every row regardless
    * of the null mix; degenerate columns self-neutralize.
    *
    * Scale shape: one fused min/max/count aggregate (1-row broadcast
    * back), bin occupancy via posexplode → map-side-combined count to
    * ≤ cols × bins rows (broadcast back per column), score is a pure
    * projection, final cut a TakeOrderedAndProject — the corpus never
    * shuffles. Summation over columns is in declared column order, so
    * the doubles are bit-stable and SQL-replayable. */
  def hbos(df: DataFrame, keyCols: Seq[String], cols: Seq[String],
           bins: Int = 10, k: Int = 20): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(cols.nonEmpty, "need at least one score column")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c"),
      count(col(c)).as(s"__cnt_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val withStats = df.crossJoin(broadcast(stats))
    def binOf(c: String): Column = {
      val lo = col(s"__min_$c"); val hi = col(s"__max_$c")
      when(col(c).isNull, lit(null))
        .when(hi <= lo, lit(0L))
        .otherwise(least(
          floor((col(c).cast("double") - lo) / ((hi - lo) / bins)),
          lit(bins - 1L)))
    }
    val binned = withStats.select(
      keyCols.map(col) ++ cols.map(c => col(s"__cnt_$c")) ++
        cols.map(c => binOf(c).as(s"__bin_$c")): _*)
    val occupancy = binned.select(posexplode(
        array(cols.map(c => col(s"__bin_$c")): _*))
        .as(Seq("__ci", "__bin")))
      .groupBy(col("__ci"), col("__bin")).agg(count(lit(1)).as("__bc"))
    val joined = cols.zipWithIndex.foldLeft(binned) { case (acc, (c, i)) =>
      acc.join(broadcast(occupancy.where(col("__ci") === i)
        .select(col("__bin").as(s"__bin_$c"), col("__bc").as(s"__bc_$c"))),
        Seq(s"__bin_$c"), "left")
    }
    val score = cols.map(c =>
        coalesce(log(col(s"__cnt_$c").cast("double") / col(s"__bc_$c")),
          lit(0.0)))
      .reduce(_ + _)
    joined.select(keyCols.map(col) :+ round(score, 6).as("hbos"): _*)
      .orderBy(desc("hbos") +: keyCols.map(col): _*)
      .limit(k)
  }

  /** OLS residual anomalies: fit y = a + b·x by ordinary least squares
    * from ONE sufficient-stats aggregate (n, Σx, Σy, Σxy, Σx² — exact
    * order-independent doubles on integer-valued columns), broadcast
    * the 1-row stats back, and return the top-k rows by |residual| —
    * the BIVARIATE consistency check the univariate fences can't
    * express (e.g. chars-vs-tokens: a document far off the corpus's
    * chars~tokens line is mis-tokenized, mis-counted, or not text,
    * even when both marginals look normal). Closed forms
    * b = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), a = (Σy − bΣx)/n, evaluated
    * per row from the broadcast literals in fixed expression order
    * (SQL-replicable); degenerate x (zero variance) yields b = 0,
    * a = ȳ. Rows with a NULL x or y are excluded from the fit and
    * sort with NULL residuals (last) — never silently scored.
    *
    * Scale shape: one aggregate pass + a stateless residual projection
    * + TakeOrderedAndProject — zero corpus shuffle. */
  def olsResiduals(df: DataFrame, keyCols: Seq[String], xCol: String,
                   yCol: String, k: Int = 20): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val stats = df.where(x.isNotNull && y.isNotNull).agg(
      count(lit(1)).as("__n"), sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
    val denom = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val slope = when(denom <= 0, lit(0.0))
      .otherwise((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
        / denom)
    val intercept = (col("__sy") - slope * col("__sx")) / col("__n")
    df.crossJoin(broadcast(stats))
      .select(keyCols.map(col) ++ Seq(
        col(xCol), col(yCol),
        round(y - (intercept + slope * x), 6).as("residual"),
        round(abs(y - (intercept + slope * x)), 6).as("abs_residual")): _*)
      .orderBy(desc("abs_residual") +: keyCols.map(col): _*)
      .limit(k)
  }

  /** MERGEABLE numeric profile: `(field, cnt, min, max, sum)` — the
    * incremental-corpus profile algebra. Unlike [[exactNumericProfileDf]]
    * (which rounds the average away), every column here merges exactly:
    * profile(A ∪ B) = merge(profile(A), profile(B)) by (sum cnt,
    * min min, max max, sum sum). Profile each ingest batch once, store
    * the metadata-sized rows, and the whole-corpus profile is a fold
    * over stored profiles — no re-scan of 100 TB when a snapshot lands.
    * One fused aggregate pass (the [[run]] convention). */
  def mergeableProfile(df: DataFrame, fields: Seq[String]): DataFrame = {
    val aggs = fields.flatMap { f =>
      val c = col(f).cast("double")
      Seq(count(c).as(s"cnt__$f"), min(c).as(s"min__$f"),
        max(c).as(s"max__$f"), sum(c).as(s"sum__$f"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val spark = df.sparkSession
    import spark.implicits._
    val r = row.head()
    fields.map { f =>
      (f, r.getAs[Long](s"cnt__$f"),
        Option(r.getAs[Double](s"min__$f")),
        Option(r.getAs[Double](s"max__$f")),
        Option(r.getAs[Double](s"sum__$f")))
    }.toDF("field", "cnt", "min", "max", "sum")
  }

  /** Merge any number of [[mergeableProfile]] frames into one profile
    * with a derived `avg` — a metadata-sized groupBy over k×|fields|
    * rows, no corpus touch. Empty-batch fields (cnt 0) contribute
    * nothing (their NULL min/max/sum are ignored by the aggregates);
    * an all-empty field keeps a loud NULL avg. */
  def mergeProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty, "no profiles to merge")
    profiles.reduce(_ unionByName _)
      .groupBy("field")
      .agg(sum(col("cnt")).as("cnt"), min(col("min")).as("min"),
        max(col("max")).as("max"), sum(col("sum")).as("sum"))
      .withColumn("avg",
        when(col("cnt") > 0, col("sum") / col("cnt").cast("double")))
  }

  /** Robust (median/MAD) outlier detection on a numeric column — the
    * distributional cousin of the declarative range checks: flag values
    * outside median ± k · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality; k=3.5 ≈ a 3.5σ fence that, unlike mean/stddev fences,
    * the outliers themselves cannot drag).
    *
    * Two aggregation passes by construction (MAD needs the median
    * first), plus the counting pass — each a two-level partial
    * aggregate over the scan, shuffling O(partitions) rows. `exact=true`
    * uses exact `median` (order-statistic memory O(n) per group at
    * scale — the ORACLE path, bit-reproducible in any engine);
    * production at 10^12 rows sets `exact=false` for the t-digest
    * `approx_percentile` sketch, same plan shape with bounded memory.
    *
    * `sampleFilter` estimates the FENCE on a deterministic row subset
    * (e.g. `col("id") % 100 === 0`) while still counting outliers over
    * every row — the right shape at 10^12 rows even in exact mode: the
    * fence is a low-precision population statistic a fixed sample pins,
    * and the two order-statistic passes then touch 1/N of the data.
    * Deterministic (hash/modulo) sampling keeps it oracle-replicable.
    *
    * @return one row: (field, median, mad, lo, hi, n_outliers, n_rows)
    *         with display columns rounded to 4 dp; the fence itself is
    *         computed unrounded. */
  def robustOutliers(df: DataFrame, field: String, k: Double = 3.5,
                     exact: Boolean = true,
                     sampleFilter: Option[Column] = None): DataFrame = {
    val c = col(field).cast("double")
    def med(x: Column): Column =
      if (exact) median(x) else percentile_approx(x, lit(0.5), lit(10000))
    val est = sampleFilter.map(df.where).getOrElse(df)
    val mRow = est.agg(med(c).as("m")).head()
    require(!mRow.isNullAt(0),
      s"robustOutliers: empty fence sample for '$field' — " +
      "sampleFilter matched no rows (or all-null column)")
    val m = mRow.getDouble(0)
    val mad = est.agg(med(abs(c - m)).as("mad")).head().getDouble(0)
    val lo = m - k * 1.4826 * mad
    val hi = m + k * 1.4826 * mad
    df.agg(
        count(c).as("n_rows"),
        sum(when(c < lo || c > hi, 1L).otherwise(0L)).as("n_outliers"))
      .select(lit(field).as("field"),
        round(lit(m), 4).as("median"), round(lit(mad), 4).as("mad"),
        round(lit(lo), 4).as("lo"), round(lit(hi), 4).as("hi"),
        col("n_outliers"), col("n_rows"))
  }

  /** Per-group robust outlier fences — [[robustOutliers]] stratified:
    * each group's median ± k·1.4826·MAD and its outlier count, so a
    * source whose own distribution is healthy but shifted (which a
    * GLOBAL fence either swallows whole or flags whole) is judged
    * against itself. Returns (group, n_rows, median, mad, lo, hi,
    * n_outliers) per group, '<null>' bucketed.
    *
    * Scale shape: three grouped aggregates over the corpus (median →
    * MAD → fence counts), each collapsing map-side to O(groups) rows,
    * with the intermediate medians re-attached by BROADCAST joins
    * (groups are dimension-like by contract). `exact = true` uses
    * exact `median` (the oracle mode); false uses
    * `approx_percentile`'s bounded-memory t-digest (the 10^12-row
    * path, same trade as [[robustOutliers]]). */
  def groupRobustFence(df: DataFrame, groupCol: String, field: String,
                       k: Double = 3.5, exact: Boolean = true): DataFrame = {
    val c = col(field).cast("double")
    def med(x: Column): Column =
      if (exact) median(x) else percentile_approx(x, lit(0.5), lit(10000))
    val g = Categorical.key(col(groupCol)).as("__g")
    val base = df.select(g, c.as("__v"))
    val meds = base.groupBy(col("__g")).agg(med(col("__v")).as("__m"))
    val mads = base.join(broadcast(meds), Seq("__g"))
      .groupBy(col("__g"), col("__m"))
      .agg(med(abs(col("__v") - col("__m"))).as("__mad"))
    val lo = col("__m") - lit(k * 1.4826) * col("__mad")
    val hi = col("__m") + lit(k * 1.4826) * col("__mad")
    // DuckDB-semantics rounding: med/mad of an integer column are exact
    // halves, so lo/hi = med ± 5.1891·mad systematically land on a .5
    // tie at 4 decimals where Spark's round() and the DuckDB oracle
    // disagree (round-5 driver red, 4/20 rows at sf0.1)
    import graft.functions.DuckRound.duckRound
    base.join(broadcast(mads), Seq("__g"))
      .groupBy(col("__g"), col("__m"), col("__mad"))
      .agg(count(col("__v")).as("n_rows"),
        sum(when(col("__v") < lo || col("__v") > hi, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("__g").as(groupCol), col("n_rows"),
        duckRound(col("__m"), 4).as("median"),
        duckRound(col("__mad"), 4).as("mad"),
        duckRound(lo, 4).as("lo"), duckRound(hi, 4).as("hi"),
        col("n_outliers"))
      .orderBy(col(groupCol))
  }

  /** Rolling-window distinct counts over MERGEABLE HLL sketches — the
    * sketch-algebra answer to "distinct users over any trailing
    * window" that [[mergeableProfile]] gives min/max/sum: per-day
    * DataSketches HLL sketches (one grouped aggregate, two-level
    * partial merge — the corpus collapses to O(days) sketch rows),
    * then `hll_union_agg` over a RANGE window keyed on the day NUMBER
    * (gap-correct: missing days shrink the window, a ROWS frame would
    * silently stretch it) — so N-day distincts come from stored daily
    * sketches with NO corpus rescan, and a 100 TB history rolls up
    * from kilobytes of sketches. DataSketches HLL is EXACT while a
    * sketch is still in coupon (list/set) mode, which is what the
    * exact-distinct oracle exploits at test scale; `lgConfigK = 18`
    * keeps coupon mode to ~24k distinct keys/window (measured: exact
    * at 20k, and a 7-sketch union of 3344 keys stays exact) while a
    * coupon-mode sketch still costs only ~4 B/key — beyond that the
    * estimate carries the ~0.4 % HLL error of lgK 18. Returns
    * (day, n_events, day_distinct, rolling_distinct). */
  def rollingDistinct(df: DataFrame, tsCol: String, keyCol: String,
                      windowDays: Int = 7,
                      lgConfigK: Int = 18): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val daily = df.where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(hll_sketch_agg(col(keyCol), lgConfigK).as("__sk"),
        count(lit(1)).as("n_events"))
      .withColumn("__dn", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy(col("__dn"))
      .rangeBetween(-(windowDays - 1).toLong, Window.currentRow)
    daily
      .withColumn("day_distinct", hll_sketch_estimate(col("__sk")))
      .withColumn("rolling_distinct",
        hll_sketch_estimate(hll_union_agg(col("__sk")).over(w)))
      .select(col("day"), col("n_events"), col("day_distinct"),
        col("rolling_distinct"))
      .orderBy(col("day"))
  }

  /** Pairwise audience overlap from MERGEABLE HLL sketches —
    * inclusion–exclusion on the sketch algebra: |A∩B| ≈ |A| + |B| −
    * |A∪B| with the union a lossless `hll_union` of the two stored
    * sketches. ONE pass over the corpus builds the per-group sketches
    * (two-level partial merge, O(groups) sketch rows); every pair
    * estimate is then driver-free arithmetic on kilobyte sketches —
    * the "how many users do these two feeds share" matrix WITHOUT the
    * O(pairs) distinct-intersection scans the exact spelling needs.
    * Exact while sketches are in coupon mode (the oracle's lever at
    * test scale; `lgConfigK = 18` holds coupon mode to ~24k distinct
    * keys per group at ~4 B/key); at true scale inclusion–exclusion
    * compounds the ~0.4 % lgK-18 HLL error ACROSS THE SUBTRACTION, so
    * small overlaps of huge sets are noise — `jaccard`
    * (overlap/union) is the scale-honest readout. Returns
    * (group_a < group_b, distinct_a,
    * distinct_b, distinct_union, est_overlap, jaccard). */
  def sketchOverlap(df: DataFrame, groupCol: String,
                    keyCol: String, lgConfigK: Int = 18): DataFrame = {
    val sk = df.where(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(hll_sketch_agg(col(keyCol), lgConfigK).as("__sk"))
    val a = sk.select(col("__g").as("group_a"), col("__sk").as("__sa"))
    val b = sk.select(col("__g").as("group_b"), col("__sk").as("__sb"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        hll_sketch_estimate(col("__sa")).as("distinct_a"),
        hll_sketch_estimate(col("__sb")).as("distinct_b"),
        hll_sketch_estimate(hll_union(col("__sa"), col("__sb")))
          .as("distinct_union"))
      .withColumn("est_overlap",
        col("distinct_a") + col("distinct_b") - col("distinct_union"))
      .withColumn("jaccard",
        round(col("est_overlap").cast("double") / col("distinct_union"), 6))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Mutual information + uncertainty coefficients between two
    * categorical columns — the information-theoretic association
    * reading next to the chi-square family (Cramér's V says "these
    * columns are associated"; Theil's U(X|Y) = MI/H(X) says "knowing Y
    * removes this FRACTION of X's uncertainty", and it is asymmetric,
    * which is the point: U(lang|source) ≈ 1 with U(source|lang) ≈ 0.3
    * means source determines lang but not back — a redundancy you can
    * drop a column over). MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), exact
    * from integer counts, over the cells of the [[Categorical.table]]
    * (O(|X|·|Y|) rows — dimension-like by contract) collected into a
    * [[Categorical.Joint]]. Returns one row (n, mi, h_x, h_y,
    * u_x_given_y, u_y_given_x); degenerate entropies yield NULL
    * coefficients. */
  def mutualInformation(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = {
    val joint = new Categorical.Joint[String](Categorical.table(df, xCol, yCol).cells
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    import joint.{first => px, second => py, n}
    val hx = joint.entropy(px); val hy = joint.entropy(py)
    val mi = joint.fold { case ((x, y), c) =>
      val pxy = c / n
      val d = (px(x) / n) * (py(y) / n)
      if (pxy > 0.0 && d > 0.0) pxy * math.log(pxy / d) else 0.0
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((joint.total, round6(mi), round6(hx), round6(hy),
      if (hx > 0.0) Option(round6(mi / hx)) else None,
      if (hy > 0.0) Option(round6(mi / hy)) else None))
      .toDF("n", "mi", "h_x", "h_y", "u_x_given_y", "u_y_given_x")
  }

  /** Capture–recapture corpus-size estimate (Chapman's bias-corrected
    * Lincoln–Petersen): treat two overlapping crawls/snapshots as two
    * "captures" of the same underlying population and estimate how
    * many documents EXIST from how often the crawls re-find each
    * other: N̂ = (n_A+1)(n_B+1)/(m+1) − 1 with m the key overlap —
    * the standard answer to "what fraction of the reachable corpus
    * are we actually covering", straight from ecology into crawl
    * analytics. Three narrow distinct-key aggregates (the overlap is
    * a semi-join of key projections — payloads never move). Returns
    * (n_a, n_b, n_overlap, est_population, coverage_a = n_A/N̂);
    * disjoint captures (m = 0) keep the defined Chapman value — its
    * bias correction exists exactly so that case stays finite. */
  def captureRecapture(dfA: DataFrame, dfB: DataFrame,
                       keyCol: String): DataFrame = {
    val a = dfA.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
    val b = dfB.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
    // ONE action: the three counts were three sequential jobs (nA, nB,
    // overlap), the overlap tower re-deriving both distincts; as
    // crossJoined 1-row aggregates they run as parallel stages of a
    // single job (AQE reuses the two distinct exchanges across towers)
    val row = a.agg(count(lit(1)).as("__na"))
      .crossJoin(b.agg(count(lit(1)).as("__nb")))
      .crossJoin(a.join(b, Seq(keyCol), "left_semi")
        .agg(count(lit(1)).as("__m")))
      .head()
    val (nA, nB, m) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val est = (nA + 1.0) * (nB + 1.0) / (m + 1.0) - 1.0
    val spark = dfA.sparkSession
    import spark.implicits._
    Seq((nA, nB, m, round6(est), round6(if (est > 0.0) nA / est else 1.0)))
      .toDF("n_a", "n_b", "n_overlap", "est_population", "coverage_a")
  }

  /** Kish effective sample size under weighting — ESS = (Σw)²/Σw² per
    * group: the honest "how much data do my importance weights
    * actually keep" number every weighted-sampling scheme (DSIR,
    * temperature mixing, inverse-propensity) owes its user — a source
    * with n = 10⁶ docs but ess_ratio 0.02 contributes TWENTY THOUSAND
    * docs' worth of signal, and treating it as a million is how
    * weighted pipelines silently overfit their heavy tail. One
    * sufficient-stats aggregate (n, Σw, Σw² map-side combined to
    * O(groups) rows). NULL and non-positive weights are EXCLUDED and
    * counted (`n_invalid` — a negative weight is an upstream bug, not
    * a small contribution); a group with no valid weights keeps NULL
    * ess. Returns (group, n_rows, n_invalid, ess, ess_ratio). */
  def kishEss(df: DataFrame, groupCol: String,
              weightCol: String): DataFrame = {
    val w = col(weightCol).cast("double")
    val valid = w.isNotNull && w > 0.0
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(!valid, 1L).otherwise(0L)).as("n_invalid"),
        sum(when(valid, w)).as("__sw"),
        sum(when(valid, w * w)).as("__sw2"),
        sum(when(valid, 1L).otherwise(0L)).as("__nv"))
    per.select(col("__g").as(groupCol), col("n_rows"), col("n_invalid"),
        when(col("__nv") > 0,
          round(col("__sw") * col("__sw") / col("__sw2"), 6)).as("ess"),
        when(col("__nv") > 0,
          round(col("__sw") * col("__sw") / col("__sw2") / col("__nv"), 6))
          .as("ess_ratio"))
      .orderBy(col(groupCol))
  }

  /** Simpson's-paradox screen: the pooled OLS slope of y on x next to
    * every stratum's own slope, flagging strata whose sign OPPOSES the
    * pooled sign — the aggregation trap ("quality rises with length"
    * corpus-wide while falling within every source means the pooled
    * trend is a source-mix artifact, and any gate tuned on it will do
    * the opposite of what its designer read off the scatter plot).
    * One grouped sufficient-stats aggregate (n, Σx, Σy, Σxy, Σx² per
    * stratum — exact order-independent doubles on integer-valued
    * columns); pooled sums are the column sums of the O(strata) frame.
    * Slopes use the [[olsResiduals]] closed form; a zero-variance
    * stratum keeps a NULL slope and never counts as opposing. Returns
    * (stratum, n, slope, pooled_slope, opposes) ordered by stratum. */
  def simpsonsCheck(df: DataFrame, strataCol: String, xCol: String,
                    yCol: String): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val per = df.where(x.isNotNull && y.isNotNull)
      .groupBy(Categorical.key(col(strataCol)).as("__g"))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
    val tot = per.agg(sum(col("n")).as("__tn"), sum(col("__sx")).as("__tsx"),
      sum(col("__sy")).as("__tsy"), sum(col("__sxy")).as("__tsxy"),
      sum(col("__sxx")).as("__tsxx"))
    def slopeOf(n: Column, sx: Column, sy: Column, sxy: Column,
                sxx: Column): Column = {
      val denom = n * sxx - sx * sx
      when(denom <= 0, lit(null: java.lang.Double))
        .otherwise((n * sxy - sx * sy) / denom)
    }
    val slope = slopeOf(col("n"), col("__sx"), col("__sy"), col("__sxy"),
      col("__sxx"))
    val pooled = slopeOf(col("__tn"), col("__tsx"), col("__tsy"),
      col("__tsxy"), col("__tsxx"))
    per.crossJoin(broadcast(tot))
      .select(col("__g").as(strataCol), col("n"),
        round(slope, 6).as("slope"),
        round(pooled, 6).as("pooled_slope"),
        when(slope.isNull || pooled.isNull, lit(false))
          .otherwise(slope * pooled < 0).as("opposes"))
      .orderBy(col(strataCol))
  }

  /** Contextual rarity — values rare WITHIN their group but common
    * globally: lift = within-group share / global share, and a cell
    * with lift ≪ 1 on a globally-common value is a routing/labeling
    * bug (the Spanish docs that ended up in the German feed), which
    * plain [[rareCategories]] can't see because the value is not rare
    * anywhere it looks. Over the (group, value)
    * [[Categorical.table]] (dimension-like by contract), flagged below
    * `maxLift` with a `minGlobalShare` floor so
    * genuinely-rare values don't alarm. Returns every (group, value)
    * cell: (group, value, n, within_share, global_share, lift,
    * flagged). */
  def contextualRare(df: DataFrame, groupCol: String, valueCol: String,
                     maxLift: Double = 0.25,
                     minGlobalShare: Double = 0.05): DataFrame = {
    val Categorical.Table(cells, gTot, vTot) = Categorical.table(df, groupCol, valueCol)
    val tot = cells.agg(sum(col("__n")).as("__t"))
    val within = col("__n").cast("double") / col("__na")
    val global = col("__nb").cast("double") / col("__t")
    cells.join(broadcast(gTot), Seq("__a"))
      .join(broadcast(vTot), Seq("__b"))
      .crossJoin(broadcast(tot))
      .select(col("__a").as(groupCol), col("__b").as(valueCol), col("__n").as("n"),
        round(within, 6).as("within_share"),
        round(global, 6).as("global_share"),
        round(within / global, 6).as("lift"),
        (within / global < maxLift && global >= minGlobalShare)
          .as("flagged"))
      .orderBy(col(groupCol), col(valueCol))
  }

  /** Conditional value-at-risk (expected shortfall) of a quality
    * signal per group: the mean of each group's WORST α-tail — the
    * budgeting number a mean or even a p10 can't give ("src7's bottom
    * decile averages 41 chars" is actionable; "src7's p10 is 52" says
    * nothing about how bad it gets below that). VaR_α = the exact
    * interpolated α-quantile per group, CVaR = mean over values ≤
    * VaR_α (closed tail, so the boundary value counts). Two grouped
    * aggregates with a broadcast quantile re-attach (groups
    * dimension-like by contract); interpolated percentiles agree
    * across engines on integer-valued columns. Returns (group, n,
    * var_alpha, tail_n, cvar). */
  def cvarByGroup(df: DataFrame, groupCol: String, valueCol: String,
                  alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0, 1)")
    val v = col(valueCol).cast("double")
    val g = Categorical.key(col(groupCol)).as("__g")
    val base = df.where(v.isNotNull).select(g, v.as("__v"))
    val qs = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        expr(s"percentile(__v, $alpha)").as("__q"))
    base.join(broadcast(qs), Seq("__g"))
      .where(col("__v") <= col("__q"))
      .groupBy(col("__g"), col("n"), col("__q"))
      .agg(count(lit(1)).as("tail_n"), avg(col("__v")).as("__m"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__q"), 6).as("var_alpha"), col("tail_n"),
        round(col("__m"), 6).as("cvar"))
      .orderBy(col(groupCol))
  }

  /** Heavy hitters on a possibly unbounded-cardinality column via
    * Spark 4's `approx_top_k` (Apache DataSketches frequent-items):
    * ONE aggregate whose sketch merges two-level like the HLL/t-digest
    * profiles above, so shuffle volume is O(partitions ×
    * maxItemsTracked) — the exact `groupBy(col).count.orderBy.limit`
    * spelling shuffles O(distinct) rows, unbounded for a garbage column
    * at 10^12 rows. Counts are EXACT whenever the column's distinct
    * count fits `maxItemsTracked` (the sketch guarantee), which is what
    * the oracle exploits. Returns (item, n) sorted (n desc, item) with
    * a deterministic tie order AMONG the returned items; a count tie
    * exactly at the k-th boundary is resolved arbitrarily by the sketch
    * (an exact engine breaks it lexicographically) — callers comparing
    * against exact top-k should pick k off a tie boundary or compare
    * as a set-with-counts. */
  def heavyHitters(df: DataFrame, column: String, k: Int,
                   maxItemsTracked: Int = 10000): DataFrame =
    df.select(col(column).cast("string").as("__hh_in"))
      .agg(expr(s"approx_top_k(__hh_in, $k, $maxItemsTracked)").as("tk"))
      .select(explode(col("tk")).as("hh"))
      .select(col("hh.item").as("item"), col("hh.count").as("n"))
      .orderBy(desc("n"), col("item"))

  /** Per-group z-score normalization — "normalize quality scores within
    * each source so gates don't favor verbose domains". Two passes that
    * cost one aggregate + one join: per-group SUFFICIENT STATISTICS
    * (n, Σx, Σx²) collapse map-side to one row per group, and the
    * normalized column is a projection after the group join (AQE
    * broadcasts the stats side — O(groups) rows).
    *
    * Mean and population variance are derived from the sufficient
    * statistics with one fixed expression order — on integer-valued
    * columns the sums are EXACT, so the derived doubles (and the SQL
    * oracle's) are bit-identical. Degenerate groups (var ≤ 0, e.g. a
    * single row) get z = 0.0 rather than NaN/±Inf — a constant column
    * is "perfectly typical", not an outlier. NULL values keep z null. */
  def groupZScores(df: DataFrame, valueCol: String, groupCol: String,
                   outCol: String = "z"): DataFrame = {
    val x = col(valueCol).cast("double")
    // null-SAFE group join: rows with a NULL group form their own
    // population (groupBy already aggregates them as one group; a plain
    // equi-join would then orphan them to null stats)
    val stats = df.groupBy(col(groupCol).as("__g")).agg(
      count(x).as("__n"),
      sum(x).as("__s"),
      sum(x * x).as("__ss"))
    val mean = col("__s") / col("__n")
    val variance = col("__ss") / col("__n") - mean * mean
    df.join(stats, col(groupCol) <=> col("__g"), "left")
      .withColumn(outCol,
        when(x.isNull, lit(null).cast("double"))
          .when(variance <= 0, lit(0.0))
          .otherwise((x - mean) / sqrt(variance)))
      .drop("__g", "__n", "__s", "__ss")
  }

  /** Key-skew diagnostics for a join/aggregation key — the measurement
    * half of the repo's salting story: BEFORE shuffling 100 TB on a
    * key, ask how concentrated it is. One row out:
    * (n_rows, n_keys, max_key, max_count, max_share, hhi, entropy) —
    * max_share is the hot key's row fraction (≈ the fraction of the
    * shuffle landing on ONE reducer without salting), hhi the
    * Herfindahl concentration Σ pᵢ² (1/n_keys when uniform → 1.0 when
    * degenerate), entropy the Shannon −Σ pᵢ·ln pᵢ in nats. NULL keys
    * count as a key of their own (skew from null-heavy columns is the
    * most common real case) with max_key reported as the string
    * "<null>".
    *
    * Scale shape: two-level aggregate — per-key counts with map-side
    * combine (O(distinct keys) shuffle rows), then a single global
    * fold of count/share arithmetic; max_key rides the same fold as a
    * max_by. No window, no sort, no driver-side per-key loop. */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = df
      .groupBy(Categorical.key(col(keyCol)).as("__k"))
      .agg(count(lit(1)).as("__n"))
    perKey
      .agg(sum(col("__n")).as("__total"),
        count(lit(1)).as("n_keys"),
        max_by(col("__k"), struct(col("__n"), col("__k"))).as("max_key"),
        max(col("__n")).as("max_count"),
        // double BEFORE the square: n² overflows long exactly on the
        // hot keys this diagnostic exists to find (6dp output anyway)
        sum(col("__n").cast("double") * col("__n").cast("double")).as("__sq"),
        sum(col("__n").cast("double") * log(col("__n").cast("double"))).as("__nlogn"))
      .select(col("__total").as("n_rows"), col("n_keys"),
        col("max_key"), col("max_count"),
        round(col("max_count").cast("double") / col("__total"), 6).as("max_share"),
        round(col("__sq") /
          (col("__total").cast("double") * col("__total").cast("double")), 6).as("hhi"),
        round(log(col("__total").cast("double")) -
          col("__nlogn") / col("__total").cast("double"), 6).as("entropy"))
  }

  /** Exact per-group percentiles of a numeric column at dyadic
    * probabilities — p ∈ {.25, .5, .75} on integer inputs interpolates
    * to exactly representable doubles in any engine (idx = p·(n−1),
    * linear), so the oracle needs no rounding. The EXACT tier (one
    * sort-based aggregate per group, map-side partials); the sketch
    * path at scale is `approx_percentile` via [[columnStats]]. */
  def groupPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(ps.nonEmpty, "groupPercentiles needs at least one probability")
    // typed percentile, not a SQL-string splice: a column name needing
    // backticks would break expr() parsing
    val base = df.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), array(ps.map(lit): _*)).as("__q"))
    val cols = col(groupCol) +: ps.zipWithIndex.map { case (p, i) =>
      base.col("__q").getItem(i)
        .as(s"p${(p * 100).round}")
    }
    base.select(cols: _*).orderBy(groupCol)
  }

  /** Gini coefficient of a weight column across groups — the one-number
    * corpus-balance signal (0 = every source contributes equal token
    * mass, →1 = one source dominates): G = 2·Σᵢ i·mᵢ / (k·Σm) − (k+1)/k
    * over ascending-sorted group masses (ties broken by group name so
    * both engines rank identically). Returns one row
    * (n_groups, total_weight, gini 6dp). The rank window runs on the
    * GROUP-count-sized frame (k rows), never the corpus. */
  def giniConcentration(df: DataFrame, groupCol: String,
                        weightCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a group whose weights are all NULL has no mass to rank — dropped
    // on BOTH sides (Spark orders NULLS FIRST, DuckDB LAST: keeping
    // them would silently shift every rank and break oracle parity)
    val mass = df.groupBy(col(groupCol).as("__g"))
      .agg(sum(weightCol).as("__m"))
      .where(col("__m").isNotNull)
    val w = Window.orderBy(col("__m"), col("__g"))
    mass.select(row_number().over(w).cast("long").as("__i"), col("__m"))
      .agg(sum(col("__i") * col("__m")).as("__sim"),
        sum(col("__m")).as("__sm"), count(lit(1)).as("n_groups"))
      .select(col("n_groups"), col("__sm").as("total_weight"),
        round(lit(2.0) * col("__sim") /
            (col("n_groups") * col("__sm")) -
          (col("n_groups") + 1).cast("double") / col("n_groups"), 6)
          .as("gini"))
  }

  /** Per-source data-card rollup — the composition table every corpus
    * release publishes (n docs, token mass, mean length, short-doc and
    * empty-doc fractions, language spread) in ONE grouped aggregate
    * with map-side combine: the scan tokenizes each document once
    * (size of the canonical word split — [[Dedup.words]]) and only
    * per-source partials shuffle. Fractions derive from integer counts
    * in a fixed expression order, so the 6dp rounding is engine-stable.
    * `shortTokens` is the "too short to train on" threshold. */
  def dataCard(df: DataFrame, sourceCol: String, textCol: String,
               langCol: String, shortTokens: Int = 20): DataFrame = {
    val nTok = size(Dedup.words(col(textCol))).cast("long")
    df.select(col(sourceCol).as("source"), col(langCol).as("__lang"),
        nTok.as("__nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(when(col("__nt") < shortTokens, 1L).otherwise(0L)).as("__short"),
        sum(when(col("__nt") === 0, 1L).otherwise(0L)).as("n_empty"),
        countDistinct(col("__lang")).as("n_langs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens"),
        round(col("__short").cast("double") / col("n_docs"), 6)
          .as("short_frac"),
        col("n_empty"), col("n_langs"))
      .orderBy("source")
  }

  /** Quality-classifier calibration table: equal-width score bins with
    * volume, observed positive rate, mean predicted score, and the
    * |accuracy − confidence| gap per bin — the reliability diagram a
    * score-threshold decision needs before anyone trusts the scores
    * (ECE is the n-weighted sum of `gap`, computable from the returned
    * rows). Scores are clamped into bin nBins−1 at exactly 1.0; NULL
    * scores are excluded (unscorable rows belong in a coverage metric,
    * not a calibration bin). One map-side-combined aggregate over the
    * (bin, score, label) projection. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      nBins: Int = 10): DataFrame = {
    require(nBins > 0, "calibrationBins: nBins must be positive")
    df.where(col(scoreCol).isNotNull)
      .select(
        least(floor(col(scoreCol) * nBins), lit(nBins - 1)).cast("int")
          .as("bin"),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        round(avg(col("__s")), 6).as("mean_score"),
        round(sum(col("__y")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("pos_rate"),
        round(abs(avg(col("__s")) -
          sum(col("__y")).cast("double") / count(lit(1)).cast("double")), 6)
          .as("gap"))
      .orderBy("bin")
  }

  /** Per-group Pearson correlation between two numeric signals from
    * EXACT integer sufficient statistics — the signal-redundancy audit
    * for quality-score ensembles (two signals correlating ≈1 add rank
    * noise, not information; a sign flip across groups flags a scale
    * bug). One map-side-combined aggregate; the five sums accumulate
    * as decimal(38,0) (exact at any corpus size where the moments fit
    * 38 digits — Spark's decimal matches DuckDB's HUGEINT exactly, so
    * the final double conversion and the r arithmetic are deterministic
    * across engines, unlike a streaming `corr` whose FP merge order is
    * partition-dependent). Rows with a NULL in either signal are
    * excluded; zero variance on either side yields NULL r. */
  def correlationByGroup(df: DataFrame, groupCol: String,
                         xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(38,0)")
    val y = col(yCol).cast("decimal(38,0)")
    val agg = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
    val n = col("n").cast("decimal(38,0)")
    val cov = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val vx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val vy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    agg.select(col(groupCol), col("n"),
      when(vx > 0 && vy > 0,
        round(cov / (sqrt(vx) * sqrt(vy)), 6)).as("pearson_r"))
  }

  /** NDCG@k of a scored ranking against graded relevance — the
    * retrieval-eval number for the BM25/ANN tier (is the ranker
    * actually surfacing the relevant documents, position-weighted?).
    * Standard Järvelin–Kekäläinen form: DCG = Σ (2^rel − 1) /
    * log₂(pos + 1) over the top k by (score desc, id); IDCG re-ranks
    * by (rel desc, id); NDCG = DCG/IDCG, NULL when nothing is relevant
    * (IDCG 0 — "no right answers" is not a perfect score). Ties break
    * on id on both rankings, so the number is engine-replayable.
    * Returns one row (k, dcg, idcg, ndcg — 6dp).
    *
    * Scale shape: both rankings are TakeOrderedAndProject folds (each
    * task keeps a local top-k; no global sort, no SinglePartition
    * window over the corpus — the position window runs on the k
    * survivors only), and the DCG sums are k-row folds. */
  def ndcgAtK(df: DataFrame, idCol: String, scoreCol: String,
              relCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "ndcgAtK: k must be positive")
    def dcgOf(by: Seq[Column], alias: String) =
      df.select(col(idCol), col(scoreCol), col(relCol))
        .orderBy(by: _*).limit(k)
        .withColumn("__pos", row_number().over(Window.orderBy(by: _*)))
        .agg(coalesce(sum(
          (pow(lit(2.0), col(relCol).cast("double")) - 1.0) /
            log2(col("__pos").cast("double") + 1.0)), lit(0.0)).as(alias))
    val dcg = dcgOf(Seq(col(scoreCol).desc, col(idCol).asc), "dcg")
    val idcg = dcgOf(Seq(col(relCol).desc, col(idCol).asc), "idcg")
    dcg.crossJoin(idcg)
      .select(lit(k).as("k"), round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
          .as("ndcg"))
  }

  /** EXACT k-th smallest of a long column in at most 8 counting passes
    * — the order statistic that neither sorts nor sketches: a global
    * sort of 10^12 rows is a full range-exchange, `approx_percentile`
    * is approximate, and exact `median`/`percentile` buffer whole
    * groups; this is the radix-select alternative that scales. Each
    * pass is ONE map-side-combined 256-bucket histogram of the next
    * byte (restricted to the prefix that survived the previous
    * passes), so the driver sees 8 × 256 counts and the data is
    * scanned ≤ 8 times — often fewer: the descent stops as soon as
    * one value remains. Values are sign-bit-biased so unsigned byte
    * order equals signed long order (negatives handled exactly).
    * `k` is 1-based; NULLs are excluded (callers count separately).
    * Deterministic — no sampling, no sketch, bit-exact on any engine.
    */
  def kthSmallestLong(df: DataFrame, colName: String, k: Long,
                      bounds: Option[(Long, Long)] = None): Long =
    kthSmallestLongs(df, colName, Seq(k), bounds).head

  /** Widest value span (exclusive) answered by the exact-histogram
    * fast path of [[kthSmallestLongs]]: 2^16 distinct values is ≤ 1 MB
    * of driver counts — comfortably the 256-bucket discipline's
    * budget, and enough to cover the bounded domains (lengths, counts,
    * bucketed scores) where the radix descent's byte-skip CANNOT help
    * because the domain straddles a byte boundary (e.g. a −500..500
    * column crosses the sign byte, so min and max share zero prefix
    * bytes and every statistic pays 8 full counting passes). */
  private val SpanHistogramMax = 1L << 16

  /** Multi-statistic [[kthSmallestLong]]: one (min, max) bounds
    * aggregate shared by every requested k and — when max − min <
    * [[SpanHistogramMax]] — ONE exact group-by-value histogram
    * (O(span) driver rows) answering ALL of them, so median + min +
    * max over a bounded-domain column cost 2 scans total instead of
    * ~8 counting passes per statistic. Wide domains fall back to the
    * per-k radix descent below, sharing the bounds aggregate. */
  def kthSmallestLongs(df: DataFrame, colName: String, ks: Seq[Long],
                       bounds: Option[(Long, Long)] = None): Seq[Long] = {
    require(ks.nonEmpty, "ks must be non-empty")
    ks.foreach(k => require(k >= 1, s"k=$k must be >= 1"))
    // one (min, max) aggregate up front lets the descent SKIP every
    // byte the whole column shares (bounded domains — lengths, counts,
    // scores — share 5-6 high bytes, turning 8 counting passes into
    // 2-3): a shared byte has exactly one non-empty bucket, so the
    // histogram pass would only confirm what min==max already proves.
    // Callers issuing several selects on one column (median, IQR)
    // pass `bounds` to pay for that aggregate once.
    // min/max MUST aggregate the ORIGINAL signed values (bias only
    // maps signed order to UNSIGNED byte order — a signed min() over
    // biased values would return biased(0), not biased(the minimum),
    // whenever negatives are present), then bias the results
    val (mn, mx) = bounds.getOrElse {
      val c = col(colName).cast("long")
      val mm = df.agg(min(c).as("mn"), max(c).as("mx")).head()
      require(!mm.isNullAt(0),
        s"k=${ks.max} exceeds the non-null row count")
      (mm.getLong(0), mm.getLong(1))
    }
    if (mn == mx) return ks.map(_ => mn)
    val span = mx - mn // mn < mx ⇒ overflow wraps NEGATIVE, never small
    if (span >= 0 && span < SpanHistogramMax) {
      val c = col(colName).cast("long")
      val hist = df.where(c.isNotNull).groupBy(c.as("__v"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val cum = hist.map(_._2).scanLeft(0L)(_ + _).tail
      ks.map { k =>
        val i = {
          var lo = 0; var hi = cum.length - 1
          // first index with cum(i) >= k (cum is nondecreasing)
          if (cum.isEmpty || cum.last < k) -1
          else {
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (cum(mid) >= k) hi = mid else lo = mid + 1
            }
            lo
          }
        }
        require(i >= 0, s"k=$k exceeds the non-null row count")
        hist(i)._1
      }
    } else ks.map(k => radixSelectLong(df, colName, k, mn, mx))
  }

  /** The per-k byte-descent of [[kthSmallestLong]] (wide-span path). */
  private def radixSelectLong(df: DataFrame, colName: String, k: Long,
                              mn: Long, mx: Long): Long = {
    val biased = col(colName).cast("long").bitwiseXOR(Long.MinValue)
    val base = df.where(col(colName).isNotNull).select(biased.as("__v"))
    var prefix = 0L
    var remaining = k
    var shift = 56
    var done = false
    var result = 0L
    val (mnB, mxB) = (mn ^ Long.MinValue, mx ^ Long.MinValue)
    if (mnB == mxB || k == 1L) return mnB ^ Long.MinValue
    while (shift >= 0 &&
           ((mnB >>> shift) & 0xFFL) == ((mxB >>> shift) & 0xFFL)) {
      prefix |= mnB & (0xFFL << shift)
      shift -= 8
    }
    while (shift >= 0 && !done) {
      val mask = if (shift == 56) 0L
        else -1L << (shift + 8) // bits already fixed
      val hist = base
        .where(lit(mask).bitwiseAND(col("__v")) === lit(prefix & mask))
        .groupBy(shiftRight(col("__v"), shift).bitwiseAND(0xFFL).as("__b"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var b = 0L
      var cum = 0L
      var found = false
      while (b < 256 && !found) {
        val n = hist.getOrElse(b, 0L)
        if (cum + n >= remaining) {
          prefix |= b << shift
          remaining -= cum
          // single distinct candidate left in this bucket path when its
          // count is 1 — but equal values share all bytes, so we can
          // only stop early when the bucket holds exactly one ROW
          if (n == 1L && shift > 0) {
            val only = base.where(
              lit(-1L << shift).bitwiseAND(col("__v")) === lit(prefix & (-1L << shift)))
              .head().getLong(0)
            result = only
            done = true
          }
          found = true
        } else { cum += n; b += 1 }
      }
      require(found, s"k=$k exceeds the non-null row count")
      shift -= 8
    }
    val v = if (done) result else prefix
    v ^ Long.MinValue
  }

  /** Exact median of a long column, the (n, median) of
    * [[exactOrderStatsLong]] — ≤ 16 counting passes, O(1) driver memory,
    * no global sort: odd n takes the middle order statistic, even n the
    * mean of the two middles (the SQL `median` rule, so DuckDB replays
    * it bit-exactly). n = 0 ⇒ NULL median. */
  def exactMedianLong(df: DataFrame, colName: String): (Long, Option[Double]) = {
    val (n, med, _, _) = exactOrderStatsLong(df, colName)
    (n, med)
  }

  /** (n, median, min, max) of a long column in the fewest passes the
    * domain allows: ONE (count, min, max) aggregate, then
    * [[kthSmallestLongs]] for the middle order statistic(s) — on a
    * bounded domain that is one histogram pass, so the whole
    * four-statistic profile costs 2 scans (the separate
    * median/min/max spelling paid the bounds aggregate three times
    * and up to 8 counting passes per statistic). */
  def exactOrderStatsLong(df: DataFrame, colName: String)
      : (Long, Option[Double], Option[Long], Option[Long]) = {
    val c = col(colName).cast("long")
    val s = df.agg(count(c).as("n"), min(c).as("mn"), max(c).as("mx"))
      .head()
    val n = s.getLong(0)
    if (n == 0) return (0L, None, None, None)
    val (mn, mx) = (s.getLong(1), s.getLong(2))
    val bounds = Some((mn, mx))
    val med = if (n % 2 == 1)
      kthSmallestLong(df, colName, (n + 1) / 2, bounds).toDouble
    else {
      val Seq(lo, hi) =
        kthSmallestLongs(df, colName, Seq(n / 2, n / 2 + 1), bounds)
      (lo + hi) / 2.0
    }
    (n, Some(med), Some(mn), Some(mx))
  }

  /** Split-conformal calibration quantile with finite-sample
    * correction: q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score,
    * so predicting "conforming iff score ≤ q̂" guarantees ≥ 1−α
    * coverage on exchangeable data — the distribution-free way to
    * turn ANY quality/novelty/nonconformity score into a calibrated
    * gate (a fixed threshold drifts with the corpus; the conformal
    * quantile re-derives it with a guarantee). Reports the empirical
    * hold-out coverage next to the quantile so miscalibration —
    * exchangeability broken by drift — is visible in the same row.
    *
    * α is a RATIONAL (alphaNum/alphaDen) so the rank
    * k = ⌈(n+1)(1−α)⌉ is pure integer arithmetic: the float spelling
    * ceil((n+1)*0.9) computes (n+1)·nearest(0.9) and overshoots by
    * one whole rank whenever the product lands on an integer
    * (10 × 0.9̄2̄ → ceil 10, not 9). When k > n the guarantee needs
    * q̂ = +∞; the rank is clamped to n and `clamped` says so.
    *
    * Scale shape: the quantile comes from [[kthSmallestLong]] (≤ 8
    * counting passes, no global sort, no sketch — exact at 10^12
    * rows); coverage is one aggregate over the test split. Returns
    * one row: (n_cal, k, q_hat, clamped, n_test, n_covered,
    * coverage). */
  def conformalQuantile(cal: DataFrame, test: DataFrame, scoreCol: String,
                        alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    require(alphaNum > 0 && alphaDen > alphaNum,
      "conformalQuantile: need 0 < alphaNum/alphaDen < 1")
    val sc = col(scoreCol).cast("long")
    val st = cal.agg(count(sc).as("n"), min(sc).as("mn"), max(sc).as("mx"))
      .head()
    val nCal = st.getLong(0)
    require(nCal > 0, "conformalQuantile: empty calibration split")
    val keep = (alphaDen - alphaNum).toLong
    val k0 = ((nCal + 1) * keep + alphaDen - 1) / alphaDen // ceil, exact
    val clamped = k0 > nCal
    val k = math.min(k0, nCal)
    val qHat = kthSmallestLong(cal, scoreCol, k,
      Some((st.getLong(1), st.getLong(2))))
    test.agg(
        count(when(col(scoreCol).isNotNull, lit(1))).as("n_test"),
        sum(when(col(scoreCol) <= qHat, 1L).otherwise(0L))
          .as("n_covered"))
      .select(lit(nCal).as("n_cal"), lit(k).as("k"),
        lit(qHat).as("q_hat"), lit(clamped).as("clamped"),
        col("n_test"), col("n_covered"),
        when(col("n_test") > 0,
          round(col("n_covered").cast("double") / col("n_test"), 6))
          .as("coverage"))
  }

  /** Per-group split-conformal quantiles — [[conformalQuantile]]
    * calibrated SEPARATELY for every group (source, language): one
    * global threshold over-gates clean sources and under-gates noisy
    * ones; per-group calibration gives each its own ≥ 1−α guarantee.
    * Same exact integer rank arithmetic; the order statistic comes
    * from a row_number window PARTITIONED BY GROUP (a per-group sort,
    * shuffles each group to one task's sort — legitimate at any group
    * count, never a SinglePartition global sort; the radix-select
    * path stays the single-column answer). Returns one row per group:
    * (group, n_cal, k, q_hat, clamped), ordered by group. */
  def conformalQuantileByGroup(cal: DataFrame, groupCol: String,
                               scoreCol: String, alphaNum: Int = 1,
                               alphaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaNum > 0 && alphaDen > alphaNum,
      "conformalQuantileByGroup: need 0 < alphaNum/alphaDen < 1")
    val keep = (alphaDen - alphaNum).toLong
    val base = cal.where(col(scoreCol).isNotNull)
      .select(Categorical.key(col(groupCol))
        .as("__g"), col(scoreCol).cast("long").as("__s"))
    val ranked = base.withColumn("__rn",
      row_number().over(Window.partitionBy(col("__g"))
        .orderBy(col("__s"))))
    // `div` (SQL integer division) keeps the ceil rank exact long
    // arithmetic — Column./ is DOUBLE division, which silently loses
    // the integer-boundary guarantee conformalQuantile pins
    val k0 = expr(
      s"((n_cal + 1) * $keep + ${alphaDen - 1}) div $alphaDen")
    val ks = base.groupBy(col("__g")).agg(count(lit(1)).as("n_cal"))
      .select(col("__g"), col("n_cal"),
        least(k0, col("n_cal")).as("k"),
        (k0 > col("n_cal")).as("clamped"))
    ranked.join(ks, Seq("__g"))
      .where(col("__rn") === col("k"))
      .select(col("__g").as(groupCol), col("n_cal"), col("k"),
        col("__s").as("q_hat"), col("clamped"))
      .orderBy(col(groupCol))
  }

  /** Benford first-digit conformance test — the numeric-QC anomaly
    * detector for "naturally grown" magnitude columns (prices, counts,
    * file sizes): genuine multi-scale data follows
    * P(d) = log10(1 + 1/d); fabricated, truncated, or unit-capped data
    * does not. The first digit is read from the DECIMAL RENDERING of
    * floor(x) as a bigint — never from floor(log10(x)), whose float
    * error at exact powers of ten (log10(1000.0) = 2.999…96 on some
    * libms) would mis-bucket boundary values differently per engine;
    * string-of-bigint is bit-identical everywhere, which is what lets
    * DuckDB replay the digit extraction verbatim. Rows with x < 1 or
    * NULL have no leading digit at this scale and are excluded (n_rows
    * reports the rows actually tested).
    *
    * One stateless projection + one 9-group map-side-combined count +
    * a broadcast 1-row total — shuffle is 9 rows per partition.
    * Returns per digit (digit, n, p_obs, p_exp, chi_term) rounded 6,
    * where chi_term = n_rows·(p_obs−p_exp)²/p_exp; Σ chi_term vs
    * χ²(8 dof) is the caller's gate, and MAD = mean |p_obs−p_exp| is
    * one more fold away. Digits with zero rows still appear (p_obs 0 —
    * a MISSING digit is the loudest Benford violation). */
  def benfordTest(df: DataFrame, colName: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(colName).cast("double")
    val digits = df.where(x.isNotNull && x >= 1.0)
      .select(substring(floor(x).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val all = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
      .toDF("digit", "p_exp")
    val tot = digits.agg(sum(col("n")).as("__t"))
    all.join(digits, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("p_exp"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("p_obs"),
        round(col("p_exp"), 6).as("p_exp"),
        round(col("__t") *
          (col("n").cast("double") / col("__t") - col("p_exp")) *
          (col("n").cast("double") / col("__t") - col("p_exp")) /
          col("p_exp"), 6).as("chi_term"))
      .orderBy(col("digit"))
  }

  /** Functional-dependency audit: does `detCol` determine `depCol`?
    * The data-contract discovery/validation primitive ("orderkey
    * determines custkey", "url determines domain") that catches
    * merge-corrupted joins and drifting denormalizations: a determinant
    * value mapping to MORE than one distinct dependent value is a
    * violation of the claimed FD. NULL determinants are excluded (no
    * key to determine with); NULL dependents count as a value of their
    * own (det → {NULL, x} IS a violation — two contradictory answers).
    *
    * Plan: groupBy(det) with exact count(distinct dep) — two-level
    * partial aggregation, exchange carries (det, dep) pairs already
    * deduped map-side — then ONE 1-row reduce over the per-key counts.
    * Returns (n_keys, n_violating_keys, violation_rate round 6,
    * max_distinct_dep) — the summary row a validation report embeds;
    * per-key triage is one where(n_dep > 1) away from the same
    * intermediate. */
  def fdViolations(df: DataFrame, detCol: String, depCol: String): DataFrame = {
    // the string spelling exists only to give NULL a distinct bucket;
    // for non-floating types, distinct-on-raw-value + a null flag is
    // the same count with no per-row string rendering and a narrower
    // (det, dep) distinct exchange. Floats keep the string path: their
    // value equality differs from repr equality on -0.0 vs 0.0.
    val depIsFloat = df.schema(depCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    val nd =
      if (depIsFloat)
        countDistinct(Categorical.key(col(depCol)))
      else
        countDistinct(col(depCol)) +
          max(when(col(depCol).isNull, 1L).otherwise(0L))
    val perKey = df.where(col(detCol).isNotNull)
      .groupBy(col(detCol))
      .agg(nd.as("__nd"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
      max(col("__nd")).as("max_distinct_dep"))
      .select(col("n_keys"), col("n_violating_keys"),
        round(col("n_violating_keys").cast("double") / col("n_keys"), 6)
          .as("violation_rate"),
        col("max_distinct_dep"))
  }

  /** Candidate-key discovery: for each named column expression, exact
    * distinct count, null count, and uniqueness ratio — `is_key` iff
    * every row carries a distinct non-null value. The schema-inference
    * companion to [[fdViolations]]: run it once per snapshot and a
    * silently broken primary key (dup ingest, truncated hash) shows up
    * as is_key flipping to false long before a downstream join fans
    * out. Composite keys pass a struct/concat expression under one
    * name.
    *
    * ONE aggregate over ONE scan computes all columns' metrics
    * (count-distinct expands the input #exprs-fold map-side — the
    * standard multi-distinct shape, still a single exchange of partial
    * states); the per-column rows then unpivot from the 1-row result
    * via a stateless explode — no per-column jobs, no rescans. */
  def keyCandidates(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "keyCandidates: no columns given")
    val aggs = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case ((_, c), i) => Seq(
        countDistinct(c).as(s"__d$i"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__z$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("column"), col(s"__d$i").as("n_distinct"),
        col(s"__z$i").as("n_nulls"))
    }
    one.select(col("__n"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.column").as("column"), col("__n").as("n_rows"),
        col("__e.n_distinct").as("n_distinct"),
        col("__e.n_nulls").as("n_nulls"),
        round(col("__e.n_distinct").cast("double") / col("__n"), 6)
          .as("uniq_ratio"),
        (col("__e.n_distinct") === col("__n") &&
          col("__e.n_nulls") === 0L).as("is_key"))
      .orderBy(col("column"))
  }

  /** Mass-weighted percentiles: the smallest value v with
    * Σ mass(rows ≤ v) ≥ p · total mass — "p% of the TOKENS live in
    * documents shorter than X", which is the question batch/shard
    * sizing actually asks (the count-weighted median document says
    * nothing about where the token mass sits when lengths are
    * heavy-tailed, and web corpora always are). Same scale shape as
    * [[percentileRanks]]: per-distinct-value (count, mass) collapses
    * map-side, the cumulative window runs over the O(distinct) frame,
    * and the threshold pick is a tiny probs × distinct filter-agg.
    * Integer cumulative masses keep both engines exact; the p·total
    * comparison point is one double multiply, identical cross-engine.
    * Returns (p, threshold, n_le, mass_le, mass_frac) per
    * probability. NULL values are excluded. */
  def massWeightedPercentiles(df: DataFrame, valueCol: String,
                              massCol: String,
                              probs: Seq[Double],
                              maxDistinct: Long = 1L << 22): DataFrame = {
    require(probs.nonEmpty, "at least one probability")
    require(probs.forall(p => p > 0 && p <= 1), "probs in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val perValue = df
      .where(col(valueCol).isNotNull && col(massCol).isNotNull)
      .groupBy(col(valueCol).as("value"))
      .agg(count(lit(1)).as("__n"), sum(col(massCol)).as("__m"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0) // O(distinct) frame
    val cum = perValue
      .withColumn("__cn", sum(col("__n")).over(w))
      .withColumn("__cm", sum(col("__m")).over(w))
    // totals from the PRE-window frame: max(cum mass) == sum(mass), so
    // the unpartitioned window is no longer re-evaluated under the
    // totals subtree — and the distinct-value count rides the same
    // 1-row aggregate as the CARDINALITY CONTRACT (round-5 VERDICT
    // perf-weak item): the cumulative window is bounded and safe for
    // discrete domains (lengths, counts, bucketed scores) but a
    // continuous value column makes distinct ≈ n and one task would
    // sort the corpus — that now fails LOUDLY (assert_true in the
    // plan, zero extra jobs) instead of silently degrading; pre-bin
    // continuous columns (fixed-width) before calling, or raise
    // `maxDistinct` deliberately.
    val total = perValue.agg(sum(col("__m")).as("__t"),
      count(lit(1)).as("__d"))
    import spark.implicits._
    val ps = probs.toDF("p")
    ps.crossJoin(broadcast(total))
      .where(coalesce(
        assert_true(col("__d") <= lit(maxDistinct),
          lit(s"massWeightedPercentiles: distinct($valueCol) exceeds " +
            s"the $maxDistinct cardinality contract — pre-bin the " +
            "column or raise maxDistinct")).cast("boolean"), lit(true)))
      .join(cum,
        col("__cm").cast("double") >= col("p") * col("__t").cast("double"))
      .groupBy(col("p"))
      .agg(min(struct(col("value"), col("__cn"), col("__cm"))).as("__pick"),
        first(col("__t")).as("__tt"))
      .select(col("p"), col("__pick.value").as("threshold"),
        col("__pick.__cn").as("n_le"), col("__pick.__cm").as("mass_le"),
        round(col("__pick.__cm").cast("double") /
          col("__tt").cast("double"), 6).as("mass_frac"))
      .orderBy("p")
  }

  /** CUBE data card: counts at every grouping granularity of two
    * dimensions at once — (a,b), (a,*), (*,b), (*,*) — the one-pass
    * spelling of the four GROUP BYs a composition dashboard runs
    * (Spark expands grouping sets inside a single aggregate; four
    * separate scans would read the table four times). Rolled-up
    * positions render as '<all>' and `gid` carries the grouping bits
    * (MSB = first dimension), so data NULLs and roll-up NULLs can't
    * be confused. */
  def cubeCounts(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.cube(col(aCol), col(bCol))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .select(
        coalesce(col(aCol).cast("string"), lit("<all>")).as(aCol),
        coalesce(col(bCol).cast("string"), lit("<all>")).as(bCol),
        col("gid").cast("long").as("gid"), col("n"))
      .orderBy("gid", aCol, bCol)

  /** Exact percentile ranks per DISTINCT value — score normalization
    * to the corpus's own CDF (the step before mixing quality signals
    * on different scales), without the trap spelling: a
    * `percent_rank()` window over the raw table is an unpartitioned
    * ORDER BY — one task sorts 10^12 rows. Here the table collapses to
    * (value, count) with map-side combine first, and the only ordered
    * window runs over the O(distinct) frame; rows re-join the rank by
    * value (broadcastable for bounded-cardinality scores). Matches SQL
    * `percent_rank` exactly: rank(v) = #{x < v} / (n − 1), n = 1 → 0.
    * NULL values are excluded (no rank on an unscored row). */
  def percentileRanks(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("value")).agg(count(lit(1)).as("n"))
    // O(distinct) frame: this ordered window is the POINT — it never
    // sees the raw table
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = counts.agg(sum(col("n")).as("__t"))
    counts
      .withColumn("__less", coalesce(sum(col("n")).over(w), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("value"), col("n"),
        when(col("__t") > 1,
          round(col("__less").cast("double") /
            (col("__t") - 1).cast("double"), 6))
          .otherwise(lit(0.0)).as("pct_rank"))
      .orderBy(col("value"))
  }

  /** Wald–Wolfowitz runs test over a dense position order — "is the
    * training data actually shuffled?": too FEW runs of a binary
    * property (above/below-median length, source A vs rest) in pack
    * order means sorted/clumped data (adjacent-batch correlation); too
    * MANY means an anti-correlated interleave. Under randomness the run
    * count R is normal with μ = 1 + 2·n1·n2/n and σ² =
    * 2·n1·n2·(2·n1·n2 − n) / (n²·(n−1)); |z| > 1.96 rejects at 5 %.
    *
    * `posCol` must be DENSE consecutive integers (the engine's epoch
    * order / pack offsets are; a rank pre-pass is the caller's job
    * otherwise): transitions are counted by a narrow self-join on
    * pos+1 = pos — a hash join on (pos, flag) pairs, never a global
    * ordered window. `n_pairs` is surfaced so a gapped position column
    * is observable (dense ⇒ n_pairs = n − 1), not silently
    * under-counted. NULL positions/flags are excluded (and visible via
    * n vs the caller's row count). z is NULL when σ² = 0 (all flags
    * equal — no test). All moments derive from the three integer
    * counts through fixed IEEE expression order: bit-exact in SQL. */
  def runsTest(df: DataFrame, posCol: String, flagCol: String): DataFrame = {
    val base = df
      .select(col(posCol).cast("long").as("__p"),
        col(flagCol).cast("boolean").as("__f"))
      .where(col("__p").isNotNull && col("__f").isNotNull)
    val counts = base.agg(count(lit(1)).as("n"),
      sum(when(col("__f"), 1L).otherwise(0L)).as("n1"))
    val trans = base.as("a")
      .join(base.as("b"), col("a.__p") + 1 === col("b.__p"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a.__f") =!= col("b.__f"), 1L).otherwise(0L))
          .as("__t"))
    val n = col("n").cast("double")
    val n1 = col("n1").cast("double")
    val n2 = (col("n") - col("n1")).cast("double")
    val mu = lit(1.0) + lit(2.0) * n1 * n2 / n
    val varR = (lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n)) /
      (n * n * (n - lit(1.0)))
    counts.crossJoin(trans).select(
      col("n"), col("n1"), (col("n") - col("n1")).as("n2"),
      coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
      when(col("n") > 0, coalesce(col("__t"), lit(0L)) + 1)
        .otherwise(lit(0L)).as("n_runs"),
      when(col("n") > 0, round(mu, 6)).otherwise(lit(null).cast("double"))
        .as("mu_runs"),
      when(col("n") > 1 && varR > 0,
        round(((coalesce(col("__t"), lit(0L)) + 1).cast("double") - mu) /
          sqrt(varR), 6))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Spearman rank correlation between two columns — the MONOTONIC
    * association check Pearson can't give (is the curriculum's
    * difficulty signal actually ordered by length? did the epoch
    * shuffle destroy the source ordering?): Pearson over average
    * ranks, robust to any monotone rescaling and to heavy tails.
    *
    * Rank discipline (the [[percentileRanks]] lesson): ranks come from
    * per-VALUE counts — the only ordered window runs over the
    * O(distinct) frame, never the corpus, so there is no
    * SinglePartition sort of 10¹² rows. Ties get textbook average
    * ranks, kept EXACT by doubling: r2(v) = 2·|{x < v}| + n_v + 1
    * (twice the average rank — an integer even when the average rank
    * is x.5), and scaling both rank vectors by 2 leaves Pearson
    * unchanged. Sufficient statistics accumulate as decimal(38,0)
    * like [[correlationByGroup]] — exact integers in both engines,
    * deterministic where FP streaming corr is merge-order-dependent —
    * and the final ρ derives through one fixed IEEE expression order
    * (bit-exact in SQL). Rows with a NULL on either side are excluded
    * (n is surfaced). ρ is NULL when either side is constant.
    *
    * Contract: meaningful rank frames need BOUNDED distinct values
    * (lengths, scores, bucketed signals); for a unique-per-row column
    * the O(distinct) frame IS the corpus — rank or bucket it upstream
    * first. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    def rankFrame(c: String): DataFrame = {
      val counts = base.groupBy(col(c).as("value"))
        .agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      counts.select(col("value"),
        (lit(2L) * coalesce(sum(col("__n")).over(w), lit(0L)) +
          col("__n") + lit(1L)).as("r2"))
    }
    val rx = rankFrame("__x").withColumnRenamed("r2", "__rx")
    val ry = rankFrame("__y").withColumnRenamed("r2", "__ry")
    val ranked = base
      .join(broadcast(rx), base("__x") === rx("value")).drop("value")
      .join(broadcast(ry), base("__y") === ry("value")).drop("value")
    val x = col("__rx").cast("decimal(38,0)")
    val y = col("__ry").cast("decimal(38,0)")
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
    val n = col("n").cast("decimal(38,0)")
    val cov = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val vx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val vy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    agg.select(col("n"),
      when(vx > 0 && vy > 0,
        round(cov / (sqrt(vx) * sqrt(vy)), 6)).as("spearman_rho"))
  }

  /** Kendall rank correlation (tau-b) between two columns —
    * [[spearman]]'s pair-inversion sibling: the fraction of
    * concordant minus discordant pairs, tie-corrected. More robust to
    * a few wild ranks than Spearman (each pair votes ±1 regardless of
    * rank distance) — the drift-monitor's choice for "is daily volume
    * still moving with daily reach?".
    *
    * Exactness discipline (the [[spearman]] lesson): everything
    * reduces to the O(distinct (x,y) cells) frame — cell counts are
    * exact longs, concordant/discordant mass comes from the cell-pair
    * join with x1 < x2 (each unordered pair with distinct x counted
    * once; equal-x pairs are ties by definition), products accumulate
    * as decimal(38,0), and tau-b derives through one fixed IEEE
    * expression. No FP enters until the final division — bit-exact in
    * SQL. Rows with a NULL side are excluded (n is surfaced). NULL
    * tau when either side is constant.
    *
    * Contract: the cell-pair join is O(cells²) — meaningful inputs
    * have BOUNDED distinct values (daily aggregates, bucketed
    * signals); bucket unique-per-row columns upstream first. */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val cells = base.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__c"))
    val dec = "decimal(38,0)"
    val a = cells.select(col("__x").as("x1"), col("__y").as("y1"),
      col("__c").cast(dec).as("c1"))
    val b = cells.select(col("__x").as("x2"), col("__y").as("y2"),
      col("__c").cast(dec).as("c2"))
    val cd = a.join(b, col("x1") < col("x2"))
      .agg(
        sum(when(col("y1") < col("y2"), col("c1") * col("c2"))
          .otherwise(lit(0).cast(dec))).as("__C"),
        sum(when(col("y1") > col("y2"), col("c1") * col("c2"))
          .otherwise(lit(0).cast(dec))).as("__D"))
    val tx = cells.groupBy(col("__x"))
      .agg(sum(col("__c")).cast(dec).as("__nx"))
      .agg(sum((col("__nx") * (col("__nx") - 1)) / 2).cast(dec).as("__n1"),
        sum(col("__nx")).cast(dec).as("__n"))
    val ty = cells.groupBy(col("__y"))
      .agg(sum(col("__c")).cast(dec).as("__ny"))
      .agg(sum((col("__ny") * (col("__ny") - 1)) / 2).cast(dec).as("__n2"))
    val joined = cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
    val n0 = (col("__n") * (col("__n") - 1) / 2).cast("double")
    val c = coalesce(col("__C"), lit(0)).cast("double")
    val dd = coalesce(col("__D"), lit(0)).cast("double")
    val den = sqrt((n0 - col("__n1").cast("double")) *
      (n0 - col("__n2").cast("double")))
    joined.select(col("__n").cast("long").as("n"),
      coalesce(col("__C"), lit(0)).cast("long").as("n_concordant"),
      coalesce(col("__D"), lit(0)).cast("long").as("n_discordant"),
      col("__n1").cast("long").as("tie_pairs_x"),
      col("__n2").cast("long").as("tie_pairs_y"),
      when(den > 0, round((c - dd) / den, 6)).as("tau_b"),
      // Goodman–Kruskal gamma: the tie-IGNORING sibling — only
      // definite pairs vote, so heavily-tied ordinal data (buckets,
      // grades) isn't dragged toward 0 the way tau-b is
      when(c + dd > 0, round((c - dd) / (c + dd), 6)).as("gamma"))
  }

  /** Hill tail-index estimator over the top-k order statistics of
    * `valueCol` — HOW heavy is the heavy tail (the [[graft.operators.TextAnalysis.zipfFit]]
    * sibling for any numeric column): α̂ = k / Σᵢ₌₁..k ln(xᵢ/x₍k₊₁₎)
    * over the k largest values. α below ~2 means infinite variance —
    * mean-based shard/batch sizing is garbage and the
    * [[massWeightedPercentiles]] view is the one to trust; the number
    * that tells you BEFORE a 100 TB pack run whether a handful of
    * giant documents will dominate every shard.
    *
    * Scale shape: one TakeOrderedAndProject fold (every task keeps a
    * local top-(k+1); no global sort) and driver arithmetic on ≤ k+1
    * doubles — the metadata-sized-collect contract, require-capped.
    * The ln-sum accumulates in descending-value order; the SQL oracle
    * replays the same order via an ordered window cumsum, so the
    * doubles agree. Returns (k, n_used, x_tail, hill_alpha); alpha is
    * NULL when fewer than k+1 positive values exist or the top k+1
    * are all equal (no tail information — surfaced, not faked). */
  def hillTailIndex(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    require(k > 0 && k <= 10000, "hillTailIndex: k in [1, 10000]")
    val top = df
      .where(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(valueCol).cast("double").as("__x"))
      .orderBy(desc("__x")).limit(k + 1)
      .collect().map(_.getDouble(0))
    import spark.implicits._
    if (top.length < k + 1)
      Seq((k.toLong, top.length.toLong,
          Option.empty[Double], Option.empty[Double]))
        .toDF("k", "n_used", "x_tail", "hill_alpha")
    else {
      val xTail = top.last
      var s = 0.0
      var i = 0
      while (i < k) { s += math.log(top(i) / xTail); i += 1 }
      val alpha: Option[Double] = if (s > 0) Some(round6(k / s)) else None
      Seq((k.toLong, top.length.toLong, Option(xTail), alpha))
        .toDF("k", "n_used", "x_tail", "hill_alpha")
    }
  }

  /** Column type inference over STRING columns — the discovery half of
    * the reference's dtype rules (it VALIDATES a declared type; this
    * proposes one for undocumented ingest): per column, how many
    * non-null cells parse as bigint / double / date / boolean, and the
    * type suggested by the strictest ladder rung that covers every
    * non-null cell. Counts come from ONE aggregate pass over all
    * columns (the [[keyCandidates]] fused-scan shape, unpivoted by a
    * stateless explode). Numeric rungs are REGEX-anchored, not
    * try_cast — engines disagree on coercions (DuckDB truncates
    * '3.14' to BIGINT 3; Spark refuses), regex classes don't; dates
    * regex-gate the shape then try_cast for calendar validity
    * ('2024-13-40' must fail), where both engines agree on NULL.
    * Returns (column, n_rows, n_null, n_bigint, n_double, n_date,
    * n_bool, suggested); suggested is 'empty' when no non-null cells
    * exist. */
  /** Rare-category detector — the complement of [[heavyHitters]]: the
    * categories whose share falls below `minShare` are where typos,
    * schema drift, and injection live (a mis-labeled source with 12
    * rows hides inside a 10¹²-row table forever unless something looks
    * at the TAIL of the frequency distribution). One map-side-combined
    * aggregate; NULL categories form '<null>'; share derives from
    * exact integer counts. Returns every category with (n, share,
    * rare) — the full spectrum, flag included, so the caller sees the
    * boundary instead of a silently-filtered list. */
  def rareCategories(df: DataFrame, catCol: String,
                     minShare: Double): DataFrame = {
    require(minShare > 0 && minShare < 1, "minShare in (0, 1)")
    val counts = df
      .groupBy(Categorical.key(col(catCol)).as("category"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("category"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
      .withColumn("rare", col("share") < minShare)
      .orderBy(col("category"))
  }

  /** Winsorization — clip `valueCol` to its [pLo, pHi] quantile fence
    * so downstream means/regressions aren't owned by a handful of
    * outliers (the TRANSFORM sibling of [[robustOutliers]], which only
    * flags): returns every row with (idCol, valueCol, clipped,
    * was_clipped). `exact = true` uses exact `percentile` (the oracle
    * tier); `exact = false` uses the bounded-memory
    * `approx_percentile` sketch (the 10¹²-row tier). Thresholds come
    * from ONE aggregate and ride the projection as literals — the
    * clip itself is a stateless zero-shuffle scan. Default
    * probabilities are DYADIC (1/16, 15/16) so exact interpolation on
    * integer inputs is bit-identical cross-engine. NULL values pass
    * through with a NULL flag. */
  def winsorize(df: DataFrame, idCol: String, valueCol: String,
                pLo: Double = 0.0625, pHi: Double = 0.9375,
                exact: Boolean = true): DataFrame = {
    require(pLo >= 0 && pLo < pHi && pHi <= 1,
      s"winsorize: need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    val fn = if (exact) "percentile" else "approx_percentile"
    val th = df.where(col(valueCol).isNotNull)
      .agg(expr(s"$fn(CAST($valueCol AS DOUBLE), ${pLo}D)").as("__lo"),
        expr(s"$fn(CAST($valueCol AS DOUBLE), ${pHi}D)").as("__hi"))
      .head()
    val v = col(valueCol).cast("double")
    if (th.isNullAt(0)) // empty input: passthrough shape, nothing clips
      return df.select(col(idCol), col(valueCol),
        v.as("clipped"), lit(null).cast("boolean").as("was_clipped"))
    val lo = th.getDouble(0)
    val hi = th.getDouble(1)
    df.select(col(idCol), col(valueCol),
      when(v.isNull, lit(null).cast("double"))
        .when(v < lo, lit(lo)).when(v > hi, lit(hi))
        .otherwise(v).as("clipped"),
      when(v.isNull, lit(null).cast("boolean"))
        .otherwise(v < lo || v > hi).as("was_clipped"))
  }

  def typeInference(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "typeInference: no columns given")
    val intRe = "^[+-]?[0-9]+$"
    val dblRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
    val dateRe = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val aggs = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case (name, i) =>
        val c = col(name).cast("string")
        Seq(
          sum(flag(c.isNull)).as(s"__z$i"),
          sum(flag(c.rlike(intRe))).as(s"__i$i"),
          sum(flag(c.rlike(dblRe))).as(s"__f$i"),
          sum(flag(c.rlike(dateRe) &&
            expr(s"try_cast(`$name` as date)").isNotNull)).as(s"__d$i"),
          sum(flag(lower(c).isin("true", "false"))).as(s"__b$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.zipWithIndex.map { case (name, i) =>
      struct(lit(name).as("column"), col(s"__z$i").as("n_null"),
        col(s"__i$i").as("n_bigint"), col(s"__f$i").as("n_double"),
        col(s"__d$i").as("n_date"), col(s"__b$i").as("n_bool"))
    }
    one.select(col("__n"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.column").as("column"), col("__n").as("n_rows"),
        col("__e.n_null").as("n_null"), col("__e.n_bigint").as("n_bigint"),
        col("__e.n_double").as("n_double"), col("__e.n_date").as("n_date"),
        col("__e.n_bool").as("n_bool"))
      .withColumn("__nn", col("n_rows") - col("n_null"))
      .withColumn("suggested",
        when(col("__nn") === 0, lit("empty"))
          .when(col("n_bigint") === col("__nn"), lit("bigint"))
          .when(col("n_double") === col("__nn"), lit("double"))
          .when(col("n_date") === col("__nn"), lit("date"))
          .when(col("n_bool") === col("__nn"), lit("boolean"))
          .otherwise(lit("string")))
      .drop("__nn")
      .orderBy(col("column"))
  }

  /** Co-missingness patterns: which columns are null TOGETHER. Per-column
    * null counts (the A1/A7 profile) can't distinguish "two independent
    * 5% holes" from "one upstream join dropping both fields on the same
    * rows" — the pattern histogram can, and it is the standard MCAR/MAR
    * triage view. Each row's pattern is a '0'/'1' string in the given
    * column order (1 = NULL); ONE map-side-combined aggregate groups by
    * it — at most 2^k patterns reach the shuffle, and the share
    * denominator is re-aggregated from the already-collapsed counts
    * frame, never a second scan. Keep k modest (≤ 20 columns) — the
    * pattern space, not the row count, bounds the output. */
  def missingnessPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.size <= 20,
      "missingnessPatterns wants 1..20 columns (pattern space is 2^k)")
    val pattern = concat(
      cols.map(c => when(col(c).isNull, lit("1")).otherwise(lit("0"))): _*)
    val cnt = df.groupBy(pattern.as("pattern")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("__t"))
    cnt.crossJoin(broadcast(tot))
      .select(col("pattern"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
      .orderBy(col("n").desc, col("pattern"))
  }

  /** Per-column categorical diversity profile: distinct count, Shannon
    * entropy (nats), evenness H/ln(distinct), and the Simpson index
    * 1 − Σp² — the "is this column collapsing to one value / is the mix
    * balanced" verdict that count-distinct alone can't give (a column
    * can keep its cardinality while 99.9% of mass moves to one value).
    * One O(categories) count aggregate per column, then the identities
    * H = ln N − (Σ nᵢ ln nᵢ)/N and Σp² = (Σ nᵢ²)/N² keep everything a
    * second tiny aggregate over the collapsed frame — rows are touched
    * once per column, statistics never see row-level data. NULL buckets
    * to '<null>'. */
  def entropyProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val frames = cols.map { c =>
      val cnt = df
        .groupBy(Categorical.key(col(c)).as("k"))
        .agg(count(lit(1)).as("n"))
      val nd = col("__n").cast("double")
      cnt.agg(sum(col("n")).as("__n"),
          count(lit(1)).as("__k"),
          sum(col("n").cast("double") * log(col("n").cast("double")))
            .as("__nln"),
          sum(col("n").cast("double") * col("n").cast("double")).as("__n2"))
        .select(lit(c).as("column"), col("__n").as("n"),
          col("__k").as("n_distinct"),
          round(log(nd) - col("__nln") / nd, 6).as("entropy"),
          when(col("__k") > 1,
            round((log(nd) - col("__nln") / nd) /
              log(col("__k").cast("double")), 6)).as("evenness"),
          round(lit(1.0) - col("__n2") / (nd * nd), 6).as("simpson"))
    }
    frames.reduce(_.union(_)).orderBy("column")
  }

  /** KMV (k-minimum-values) distinct estimate: keep the k smallest
    * hash values of the column; the k-th smallest normalized hash R
    * estimates distinct ≈ (k−1)/R (Bar-Yossef et al. 2002) — the
    * mergeable bottom-k sketch behind set-size/overlap estimation,
    * surfaced next to the exact count so the error is observable.
    * The sketch is a TakeOrdered over DISTINCT hashes — O(k) driver
    * state, no global sort materialized; partial top-k runs map-side.
    * The hash is the repo's overflow-safe Knuth mix mod 2^32 (the
    * weightedSample oracle spelling) so plain SQL replicates it
    * exactly; keys are pre-reduced mod 2^32 first. */
  def kmvDistinct(df: DataFrame, colName: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val spark = df.sparkSession
    val m = 4294967296L
    val aHi = 40503L; val aLo = 31153L // 2654435761 = aHi*65536 + aLo
    val u = pmod(col(colName).cast("long"), lit(m))
    val h = pmod(pmod(u * aHi, lit(m)) * 65536L + u * aLo, lit(m))
    // the distinct-hash frame feeds TWO actions (bottom-k and the exact
    // count); pinned once so the corpus scans once — O(distinct)·8 B
    // resident vs a second full scan, the bm25 decision-pass trade —
    // and released before returning
    val hashes = df.where(col(colName).isNotNull)
      .select(h.as("h")).distinct().localCheckpoint()
    val bottom = hashes.orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0))
    val exact = hashes.count() // distinct hashes == KMV's own universe
    graft.operators.Packing.releaseOffsets(hashes)
    import spark.implicits._
    if (bottom.length < k)
      // fewer distinct hashes than k: the sketch IS the exact set
      return Seq((k, None: Option[Long], exact.toDouble, exact, 0.0))
        .toDF("k", "kth_hash", "est_distinct", "exact_distinct", "rel_error")
    val kth = bottom.last
    val est = (k - 1).toDouble * m.toDouble / kth.toDouble
    Seq((k, Some(kth), round6(est), exact,
      round6(math.abs(est - exact.toDouble) / exact.toDouble)))
      .toDF("k", "kth_hash", "est_distinct", "exact_distinct", "rel_error")
  }

  /** Pairwise Pearson correlation matrix over numeric columns from ONE
    * sufficient-statistics aggregate — the redundant-feature /
    * derived-column detector for quality-signal panels (a 0.99 pair
    * means one signal is a rescaling of the other and its weight in a
    * filter ensemble is an illusion). Per pair (i<j): n, Σx, Σy, Σxy,
    * Σx², Σy² restricted to rows where BOTH sides are non-null
    * (pairwise deletion), all in one map-side-combined pass — 6·C(k,2)
    * agg expressions, zero extra scans. The textbook spelling
    * r = (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is computed
    * driver-side so SQL replicates it term for term; degenerate pairs
    * (zero variance, n < 2) yield NULL. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val spark = df.sparkSession
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val exprs = pairs.zipWithIndex.flatMap { case ((a, b), p) =>
      val both = col(a).isNotNull && col(b).isNotNull
      val x = when(both, col(a).cast("double")).otherwise(lit(0.0))
      val y = when(both, col(b).cast("double")).otherwise(lit(0.0))
      Seq(
        sum(when(both, 1L).otherwise(0L)).as(s"__n$p"),
        sum(x).as(s"__sx$p"), sum(y).as(s"__sy$p"),
        sum(x * y).as(s"__sxy$p"),
        sum(x * x).as(s"__sxx$p"), sum(y * y).as(s"__syy$p"))
    }
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    import spark.implicits._
    pairs.zipWithIndex.map { case ((a, b), p) =>
      val n = row.getAs[Long](s"__n$p")
      val sx = row.getAs[Double](s"__sx$p"); val sy = row.getAs[Double](s"__sy$p")
      val sxy = row.getAs[Double](s"__sxy$p")
      val sxx = row.getAs[Double](s"__sxx$p"); val syy = row.getAs[Double](s"__syy$p")
      val corr =
        if (n < 2) None
        else {
          val vx = n * sxx - sx * sx
          val vy = n * syy - sy * sy
          if (vx <= 0.0 || vy <= 0.0) None
          else Some(round6((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))))
        }
      (a, b, n, corr)
    }.toSeq.toDF("col_a", "col_b", "n", "pearson_r")
      .orderBy("col_a", "col_b")
  }

  /** Mean reciprocal rank at k — the retrieval-eval companion to
    * [[ndcgAtK]] for the "first relevant hit" regime (dedup candidate
    * lookup, hard-negative mining audits) where graded gain is
    * irrelevant and ONLY the first hit's position matters. Per group:
    * rank by (score desc, id) — a TOTAL order, so ranks are
    * deterministic under ties — and take max(1/rank) over relevant
    * rows in the top k (the first relevant row has the largest
    * reciprocal). Groups with no relevant hit in the top k contribute
    * 0 (the standard convention). One window + one aggregate; the
    * window partitions by group, never SinglePartition. */
  def mrrAtK(df: DataFrame, groupCol: String, idCol: String,
             scoreCol: String, relCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(max(when(col(relCol) && col("__rk") <= k,
        lit(1.0) / col("__rk"))).as("__rr"))
      .agg(count(lit(1)).as("n_groups"),
        round(avg(coalesce(col("__rr"), lit(0.0))), 6).as("mrr"))
  }

  /** Precision@k / recall@k per group — the coverage half of the
    * retrieval-eval pair ([[mrrAtK]] scores the first hit, this scores
    * the whole cut-off). hits = relevant rows ranked ≤ k under the
    * same total order; recall is NULL for groups with zero relevant
    * rows (0/0, not 0). Same plan shape: one group-partitioned window,
    * one aggregate. */
  def precisionRecallAtK(df: DataFrame, groupCol: String, idCol: String,
                         scoreCol: String, relCol: String,
                         k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col(relCol), 1L).otherwise(0L)).as("n_rel"),
        sum(when(col(relCol) && col("__rk") <= k, 1L).otherwise(0L))
          .as("hits"))
      .select(col(groupCol), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / k, 6).as("precision_at_k"),
        when(col("n_rel") > 0,
          round(col("hits").cast("double") / col("n_rel").cast("double"), 6))
          .as("recall_at_k"))
      .orderBy(groupCol)
  }

  /** Binary-classifier confusion matrix + derived metrics from ONE
    * map-side-combined aggregate — the acceptance gate for any
    * heuristic filter that claims to approximate a ground-truth label
    * (quality classifier vs curated label, cheap langid vs expensive
    * model). Rows where either side is NULL are counted out separately
    * (n_null) rather than silently folded into a cell. Precision /
    * recall / F1 are NULL when their denominator is 0. */
  def confusionStats(df: DataFrame, predCol: String,
                     labelCol: String): DataFrame = {
    val p = col(predCol); val l = col(labelCol)
    val both = p.isNotNull && l.isNotNull
    df.agg(
        sum(when(both && p && l, 1L).otherwise(0L)).as("tp"),
        sum(when(both && p && !l, 1L).otherwise(0L)).as("fp"),
        sum(when(both && !p && l, 1L).otherwise(0L)).as("fn"),
        sum(when(both && !p && !l, 1L).otherwise(0L)).as("tn"),
        sum(when(both, 0L).otherwise(1L)).as("n_null"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"), col("n_null"),
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 6)
          .as("accuracy"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0 &&
          col("tp") > 0,
          round(lit(2.0) * (col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double")) *
            (col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double")) /
            (col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double") +
              col("tp").cast("double") /
                (col("tp") + col("fn")).cast("double")), 6)).as("f1"))
  }

  /** One-hop association rules a → b between two categorical columns:
    * support P(a∧b), confidence P(b|a), lift P(a∧b)/(P(a)P(b)) — the
    * "is this pairing real or just two big marginals" read that raw
    * co-occurrence counts (q_rule_cooccur) can't give. The pairs and
    * both margins are the [[Categorical.table]], the total is summed
    * from its pairs, and the margins broadcast back onto the pairs.
    * Rules below `minSupport` are pruned AFTER the margins are built
    * so the denominators stay exact. */
  def associationRules(df: DataFrame, aCol: String, bCol: String,
                       minSupport: Double = 0.0): DataFrame = {
    val Categorical.Table(pairs, na, nb) = Categorical.table(df, aCol, bCol)
    val nab = col("__n").cast("double")
    pairs
      .join(broadcast(na), "__a").join(broadcast(nb), "__b")
      .crossJoin(broadcast(pairs.agg(sum("__n").as("n"))))
      .select(col("__a").as("a"), col("__b").as("b"), col("__n").as("n_ab"),
        round(nab / col("n").cast("double"), 6).as("support"),
        round(nab / col("__na").cast("double"), 6).as("confidence"),
        round(nab * col("n").cast("double") /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("lift"))
      .where(col("support") >= minSupport)
      .orderBy("a", "b")
  }

  /** Schema drift between two snapshots of the same feed: for every
    * column present in either frame, is it added / removed /
    * type_changed / null_shift / unchanged — the upstream-contract
    * check that catches "the exporter started writing floats into the
    * count field" BEFORE a week of data is ingested under the wrong
    * type. Built on [[typeInference]] (ONE fused regex-count aggregate
    * per side over string-cast values — so it works on raw CSV/JSON
    * string feeds where the Spark schema itself says nothing), joined
    * full-outer on column name: O(columns) rows move, never data.
    *
    * `type_changed` = the suggested type differs; `null_shift` = same
    * type but the null RATE moved by more than `nullShiftTol` (an
    * upstream join starting to drop a field shows here first);
    * rates are round-6 so the comparison — and the SQL replica — is
    * bit-stable. Columns empty on both sides are 'unchanged' (empty =
    * empty). */
  def schemaDrift(oldDf: DataFrame, newDf: DataFrame,
                  nullShiftTol: Double = 0.05): DataFrame = {
    require(nullShiftTol >= 0, "nullShiftTol must be non-negative")
    val o = typeInference(oldDf, oldDf.columns.toIndexedSeq)
      .select(col("column"),
        col("suggested").as("old_type"),
        round(col("n_null").cast("double") /
          greatest(col("n_rows"), lit(1L)).cast("double"), 6)
          .as("old_null_rate"))
    val n = typeInference(newDf, newDf.columns.toIndexedSeq)
      .select(col("column"),
        col("suggested").as("new_type"),
        round(col("n_null").cast("double") /
          greatest(col("n_rows"), lit(1L)).cast("double"), 6)
          .as("new_null_rate"))
    o.join(n, Seq("column"), "full_outer")
      .withColumn("status",
        when(col("old_type").isNull, lit("added"))
          .when(col("new_type").isNull, lit("removed"))
          .when(col("old_type") =!= col("new_type"), lit("type_changed"))
          .when(abs(col("new_null_rate") - col("old_null_rate"))
            > nullShiftTol, lit("null_shift"))
          .otherwise(lit("unchanged")))
      .select("column", "status", "old_type", "new_type",
        "old_null_rate", "new_null_rate")
      .orderBy("column")
  }

  /** Poisson(1) cumulative thresholds on a 2^32 integer lattice:
    * floor(P(X ≤ k) · 2^32) for k = 0..8 — the online-bootstrap weight
    * quantizer shared by [[bootstrapMeans]] and its SQL oracle (integer
    * compares, so the two engines cannot disagree in the last ulp). */
  private val poissonCdf32: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L,
    4292415291L, 4294609777L, 4294923276L, 4294962463L)

  /** Online (Poisson) bootstrap of the mean — the confidence-interval
    * machinery that works at 10¹² rows: classic resampling indexes into
    * the dataset B times (impossible distributed), but Poisson(1)
    * weights per (row, replicate) are i.i.d. ≈ multinomial resampling
    * (Oza & Russell 2001's online bootstrap), need ONE pass, and here
    * the weight is a deterministic hash of (id, replicate, seed) — so
    * the "resamples" are reproducible on any cluster size, under
    * retries, and in a SQL oracle. Returns per replicate b:
    * (b, n_eff = Σw, boot_mean = Σw·x / Σw, round-6) — the caller (or
    * [[bootstrapCI]]) turns the B means into a CI.
    *
    * Scale shape: explode ×B (B ≈ 32–200, the bootstrap literature's
    * range), ONE map-side-combined aggregate to B groups — B×partitions
    * shuffle rows total. Weights: u = overflow-safe multiplicative hash
    * of (id, b, seed) on the 2^32 lattice (`hashKey = false`, the
    * SQL-replicable mode) or xxhash64 (`hashKey = true`, production);
    * u → w by the [[poissonCdf32]] integer fence (w capped at 9,
    * P ≈ 10⁻⁷). Integer-valued x keeps Σw·x exact in double, so
    * boot_mean is bit-stable regardless of summation order. NULL
    * values are excluded (their id still draws — absence changes no
    * other row's weight). */
  def bootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
                     nBoot: Int = 32, seed: Long = 0L,
                     hashKey: Boolean = true): DataFrame = {
    require(nBoot > 0 && nBoot <= 4096, "nBoot in 1..4096")
    val m = 4294967296L
    val fanned = df.where(col(valueCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(valueCol).cast("double").as("__x"))
      .withColumn("b", explode(sequence(lit(0), lit(nBoot - 1))))
    val u: Column =
      if (hashKey) pmod(xxhash64(col("__id"), col("b"), lit(seed)), lit(m))
      else {
        // a bare multiplicative mix is NOT enough here: replicate b
        // enters the low bits, and Lehmer-style lattices map nearby
        // inputs to nearby outputs — all B "resamples" come out nearly
        // identical. A 32-bit xor-shift finalizer (lowbias32-family
        // constants, every intermediate < 2^63 so the arithmetic is
        // exact in BIGINT on both engines) breaks the lattice; SQL
        // replica: xor(h, h >> s) and the same two odd multipliers.
        val k0 = pmod(
          pmod(col("__id").cast("long"), lit(2147483648L)) * lit(4096L) +
            col("b").cast("long") + lit(java.lang.Math.floorMod(seed, m)) *
            lit(81L), lit(m))
        def xs(h: Column, s: Int): Column = h.bitwiseXOR(shiftright(h, s))
        val h1 = pmod(xs(k0, 16) * lit(569557677L), lit(m))
        val h2 = pmod(xs(h1, 15) * lit(1935933847L), lit(m))
        xs(h2, 15)
      }
    val w = poissonCdf32.zipWithIndex.foldRight(
        lit(poissonCdf32.size): Column) { case ((t, k), rest) =>
      when(u < t, lit(k)).otherwise(rest)
    }.cast("long")
    fanned.withColumn("__w", w)
      .groupBy(col("b"))
      .agg(sum(col("__w")).as("n_eff"),
        round(sum(col("__w") * col("__x")) /
          sum(col("__w")).cast("double"), 6).as("boot_mean"))
      .orderBy(col("b"))
  }

  /** Two-sample online bootstrap of the DIFFERENCE in means — "is
    * src0 really longer than src2, or is that noise": per replicate
    * b, both groups' Poisson-bootstrap means (independent draws —
    * the weight is a hash of the row's own id, and the groups'
    * id sets are disjoint) and their delta; the B deltas are the
    * bootstrap distribution of the gap, and a percentile fence that
    * excludes 0 is the significance readout with NO normality or
    * equal-variance assumption (the Welch t's small-n/skewed failure
    * modes are exactly where corpus stats live). Same one-pass,
    * cluster-size-independent machinery as [[bootstrapMeans]].
    * Returns (b, mean_a, mean_b, delta). */
  def bootstrapDelta(df: DataFrame, idCol: String, valueCol: String,
                     groupCol: String, groupA: String, groupB: String,
                     nBoot: Int = 32, seed: Long = 0L,
                     hashKey: Boolean = true): DataFrame = {
    val a = bootstrapMeans(df.where(col(groupCol) === groupA), idCol,
        valueCol, nBoot, seed, hashKey)
      .select(col("b"), col("boot_mean").as("mean_a"))
    val b = bootstrapMeans(df.where(col(groupCol) === groupB), idCol,
        valueCol, nBoot, seed, hashKey)
      .select(col("b"), col("boot_mean").as("mean_b"))
    a.join(b, Seq("b"))
      .withColumn("delta", round(col("mean_a") - col("mean_b"), 6))
      .orderBy(col("b"))
  }

  /** Percentile CI from [[bootstrapMeans]]: collect the B means
    * (B rows — driver-bounded by construction), sort, and interpolate
    * the (lo, hi) percentile fence the classic way (linear between
    * order statistics). Returns one row: (n_boot, mean_of_means,
    * ci_lo, ci_hi). */
  def bootstrapCI(df: DataFrame, idCol: String, valueCol: String,
                  nBoot: Int = 32, lo: Double = 0.025, hi: Double = 0.975,
                  seed: Long = 0L, hashKey: Boolean = true): DataFrame = {
    require(lo >= 0 && lo < hi && hi <= 1, "need 0 <= lo < hi <= 1")
    val spark = df.sparkSession
    val means = bootstrapMeans(df, idCol, valueCol, nBoot, seed, hashKey)
      .where(col("boot_mean").isNotNull)
      .select("boot_mean").collect().map(_.getDouble(0)).sorted
    def pct(p: Double): Option[Double] =
      if (means.isEmpty) None
      else {
        val pos = p * (means.length - 1)
        val i = pos.toInt
        val frac = pos - i
        val v = if (i + 1 < means.length)
          means(i) * (1 - frac) + means(i + 1) * frac
        else means(i)
        Some(round6(v))
      }
    val avg =
      if (means.isEmpty) None
      else Some(round6(means.sum / means.length))
    import spark.implicits._
    Seq((means.length, avg, pct(lo), pct(hi)))
      .toDF("n_boot", "mean_of_means", "ci_lo", "ci_hi")
  }
}
