package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.round6

/** Quality-ranked corpus selection under a global token budget: walk
  * the documents from best to worst score and keep them until the
  * budget fills — "take the best N tokens", the standard final cut of a
  * training-data pipeline (quality-classifier ranking → fixed token
  * target).
  *
  * The global walk is a prefix sum, NOT a sort-and-scan: the naive
  * `sum(cost) OVER (ORDER BY score DESC)` collapses the corpus through
  * one SinglePartition window task. This reuses
  * [[Packing.globalOffsets]]'s two-level spelling (range-partition by
  * the rank key → per-partition totals → O(partitions) driver scan →
  * broadcast back), so every stage stays parallel and exact past 2^53
  * total tokens.
  *
  * Selection rule: a document is kept iff the budget was not already
  * full when its turn came (exclusive prefix sum < budget) — the
  * boundary document crossing the budget line IS kept, so the selection
  * is never empty for a positive budget and total kept cost is
  * < budget + max single cost.
  *
  * Reference scope: engine extension; the reference validates rows and
  * has no corpus-selection stage.
  */
object Selection {

  /** @param df       corpus; must carry `idCol` (unique), `costCol`,
    *                 and the columns `score` reads
    * @param idCol    unique document id
    * @param costCol  per-document token count (null counts 0)
    * @param score    quality score — HIGHER is better; ties broken by
    *                 ascending id. NULL scores rank WORST (after every
    *                 real score): an unscored document must never
    *                 consume budget ahead of a scored one
    * @param budget   global token budget (> 0)
    * @param offsets precomputed best-first offsets frame (the
    *                [[Packing.globalOffsets]] result for
    *                `orderBy = (-score, id)`) to share across consumers;
    *                when created internally its checkpoint blocks live
    *                until [[Packing.releaseOffsets]] — pass one in and
    *                release it after the LAST action, like
    *                [[Packing.concatChunk]]
    * @return the kept rows of `df` (all original columns) plus
    *         `cum_before` — the exact number of tokens already taken by
    *         strictly better-ranked documents
    */
  def tokenBudget(df: DataFrame, idCol: String, costCol: String,
                  score: Column, budget: Long,
                  offsets: Option[DataFrame] = None): DataFrame = {
    require(budget > 0, "budget must be positive")
    // ascending walk on (-score, id) = best-first; offsets frame is
    // narrow (id, cost, offset). A raw `score * -1` would put NULL
    // scores FIRST (ascending sorts nulls first) — i.e. hand unscored
    // docs the budget — so nulls are pinned past every real score.
    val worst = lit(Double.MaxValue)
    val offs = offsets.getOrElse(Packing.globalOffsets(df, idCol, costCol,
      orderBy = Seq(coalesce(score * lit(-1), worst), col(idCol))))
    val kept = offs.where(col("offset") < budget)
      .select(col(idCol), col("offset").as("cum_before"))
    // narrow kept-id frame joins back to the full-width corpus; at a
    // selective budget AQE broadcasts it, otherwise it is an id-keyed
    // hash join — the payload shuffles at most once
    df.join(kept, Seq(idCol))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein
    * 1998): greedily pick k vectors maximizing
    * λ·rel(v) − (1−λ)·max_{s ∈ selected} cos(v, s) — the
    * diversity-aware sampler that builds an eval set which COVERS the
    * relevant region instead of stacking k near-duplicates of the
    * single most relevant document (pure top-k by relevance does
    * exactly that on any corpus with a dense cluster; pure diversity
    * is [[graft.operators.Similarity.kCenters]]). Relevance is cosine
    * to `query`. Exactly k bounded driver-side jobs: per step ONE
    * TakeOrdered(1) scan with the selected vectors riding the plan as
    * literals (`greatest` of codegen'd cosines — the kCenters
    * discipline; the corpus never joins or shuffles), already-selected
    * ids excluded explicitly. Bit-stable dimension-order cosines make
    * the (score DESC, id ASC) pick — and hence the whole selected
    * set — deterministic and SQL-replayable by unrolled CTEs. Returns
    * (step, idCol, score); step 1 is the pure-relevance argmax. */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
                query: Array[Float], k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    def cos(a: Column, v: Seq[Float]): Column =
      graft.functions.VectorExpressions.cosine(a, typedLit(v))
    val rel = cos(col(vecCol), query.toSeq)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val penalty: Column =
        if (vecs.isEmpty) lit(0.0)
        else vecs.map(v => cos(col(vecCol), v)).reduce(greatest(_, _))
      val score = lit(lambda) * rel - lit(1 - lambda) * penalty
      val rows = df
        .where(!col(idCol).isin(picked.toSeq.map(_._2): _*))
        .select(col(idCol).cast("long").as("__id"), score.as("__s"),
          col(vecCol).as("__v"))
        .where(col("__s").isNotNull)
        .orderBy(desc("__s"), col("__id"))
        .limit(1).collect()
      if (rows.isEmpty) exhausted = true // k > scorable pool: return what exists
      else {
        val chosen = rows(0)
        picked += ((step.toLong, chosen.getLong(0), chosen.getDouble(1)))
        vecs += chosen.getSeq[Float](2)
        step += 1
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    picked.toSeq.map { case (s, id, sc) => (s, id, round6(sc)) }
      .toDF("step", idCol, "score")
  }

  /** 2-D Pareto frontier (skyline), maximizing both columns: a row
    * survives iff NO other row is ≥ in both dimensions and > in one —
    * "the best document at every length budget", the selection view a
    * single blended score can't give (a blend picks ONE trade-off
    * point; the frontier hands the data buyer the whole menu).
    * Dominance decomposed into two window-free checks: per distinct x,
    * the group max of y (dominates same-x rows with smaller y), and
    * the strict-prefix running max of those group maxes in x-desc
    * order (dominates rows with any larger-x, ≥-y witness). Returns
    * the frontier rows (idCol, xCol, yCol) ordered x DESC, y DESC, id.
    *
    * Scale shape: the corpus aggregates to O(distinct x) group maxes;
    * the running-max window sorts them ([[OrderedFrame.DistinctValues]]),
    * and the verdict re-attaches by broadcast join. NULL x or
    * y rows cannot be compared and are excluded (not silently kept). */
  def paretoFrontier(df: DataFrame, idCol: String, xCol: String,
                     yCol: String): DataFrame = {
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol), col(xCol), col(yCol))
    val grp = OrderedFrame(base.groupBy(col(xCol)).agg(max(col(yCol)).as("__gy")),
      OrderedFrame.DistinctValues, "Selection.paretoFrontier")(col(xCol).desc)
    val pref = grp.rows.withColumn("__strict", grp.before(max(col("__gy"))))
    base.join(broadcast(pref), Seq(xCol))
      .where((col("__strict").isNull || col("__strict") < col(yCol)) &&
        col(yCol) === col("__gy"))
      .select(col(idCol), col(xCol), col(yCol))
      .orderBy(col(xCol).desc, col(yCol).desc, col(idCol))
  }
}
