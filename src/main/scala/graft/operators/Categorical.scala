package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Drift.CategoricalProfile

/** The categorical-count core behind the drift and association
  * statistics ([[Drift]]'s profile distances and contingency tests,
  * [[Profile.mutualInformation]], [[Profile.associationRules]], the two
  * transition entropies). Each rule is stated here once:
  *
  *  - '''NULL key.''' A category is its value cast to string, and NULL
  *    is the `"<null>"` category ([[key]]): missingness is a category
  *    that can drift or associate, never a dropped row.
  *  - '''Contingency table.''' The (key a, key b) cell counts come from
  *    one map-side-combined aggregate (an exchange of at most |A|·|B|
  *    rows), and the row and column margins are re-aggregated from
  *    those cells, never from a second scan ([[table]]).
  *  - '''Full-grid χ².''' Σ (o − e)²/e runs over every (row, column)
  *    pair of the margins, with e = row·col/n in DOUBLE. An empty cell
  *    (o = 0) contributes its whole expectation: dropping zero cells
  *    biases χ² toward independence exactly when the dependence is
  *    strongest ([[chiSquare]]).
  *  - '''Sorted-order summation.''' A driver-side sum over categories
  *    adds its terms in sorted key order, in the key's own `Ordering`
  *    (token ids numerically), so a floating-point total is the same
  *    bit for bit on every run ([[aligned]], [[Joint]]).
  *  - '''Per-side totals floor.''' A share divides a count by its
  *    side's total floored at 1, so an empty side gives zero shares,
  *    not NaN ([[shares]], [[Joint.n]]).
  */
private[operators] object Categorical {

  /** The category key of `c`: its string value, NULL as `"<null>"`. */
  def key(c: Column): Column = coalesce(c.cast("string"), lit("<null>"))

  /** A contingency table: `cells` (__a, __b, __n), `rows` (__a, __na)
    * and `cols` (__b, __nb). */
  final case class Table(cells: DataFrame, rows: DataFrame, cols: DataFrame)

  /** The contingency table of the keys of columns `a` and `b`. */
  def table(df: DataFrame, a: String, b: String): Table = {
    val cells = df.select(key(col(a)).as("__a"), key(col(b)).as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    Table(cells,
      cells.groupBy(col("__a")).agg(sum(col("__n")).as("__na")),
      cells.groupBy(col("__b")).agg(sum(col("__n")).as("__nb")))
  }

  /** One row (chi, n, r, c): the unrounded full-grid χ² of `t`, its
    * total n and its r rows and c columns. An empty table gives NULL
    * chi and n, and r = c = 0. */
  def chiSquare(t: Table): DataFrame = {
    val tot = t.cells.agg(sum(col("__n")).as("n"),
      count_distinct(col("__a")).as("r"), count_distinct(col("__b")).as("c"))
    val o = coalesce(col("__n"), lit(0L)).cast("double")
    val e = col("__na").cast("double") * col("__nb").cast("double") /
      col("n").cast("double")
    t.rows.crossJoin(t.cols)
      .join(t.cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(tot))
      .agg(sum((o - e) * (o - e) / e).as("chi"))
      .crossJoin(broadcast(tot))
  }

  /** The walk over two profiles: their sorted key union, with each
    * side's count (0 where the key is absent). */
  def aligned(a: CategoricalProfile,
              b: CategoricalProfile): Seq[(String, Long, Long)] =
    (a.freq.keySet ++ b.freq.keySet).toSeq.sorted
      .map(k => (k, a.freq.getOrElse(k, 0L), b.freq.getOrElse(k, 0L)))

  /** [[aligned]] with each count as a share of its side's floored
    * total, then raised to at least `floor` (the eps floor that keeps
    * a one-sided category's log term finite). */
  def shares(a: CategoricalProfile, b: CategoricalProfile,
             floor: Double = 0.0): Seq[(String, Double, Double)] = {
    val na = a.total.toDouble.max(1.0)
    val nb = b.total.toDouble.max(1.0)
    aligned(a, b).map { case (k, x, y) =>
      (k, math.max(x / na, floor), math.max(y / nb, floor))
    }
  }

  /** A driver-side joint count table of (first, second) key pairs, with
    * its marginals and the entropies over it. `n` is the total floored
    * at 1; every fold runs in sorted key order. */
  final class Joint[K](val counts: Map[(K, K), Long])(implicit ord: Ordering[K]) {
    val total: Long = counts.values.sum
    val n: Double = total.toDouble.max(1.0)
    val first: Map[K, Long] = marginal(_._1)
    val second: Map[K, Long] = marginal(_._2)

    private def marginal(side: ((K, K)) => K): Map[K, Long] =
      counts.toSeq.groupBy(kc => side(kc._1)).map { case (k, v) =>
        k -> v.map(_._2).sum }

    /** Σ term(cell, count) over the cells in sorted key order. */
    def fold(term: ((K, K), Long) => Double): Double =
      counts.toSeq.sortBy(_._1).iterator.map(term.tupled).sum

    /** H = −Σ p·ln p over a marginal, p = count / n. */
    def entropy(m: Map[K, Long]): Double =
      m.toSeq.sortBy(_._1).iterator.map { case (_, c) =>
        val p = c / n
        if (p > 0.0) -p * math.log(p) else 0.0
      }.sum

    /** H(second | first) = −Σ p(x, y)·ln(c(x, y) / c(x)). */
    def conditional: Double = fold { case ((x, _), c) =>
      val p = c / n
      if (p > 0.0) -p * math.log(c.toDouble / first(x)) else 0.0
    }
  }
}
