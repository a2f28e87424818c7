package graft.operators

import org.apache.spark.sql.functions.{col, timestamp_micros}

import graft.SparkSpec
import graft.operators.Drift.CategoricalProfile

/** The categorical-count core ([[Categorical]]) and the 14 statistics
  * built on it, on the three cases its rules decide: a NULL category, a
  * category on one side of a profile pair only, and a zero cell of the
  * contingency grid. */
class CategoricalSpec extends SparkSpec {
  import spark.implicits._

  // a ∈ {x, y, NULL} by b ∈ {p, q, NULL}: 4 of the 9 cells are filled,
  // so the grid has 5 zero cells; NULL is a category on both columns
  def pairs = (Seq.fill(3)(("x", "p")) ++ Seq.fill(2)(("x", null)) ++
    Seq(((null: String), "q"), ("y", "p"))).toDF("a", "b")

  /** Every statistic, rendered with its full double digits. */
  def rendered: Seq[(String, String)] = {
    val obs = Drift.categoricalFreq(pairs, "a")
    // x and y only observed, p and q only in the baseline, <null> in both
    val base = Drift.categoricalFreq(pairs, "b")
    val events = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, null), (1L, 4L, "a"),
      (1L, 5L, "c"), (2L, 6L, "b"), (2L, 7L, "a"), (2L, 8L, "b"))
      .toDF("u", "eid", "t").withColumn("ts", timestamp_micros(col("eid") * 1000000L))
    // ids 2 and 10 sort one way as numbers, the other way as strings
    val tokens = Seq(Seq(2, 10, 2, 10, 10, 2, 2), Seq(10, 10, 3), Seq(3, 2))
      .map(Tuple1(_)).toDF("tokens")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().mkString(";")
    Seq(
      "categoricalFreq" -> obs.freq.toSeq.sorted.mkString(";"),
      "chiSquare" -> Drift.chiSquare(obs, base).toString,
      "psi" -> Drift.psi(obs, base).toString,
      "psiBreakdown" -> rows(Drift.psiBreakdown(spark, obs, base)),
      "jsd" -> Drift.jsd(obs, base).toString,
      "totalVariation" -> Drift.totalVariation(obs, base).toString,
      "kl" -> Drift.kl(obs, base).toString,
      "contingencyChiSquare" -> rows(Drift.contingencyChiSquare(pairs, "a", "b")),
      "cohenKappa" -> rows(Drift.cohenKappa(pairs, "a", "b")),
      "cramersV" -> rows(Drift.cramersV(pairs, "a", "b")),
      "mutualInformation" -> rows(Profile.mutualInformation(pairs, "a", "b")),
      "associationRules" -> rows(Profile.associationRules(pairs, "a", "b")),
      "transitionEntropy" -> rows(Sessionize.transitionEntropy(events, "u", "ts", "t", "eid")),
      "tokenTransitionEntropy" -> rows(TokenHealth.tokenTransitionEntropy(tokens, "tokens")))
  }

  test("the 14 statistics keep their values on NULL, one-sided and zero-cell categories") {
    // computed before the statistics shared one core
    val expected = Seq(
      "categoricalFreq" -> "(<null>,1);(x,5);(y,1)",
      "chiSquare" -> "(46.5,4)",
      "psi" -> "13.453115603160558",
      "psiBreakdown" -> "[x,0.714286,1.0E-4,6.33759,0.471087];[p,1.0E-4,0.571429,4.942406,0.36738];[q,1.0E-4,0.142857,1.037049,0.077086];[y,0.142857,1.0E-4,1.037049,0.077086];[<null>,0.142857,0.285714,0.099021,0.00736]",
      "jsd" -> "0.5567512873539139",
      "totalVariation" -> "0.857142857142857",
      "kl" -> "7.275640444395843",
      "contingencyChiSquare" -> "[7,4,7.7]",
      "cohenKappa" -> "[7,0.0,0.040816,-0.042553]",
      "cramersV" -> "[7,3,3,7.7,0.74162]",
      "mutualInformation" -> "[7,0.474977,0.796312,0.9557,0.596472,0.496994]",
      "associationRules" -> "[<null>,q,1,0.142857,1.0,7.0];[x,<null>,2,0.285714,0.4,1.4];[x,p,3,0.428571,0.6,1.05];[y,p,1,0.142857,1.0,1.75]",
      "transitionEntropy" -> "[5,0.381909,1.05492,0.637974]",
      "tokenTransitionEntropy" -> "[9,0.798238,0.964963,0.172778]")
    assert(rendered === expected)
  }

  test("the joint-count fold sums token ids in numeric order") {
    val counts = Map((2, 10) -> 3L, (10, 2) -> 2L, (10, 10) -> 1L, (2, 2) -> 1L, (10, 3) -> 1L)
    val joint = new Categorical.Joint[Int](counts)
    val seen = Seq.newBuilder[(Int, Int)]
    joint.fold { case (k, _) => seen += k; 0.0 }
    assert(seen.result() === Seq((2, 2), (2, 10), (10, 2), (10, 3), (10, 10)))
    assert(joint.total === 8L && joint.first === Map(2 -> 4L, 10 -> 4L))
    // the entropies are these left folds, term for term, in that order
    val n = 8.0
    val hCond = Seq((2, 1L), (2, 3L), (10, 2L), (10, 1L), (10, 1L)).foldLeft(0.0) {
      case (acc, (x, c)) => acc + -(c / n) * math.log(c.toDouble / joint.first(x)) }
    assert(joint.conditional === hCond)
    val hMarg = Seq(3L, 1L, 4L).foldLeft(0.0) { case (acc, c) => acc + -(c / n) * math.log(c / n) }
    assert(joint.second === Map(2 -> 3L, 3 -> 1L, 10 -> 4L) && joint.entropy(joint.second) === hMarg)
  }
}
