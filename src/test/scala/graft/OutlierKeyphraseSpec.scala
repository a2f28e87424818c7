package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions
import graft.operators.{Profile, TextAnalysis}

/** Hand-computed verification of the HBOS outlier scorer, RAKE
  * keyphrase extraction, and the cross-source unigram cross-entropy
  * matrix. Every expected number is derived off-engine from the
  * published formulas (Goldstein & Dengel 2012; Rose et al. 2010). */
class OutlierKeyphraseSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.session

  // ------------------------------------------------------------- RAKE

  test("rakePhrases: stopword islands, maxLen discard, null text") {
    import spark.implicits._
    val df = Seq(
      (1L, "big deep learning wins over model"),
      (2L, "a b c d e over f"), // 5-word run discarded at maxLen 4
      (3L, null: String)
    ).toDF("id", "text")
    val rows = df.select(col("id"),
        TextExpressions.rakePhrases(col("text"), Seq("over"), 4).as("p"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[String](1) ==
      Seq("big deep learning wins", "model"))
    assert(rows(1).getSeq[String](1) == Seq("f")) // long run dropped, not truncated
    assert(rows(2).isNullAt(1))
  }

  test("rakeKeyphrases: degree/freq scoring, hand-computed") {
    import spark.implicits._
    // phrases with stopwords {is, of}: "deep learning" ×2 (doc 1),
    // "model quality" (doc 2), "deep" (doc 2) →
    // freq: deep 3, learning 2, model 1, quality 1
    // deg:  deep 2+2+1=5, learning 4, model 2, quality 2
    // scores: deep 5/3, learning 2, model 2, quality 2
    // phrase scores: "deep learning" = 5/3+2 = 3.666667,
    //   "model quality" = 4, "deep" = 1.666667
    val df = Seq(
      (1L, "deep learning is deep learning"),
      (2L, "model quality of deep")
    ).toDF("id", "text")
    val out = TextAnalysis.rakeKeyphrases(df, "text", Seq("is", "of"),
      maxLen = 4, k = 10).collect()
    val m = out.map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m("model quality") == ((4.0, 2L)))
    assert(m("deep learning") == ((3.666667, 2L)))
    assert(m("deep") == ((1.666667, 1L)))
    // ranked by score desc, phrase asc
    assert(out.map(_.getString(0)).toSeq ==
      Seq("model quality", "deep learning", "deep"))
  }

  // ------------------------------------------------------------- HBOS

  test("hbos: sparse-bin row floats to the top; constant and null neutral") {
    import spark.implicits._
    // x: [0,0,0,0,10] → bins(10): four rows in bin 0 (count 4), one in
    // bin 9 (count 1). c: constant → contributes ln(5/5)=0.
    // y: constant 1.0 with one null → per-column non-null count 4, so
    // its bin-0 rows score ln(4/4)=0 (the null row contributes 0).
    val df = Seq(
      (1L, 0.0, 7.0, java.lang.Double.valueOf(1.0)),
      (2L, 0.0, 7.0, java.lang.Double.valueOf(1.0)),
      (3L, 0.0, 7.0, java.lang.Double.valueOf(1.0)),
      (4L, 0.0, 7.0, java.lang.Double.valueOf(1.0)),
      (5L, 10.0, 7.0, null.asInstanceOf[java.lang.Double])
    ).toDF("id", "x", "c", "y")
    val out = Profile.hbos(df, Seq("id"), Seq("x", "c", "y"),
      bins = 10, k = 5).collect()
    val m = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // id 5: ln(5/1) + 0 + 0 = 1.609438
    assert(m(5L) == 1.609438)
    // ids 1-4: ln(5/4) + 0 + ln(4/4) = 0.223144
    assert(m(1L) == 0.223144)
    assert(out.head.getLong(0) == 5L) // top outlier first
  }

  // ------------------------------------- cross-source cross-entropy

  test("crossSourceXent: 2x2 matrix, add-one smoothing, hand-computed") {
    import spark.implicits._
    // a: "x x y" (N=3), b: "x z" (N=2), shared vocab {x,y,z} V=3
    // H(a,a) = -(2/3 ln(3/6) + 1/3 ln(2/6)) = 0.828302
    // H(a,b) = -(2/3 ln(2/5) + 1/3 ln(1/5)) = 1.147340
    // H(b,a) = -(1/2 ln(3/6) + 1/2 ln(1/6)) = 1.242453
    // H(b,b) = -(1/2 ln(2/5) + 1/2 ln(2/5)) = 0.916291
    val df = Seq(("a", "x x y"), ("b", "x z")).toDF("src", "text")
    val out = TextAnalysis.crossSourceXent(df, "src", "text").collect()
    val m = out.map(r =>
      (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("a", "a")) == 0.828302)
    assert(m(("a", "b")) == 1.14734)
    assert(m(("b", "a")) == 1.242453)
    assert(m(("b", "b")) == 0.916291)
  }

  test("crossSourceXent: null group folds to <null>, not a dropped row") {
    import spark.implicits._
    val df = Seq(("a", "x"), (null: String, "y")).toDF("src", "text")
    val out = TextAnalysis.crossSourceXent(df, "src", "text")
    assert(out.where(col("data_source") === "<null>").count() == 2L)
  }
}
