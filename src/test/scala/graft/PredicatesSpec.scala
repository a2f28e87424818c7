package graft

import org.apache.spark.sql.functions._

import graft.functions.Predicates
import graft.model.{Requirement, Rule, RuleType}
import graft.norm.Normalize

/** Predicate edge cases from FIXTURES.md §4 / reference
  * utils/validate_core.py:238-341 semantics. */
class PredicatesSpec extends SparkSpec {
  import spark.implicits._

  private def evalRule(rule: Rule, values: Seq[String]): Seq[Boolean] = {
    val df = values.toDF("v")
    df.select(Predicates.valid(rule, col("v")).as("ok"))
      .collect().map(_.getBoolean(0)).toSeq
  }

  val intRule = Rule("T", "f", RuleType.IntegerT, Requirement.Required,
    fillNull = Seq("Not reported"))

  test("Integer accepts 5, 5.0, 1e3; rejects 5.5, abc; auto-allows NA + FillNull") {
    assert(evalRule(intRule, Seq("5", "5.0", "1e3", "5.5", "abc", "NA", "Not reported", "-3.0"))
      === Seq(true, true, true, false, false, true, true, true))
  }

  test("Float accepts any numeric; auto-allows NA") {
    val r = intRule.copy(dataType = RuleType.FloatT)
    assert(evalRule(r, Seq("5.5", "1e-3", "abc", "NA", "Not reported", ""))
      === Seq(true, true, false, true, true, false))
  }

  test("single Enum: NA only valid via FillNull (sentinel NOT auto-added)") {
    val noNa = Rule("T", "f", RuleType.EnumT, Requirement.Required,
      validation = Seq("PD", "Control"))
    assert(evalRule(noNa, Seq("PD", "Control", "NA", "IBD")) === Seq(true, true, false, false))
    val withNa = noNa.copy(fillNull = Seq("NA"))
    assert(evalRule(withNa, Seq("NA")) === Seq(true))
  }

  test("multi Enum: ';' tokens all in vocab; bare NA re-allowed; empty/'; ' invalid") {
    val r = Rule("T", "f", RuleType.EnumT, Requirement.Required,
      validation = Seq("a", "b"), allowMultiEnum = true)
    assert(evalRule(r, Seq("a;b", "a ; b", "a", "NA", ";", "", "a;c", "c"))
      === Seq(true, true, true, true, false, false, false, false))
  }

  test("Regex is fullmatch-anchored; specials allowed; bad pattern fails all non-specials") {
    val r = Rule("T", "f", RuleType.RegexT, Requirement.Required,
      pattern = "doc_[0-9]{3}")
    assert(evalRule(r, Seq("doc_123", "xdoc_123", "doc_1234", "NA"))
      === Seq(true, false, false, true))
    val bad = r.copy(pattern = "([")
    assert(evalRule(bad, Seq("anything", "NA")) === Seq(false, true))
  }

  /** (pattern, cell, Python `re.fullmatch(pattern, cell) is not None`). */
  private val fullmatchCases = Seq(
    ("doc_[0-9]{12}", "doc_000000000001", true),
    ("doc_[0-9]{12}", "doc_000000000001\n", false),
    ("doc_[0-9]{12}", "doc_000000000001\r\n", false),
    ("doc_[0-9]{12}", "\ndoc_000000000001", false),
    ("doc_[0-9]{12}", "doc_0000000000012", false),
    ("abc", "abc", true),
    ("abc", "abc\n", false),
    ("abc", "ab", false),
    ("[0-9]+", "12", true),
    ("[0-9]+", "12\r\n", false),
    ("[0-9]+", "12\n", false),
    ("[0-9]+", "", false),
    ("a|b", "b", true),
    ("a|b", "ab", false),
    ("a|b", "b\n", false),
    ("x.*", "x\ny", false),
    ("x.*", "x\n", false),
    ("x.*", "xyz", true),
    ("x\\s*", "x\n", true),
    ("x\\s*", "x \r\n", true))

  test("Regex rule and R_REGEX_DOCID agree with Python fullmatch, line terminators included") {
    fullmatchCases.groupBy(_._1).foreach { case (pattern, cases) =>
      val r = Rule("T", "f", RuleType.RegexT, Requirement.Required, pattern = pattern)
      assert(evalRule(r, cases.map(_._2)) === cases.map(_._3), pattern)
    }
    val docIds = fullmatchCases.filter(_._1 == "doc_[0-9]{12}")
    val rule = graft.operators.ValidationPass.seqConstraints(1, Nil)
      .find(_.ruleId == "R_REGEX_DOCID").get
    assert(docIds.map(_._2).toDF("doc_id").select(rule.valid).as[Boolean].collect().toSeq ===
      docIds.map(_._3))
  }

  test("String is unconstrained") {
    val r = Rule("T", "f", RuleType.StringT, Requirement.Required)
    assert(evalRule(r, Seq("whatever", "NA")) === Seq(true, true))
  }

  test("normalization: blanks/null-likes → NA; textual NA untouched; missing mask excludes 'NA'") {
    val df = Seq("", "  ", "none", "NaN", "N/A", "NA", "x", null)
      .toDF("v")
    val out = df.select(Normalize.normalizeNullLike(col("v")).as("n")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("NA", "NA", "NA", "NA", "NA", "NA", "x", "NA"))
    val miss = df.select(Normalize.missingMask(col("v")).as("m")).collect().map(_.getBoolean(0))
    assert(miss.toSeq === Seq(true, true, false, false, false, false, false, true))
  }

  test("list-literal parser matches reference parse_literal_list") {
    assert(Rule.parseListLiteral("['a', 'b']") === Seq("a", "b"))
    assert(Rule.parseListLiteral("[\"x\"]") === Seq("x"))
    assert(Rule.parseListLiteral("[]") === Nil)
    assert(Rule.parseListLiteral("") === Nil)
    assert(Rule.parseListLiteral(null) === Nil)
    assert(Rule.parseListLiteral("['it\\'s ok', 'b,c']") === Seq("it's ok", "b,c"))
    assert(Rule.parseListLiteral("['PD','Control','Prodromal','Other']")
      === Seq("PD", "Control", "Prodromal", "Other"))
  }

  test("AllowMultiEnum truthiness: true/1/1.0/yes") {
    assert(Seq("true", "TRUE", "1", "1.0", "yes").forall(Rule.parseAllowMulti))
    assert(!Seq("false", "0", "", "no", null).exists(Rule.parseAllowMulti))
  }
}
