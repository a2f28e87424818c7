package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Rule, RuleType}
import graft.norm.Normalize.NullSentinel

/** Multi-enum token validity in one native pass: split on ';', trim
  * spaces (Spark `trim` semantics: 0x20 only), drop empties, require ≥1
  * token and every token ∈ vocab. Replaces the
  * `forall(filter(transform(split(...))))` HOF chain — interpreted
  * lambda frames per token per row on the validation hot path, the same
  * cost class [[TextProfile]] removed from the text operators. */
case class MultiEnumTokensValid(vocab: Seq[String]) extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = BooleanType

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    vocab.foreach(s.add)
    s
  }

  override def eval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var any = false
    var ok = true
    var start = 0
    var i = 0
    def handle(endExcl: Int): Unit = {
      var a = start
      var b = endExcl
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        any = true
        if (ok && !set.contains(s.substring(a, b))) ok = false
      }
    }
    while (i < s.length) {
      if (s.charAt(i) == ';') { handle(i); start = i + 1 }
      i += 1
    }
    handle(s.length)
    any && ok
  }
}

/** Compiles a [[graft.model.Rule]] into a Catalyst validity predicate
  * (`Column` of BooleanType) — the Spark-native replacement for the
  * reference's per-rule pandas passes and per-cell Python lambdas
  * (/root/reference/utils/validate_core.py:238-341). Zero row-level UDFs:
  * everything is `isin`/`cast`/`rlike`/higher-order functions, so the
  * whole rule set fuses into one whole-stage-codegen'd scan.
  *
  * Sentinel asymmetry preserved exactly (the reference's trickiest
  * semantics — validate_core.py:229 vs :270-298 vs :291):
  *  - Integer/Float/Regex auto-allow FillNull ∪ {"NA"};
  *  - single-Enum allows "NA" only when listed in FillNull (or Validation);
  *  - multi-Enum re-allows bare "NA".
  */
object Predicates {

  /** FillNull ∪ sentinel — `allowed_specials` (validate_core.py:229). */
  private def specials(rule: Rule): Seq[String] =
    (rule.fillNull :+ NullSentinel).distinct

  private def isSpecial(c: Column, rule: Rule): Column =
    c.isin(specials(rule): _*)

  /** True where the (string) cell satisfies the rule. */
  def valid(rule: Rule, c: Column): Column = rule.dataType match {
    case RuleType.IntegerT =>
      // pd.to_numeric(errors="coerce") parses ∧ x % 1 == 0 — "5.0"/"1e3"
      // are valid Integers (validate_core.py:240-241). try_cast to double
      // (NOT long) replicates the coerce-to-NaN semantics under Spark 4
      // ANSI mode.
      val d = c.try_cast("double")
      isSpecial(c, rule) || (d.isNotNull && d % 1.0 === 0.0)

    case RuleType.FloatT =>
      isSpecial(c, rule) || c.try_cast("double").isNotNull

    case RuleType.EnumT if rule.allowMultiEnum =>
      // validate_core.py:287-296: cell ∈ FillNull ∨ cell == "NA" ∨
      // (non-empty trimmed ';' tokens all ∈ Validation) — token check is
      // the native [[MultiEnumTokensValid]]
      val inFill =
        if (rule.fillNull.nonEmpty) c.isin(rule.fillNull: _*) else lit(false)
      inFill || c === NullSentinel ||
        Registry.call("graft_multienum_valid", c, typedLit(rule.validation))

    case RuleType.EnumT =>
      // single Enum: Validation ∪ FillNull only — "NA" is NOT auto-allowed
      // (validate_core.py:270-298). Catalyst rewrites In → InSet for
      // large vocabularies (OptimizeIn).
      val vocab = (rule.validation ++ rule.fillNull).distinct
      if (vocab.isEmpty) lit(false) else c.isin(vocab: _*)

    case RuleType.RegexT =>
      // fullmatch semantics → anchor as ^(?:pat)\z (validate_core.py:324):
      // Java's `$` also matches before a final line terminator, `\z` only
      // at the end of the text.
      // Invalid pattern ⇒ every non-special cell invalid (:325-327); the
      // compile check happens once here on the driver, never per row.
      val compiles =
        try { java.util.regex.Pattern.compile(rule.pattern); true }
        catch { case _: java.util.regex.PatternSyntaxException => false }
      if (compiles)
        isSpecial(c, rule) || c.rlike("^(?:" + rule.pattern + ")\\z")
      else isSpecial(c, rule)

    case RuleType.StringT => lit(true) // unconstrained (validate_core.py:341)
  }

  /** Convenience: the violation (negated) predicate. */
  def invalid(rule: Rule, c: Column): Column = !valid(rule, c)
}
