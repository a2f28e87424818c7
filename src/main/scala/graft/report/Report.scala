package graft.report

import scala.collection.mutable.ListBuffer

import graft.operators.ValidationPass.EvalResult

/** Ordered (msg_type, msg) collector replicating the reference's
  * ReportCollector (/root/reference/utils/validate_core.py:79-140),
  * including the serialization quirk: `success` and `warning` entries are
  * DROPPED from the saved log, which renders only markdown, error,
  * header and divider entries, as get_log at validate_core.py:118-133
  * does. (The reference's subheader kind has no producer in the
  * compose step, so it is left out.) */
final class ReportCollector {
  val entries: ListBuffer[(String, String)] = ListBuffer.empty

  def addMarkdown(msg: String): Unit = entries += (("markdown", msg))
  def addSuccess(msg: String): Unit = entries += (("success", msg))
  def addError(msg: String): Unit = entries += (("error", msg))
  def addWarning(msg: String): Unit = entries += (("warning", msg))
  def addHeader(msg: String): Unit = entries += (("header", msg))
  def addDivider(): Unit = entries += (("divider", null))

  /** Plain-text log — byte-identical to the reference's get_log. */
  def getLog: String = {
    val sb = new StringBuilder
    entries.foreach {
      case ("markdown", m)  => sb.append(m).append('\n')
      case ("error", m)     => sb.append(m).append('\n')
      case ("header", m)    => sb.append("# ").append(m).append('\n')
      case ("divider", _)   => sb.append("-" * 60).append('\n')
      case _                => () // success / warning: dropped from the file
    }
    sb.result()
  }

  def reset(): Unit = entries.clear()
}

/** Renders an [[EvalResult]] into ReportCollector entries with the exact
  * message strings, ordering, and error/warning arithmetic of the
  * reference's compose_validation_report
  * (/root/reference/utils/validate_core.py:358-485).
  *
  * One documented divergence: the reference renders the single-Enum
  * "Expected:" vocabulary through a Python `set` whose iteration order is
  * hash-randomized per process (validate_core.py:272 `list(set(...))`) —
  * not reproducible byte-for-byte even by the reference itself. We use
  * first-appearance order (Validation then FillNull, deduped), which is
  * deterministic.
  */
object Report {
  val EmojiSuccess = "✅"
  val EmojiError = "❌"
  val EmojiWarning = "⚠️"

  private def quote(x: String): String = s"'$x'"
  private def quoted(xs: Seq[String]): String = xs.map(quote).mkString(", ")

  /** Expected-value description per DataType — exact f-string bodies from
    * validate_core.py:246-248, :262-264, :304-312, :333-335. */
  def expectedDescr(c: graft.operators.ValidationPass.ColumnEval): String = {
    import graft.model.RuleType._
    val r = c.rule
    r.dataType match {
      case IntegerT =>
        s"int or NULL ('NA') or FillNull values (${quoted(r.fillNull)})"
      case FloatT =>
        s"float or NULL ('NA') or FillNull values (${quoted(r.fillNull)})"
      case EnumT if r.allowMultiEnum =>
        s"one or more values from the Validation list separated by ';' " +
          s"(e.g. 'val1;val2'), or a single FillNull value " +
          s"(${quoted(r.fillNull)}). " +
          s"Valid tokens: ${quoted(r.validation.distinct.sorted)}"
      case EnumT =>
        quoted((r.validation ++ r.fillNull).distinct)
      case RegexT =>
        s"Regex /${r.pattern}/ or FillNull values (${quoted(r.fillNull)})"
      case StringT => ""
    }
  }

  /** invalid_entries rows: (opt_req, column, n_distinct_failing,
    * expected_descr, found_descr) — note the count is DISTINCT offending
    * values, not cells (validate_core.py:250 `len(failing_values)`). */
  def invalidEntries(result: EvalResult): Seq[(String, String, Long, String, String)] =
    result.columns.filter(_.failingValues.nonEmpty).map { c =>
      // count = DISTINCT offending values (exact even when the listed
      // values were capped — ValidationPass keeps exact totals)
      (c.rule.optReq, c.rule.field, c.nDistinctFailing,
        expectedDescr(c), quoted(c.failingValues))
    }

  /** @return (errors, warnings) counters, entries appended to `report`. */
  def compose(
      result: EvalResult,
      tableName: String,
      report: ReportCollector,
      includeDetails: Boolean = true): (Int, Int) = {
    var errors = 0
    var warnings = 0

    val missingRequired = result.missingRequired
    val missingOptional = result.missingOptional
    val allNullRequired = result.allNullRequired
    val allNullOptional = result.allNullOptional
    val nullColumns = result.nullColumns
    val invalidRequired = result.invalidRequired
    val invalidOptional = result.invalidOptional
    val entries = invalidEntries(result)

    // --- Missing columns ---
    if (missingRequired.nonEmpty) {
      report.addError(
        s"$EmojiError -- Missing ${missingRequired.size}/${result.totalRequired} **required** columns " +
          s"in *$tableName*: ${missingRequired.mkString(", ")}")
      errors += missingRequired.size
    }
    if (missingOptional.nonEmpty) {
      report.addWarning(
        s"$EmojiWarning -- Missing ${missingOptional.size}/${result.totalOptional} **optional** columns " +
          s"in *$tableName*: ${missingOptional.mkString(", ")}")
      warnings += missingOptional.size
    }

    // --- All-null columns ---
    if (allNullRequired.nonEmpty) {
      report.addError(
        s"$EmojiError -- ${allNullRequired.size} **required** columns are completely NULL " +
          s"in *$tableName*: ${allNullRequired.mkString(", ")}")
      errors += allNullRequired.size
    }
    if (allNullOptional.nonEmpty) {
      report.addWarning(
        s"$EmojiWarning -- ${allNullOptional.size} **optional** columns are completely NULL " +
          s"in *$tableName*: ${allNullOptional.mkString(", ")}")
      warnings += allNullOptional.size
    }

    // --- Success: all columns present and non-null ---
    if (missingRequired.isEmpty && allNullRequired.isEmpty)
      report.addSuccess(
        s"$EmojiSuccess -- All ${result.totalRequired} **required** columns present with data in *$tableName*")
    if (missingOptional.isEmpty && allNullOptional.isEmpty)
      report.addSuccess(
        s"$EmojiSuccess -- All ${result.totalOptional} **optional** columns present with data in *$tableName*")

    // --- Partial nulls ---
    nullColumns.foreach { case (_, column, count) =>
      report.addWarning(s"$EmojiWarning -- column _**$column**_ has $count empty values")
      warnings += 1
    }
    if (nullColumns.isEmpty)
      report.addSuccess(s"$EmojiSuccess -- No columns with partial empty values were found")

    // --- Invalid values ---
    if (invalidRequired.nonEmpty) {
      report.addError(
        s"$EmojiError -- ${invalidRequired.size} **required** columns with invalid values " +
          s"in *$tableName*: ${invalidRequired.mkString(", ")}")
      errors += invalidRequired.size
    } else
      report.addSuccess(s"$EmojiSuccess -- No invalid values in required columns")

    if (invalidOptional.nonEmpty) {
      report.addWarning(
        s"$EmojiWarning -- ${invalidOptional.size} **optional** columns with invalid values " +
          s"in *$tableName*: ${invalidOptional.mkString(", ")}")
      warnings += invalidOptional.size
    } else
      report.addSuccess(s"$EmojiSuccess -- No invalid values in optional columns")

    // --- Detailed invalid entries (opt-in) ---
    if (includeDetails && entries.nonEmpty) {
      report.addMarkdown("**Details of invalid values by column:**")
      entries.foreach { case (optReq, column, nInvalid, validDescr, invalidDescr) =>
        val columnType = optReq.toLowerCase.capitalize
        report.addMarkdown(
          s"- **$columnType** column `$column` has $nInvalid invalid values:\n" +
            s"  - **Invalid values:** $invalidDescr\n" +
            s"  - **Expected:** $validDescr")
      }
    }

    (errors, warnings)
  }
}
