package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Rule
import graft.norm.Normalize
import graft.operators.ValidationPass
import graft.report.{Report, ReportCollector}

/** Facade reproducing the reference's headless library surface
  * (validate_table_core, /root/reference/utils/validate_core.py:488-531)
  * and the app's multi-table flow (app.py:95-115, 965-1029): a user of
  * the reference switches to this object and runs the same QC.
  *
  * Per table: normalize null-likes → fused single-pass eval → compose
  * byte-identical report entries → (errors, warnings). Extra columns not
  * in the rules are warned and excluded (validate_core.py:31-47,
  * app.py:651-661).
  */
object Engine {

  /** Default cap on DISTINCT offending values collected to the driver per
    * rule. A rule matching arbitrary garbage has unbounded distinct
    * offenders, and the driver must not collect them all — the cap bounds
    * driver state at rules × cap, and executor state at cap values per
    * rule per partition (ValidationPass's bounded per-rule aggregate),
    * while `nInvalidCells` / `nDistinctFailing` stay exact (counted
    * pre-cap). Fixture suites that need the reference's exhaustive
    * listings pass `Int.MaxValue` explicitly; it runs the same plan. */
  val DefaultMaxOffenders: Int = 10000

  final case class TableOutcome(
      table: String,
      extraColumns: Seq[String],
      result: ValidationPass.EvalResult,
      errors: Int,
      warnings: Int)

  final case class RunOutcome(
      report: ReportCollector,
      perTable: Seq[TableOutcome]) {
    def errors: Int = perTable.map(_.errors).sum
    def warnings: Int = perTable.map(_.warnings).sum
    /** Sanitized output is gated on zero errors (app.py:1064-1082). */
    def canEmitSanitized: Boolean = errors == 0
  }

  /** validate_table_core equivalent: one pre-normalized table. */
  def validateTable(
      dfNormalized: DataFrame,
      tableName: String,
      rules: Seq[Rule],
      report: ReportCollector = new ReportCollector,
      includeDetails: Boolean = true,
      maxOffendersPerRule: Int = DefaultMaxOffenders): TableOutcome = {
    val result = ValidationPass.evalTable(dfNormalized, tableName, rules, maxOffendersPerRule)
    val (e, w) = Report.compose(result, tableName, report, includeDetails)
    TableOutcome(tableName, ValidationPass.extraColumns(dfNormalized, rules), result, e, w)
  }

  /** Full multi-table run in the app's order: header per table, extra-
    * column warning, normalize, validate, compose (app.py:965-1029).
    * Header-only tables are skipped like the app skips them
    * (FIXTURES.md SUBJECT). */
  def run(
      tables: Seq[(String, DataFrame)],
      rules: Seq[Rule],
      includeDetails: Boolean = true,
      maxOffendersPerRule: Int = DefaultMaxOffenders): RunOutcome = {
    val report = new ReportCollector
    val outcomes = tables.map { case (name, df) =>
      report.addHeader(s"$name table QC report")
      val tableRules = rules.filter(_.table == name)
      val extra = ValidationPass.extraColumns(df, tableRules)
      if (extra.nonEmpty)
        report.addWarning(
          s"${Report.EmojiWarning} -- Columns not in CDE (excluded from validation) " +
            s"in *$name*: ${extra.mkString(", ")}")
      val normalized = Normalize.normalizeDf(df.drop(extra: _*))
      val out = validateTable(normalized, name, tableRules, report,
        includeDetails, maxOffendersPerRule)
      report.addDivider()
      out.copy(extraColumns = extra)
    }
    RunOutcome(report, outcomes)
  }

  /** A6 (find_missing_values.py:73-98): does any cell of any column
    * satisfy the missing mask? One fused aggregate, early-exit free. */
  def tableHasMissingValues(df: DataFrame): Boolean = {
    if (df.columns.isEmpty) return false
    val anyMissing = df.columns.map(c => Normalize.missingMask(col(c))).reduce(_ || _)
    !df.where(anyMissing).isEmpty
  }

  /** Names of tables containing missing values (find_missing_values.py:87-98). */
  def tablesWithMissingValues(tables: Seq[(String, DataFrame)]): Seq[String] =
    tables.collect { case (n, df) if tableHasMissingValues(df) => n }

  /** P15 preview formatting (delimiter_handler.py:55-72): string-cast,
    * null→"", first n rows. UI-parity helper. */
  def preview(df: DataFrame, n: Int): DataFrame =
    df.select(df.columns.map(c => coalesce(col(c).cast("string"), lit("")).as(c))
      .toIndexedSeq: _*).limit(n)
}
