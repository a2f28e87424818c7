package graft

import graft.norm.Normalize
import graft.operators.ValidationPass
import graft.report.{Report, ReportCollector}
import graft.sources.{CsvIngest, RuleTable}

/** Replays the reference's golden tester-file expectations
  * (/root/reference/resource/tester_files/README.md, FIXTURES.md §1)
  * through the full ingest → normalize → validate → report pipeline. */
class FixtureReplaySpec extends SparkSpec {

  lazy val rules = RuleTable.loadCsv(spark, fixture("tester_files/mini_cde.csv"))

  test("rule table loads and parses list literals") {
    assert(rules.size === 25) // 26 rows - 0 alias
    val cond = rules.find(r => r.table == "SAMPLE" && r.field == "condition_id").get
    assert(cond.validation === Seq("PD", "Control", "Prodromal", "Other"))
    val region = rules.find(_.field == "region_level_1").get
    assert(region.allowMultiEnum)
    assert(region.validation.size === 8)
  }

  test("DATA.csv: ';' detected; adjustment invalid 'corrected and normalized'; gcp_bucket extra") {
    val (det, struct, dfOpt) = CsvIngest.ingest(spark, fixture("tester_files/DATA.csv"))
    assert(det.delimiter === ';')
    assert(struct.ok, struct.errors.map(_.message("DATA")).mkString("; "))
    val df = dfOpt.get
    val tableRules = RuleTable.forTable(rules, "DATA")
    assert(ValidationPass.extraColumns(df, tableRules) === Seq("gcp_bucket"))

    val result = ValidationPass.evalTable(
      Normalize.normalizeDf(df.drop("gcp_bucket")), "DATA", tableRules)
    val adj = result.columns.find(_.rule.field == "adjustment").get
    assert(adj.failingValues === Seq("corrected and normalized")) // 1 distinct
    assert(adj.nInvalidCells === 1L)
    // file_description: every cell empty → normalized to NA → all-null required
    assert(result.allNullRequired === Seq("file_description"))

    val rc = new ReportCollector
    val (errors, _) = Report.compose(result, "DATA", rc)
    assert(errors === 2) // all-null file_description + invalid adjustment
    val log = rc.getLog
    assert(log.contains("- **Required** column `adjustment` has 1 invalid values:\n" +
      "  - **Invalid values:** 'corrected and normalized'\n" +
      "  - **Expected:** 'Raw', 'Processed'"))
  }

  test("SAMPLE.csv: condition_id has 2 distinct invalid values; multi-enum region valid") {
    val (det, struct, dfOpt) = CsvIngest.ingest(spark, fixture("tester_files/SAMPLE.csv"))
    assert(det.delimiter === ',')
    assert(struct.ok)
    val df = dfOpt.get
    val tableRules = RuleTable.forTable(rules, "SAMPLE")
    val result = ValidationPass.evalTable(
      Normalize.normalizeDf(df.select("sample_id", "subject_id", "condition_id",
        "organism", "age_at_collection", "region_level_1")),
      "SAMPLE", tableRules)
    // README: "condition_id has 2 invalid values" — the count is DISTINCT
    // offending values (validate_core.py:250): 'IBD' (2 cells) and
    // 'IBD remission' (2 cells), in first-appearance order.
    val cond = result.columns.find(_.rule.field == "condition_id").get
    assert(cond.failingValues === Seq("IBD", "IBD remission"))
    assert(cond.nInvalidCells === 4L)
    val region = result.columns.find(_.rule.field == "region_level_1").get
    assert(region.failingValues.isEmpty,
      s"multi-enum should accept ';'-joined vocab values, got ${region.failingValues}")
    assert(result.invalidRequired === Seq("condition_id"))
  }

  test("PROTOCOL.csv: zero errors") {
    val (det, struct, dfOpt) = CsvIngest.ingest(spark, fixture("tester_files/PROTOCOL.csv"))
    assert(struct.ok)
    val result = ValidationPass.evalTable(
      Normalize.normalizeDf(dfOpt.get), "PROTOCOL", RuleTable.forTable(rules, "PROTOCOL"))
    val rc = new ReportCollector
    val (errors, _) = Report.compose(result, "PROTOCOL", rc)
    assert(errors === 0, rc.getLog)
  }

  test("SUBJECT.csv: header-only → zero rows, skipped from all-null accounting") {
    val (_, struct, dfOpt) = CsvIngest.ingest(spark, fixture("tester_files/SUBJECT.csv"))
    assert(struct.ok) // structurally fine, just empty
    assert(dfOpt.get.count() === 0)
  }

  test("CLINPATH.csv: structural error — 30 fields in row 4, 29 in header") {
    val (det, struct, dfOpt) = CsvIngest.ingest(spark, fixture("tester_files/CLINPATH.csv"))
    assert(det.delimiter === ',')
    assert(!struct.ok)
    assert(dfOpt.isEmpty) // rejected before CDE validation
    assert(struct.headerFields === 29)
    val err = struct.errors.head
    assert(err.lineNumber === 4)
    assert(err.nFields === 30)
    assert(err.message("CLINPATH") ===
      "CLINPATH has 30 fields in row 4, but 29 fields in header")
  }
}
