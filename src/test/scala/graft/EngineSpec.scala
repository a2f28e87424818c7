package graft

import graft.sources.{AppSchema, CsvIngest, RuleTable}

/** Engine facade: the multi-table app flow over the golden fixtures,
  * with a byte-exact report log, plus AppSchema config bootstrap. */
class EngineSpec extends SparkSpec {

  lazy val rules = RuleTable.loadCsv(spark, fixture("tester_files/mini_cde.csv"))

  test("multi-table run: DATA + PROTOCOL, gate on errors, exact log bytes") {
    val data = CsvIngest.ingest(spark, fixture("tester_files/DATA.csv"))._3.get
    val protocol = CsvIngest.ingest(spark, fixture("tester_files/PROTOCOL.csv"))._3.get
    val out = Engine.run(Seq("DATA" -> data, "PROTOCOL" -> protocol), rules)

    assert(out.perTable.map(_.table) === Seq("DATA", "PROTOCOL"))
    val dataOut = out.perTable.head
    assert(dataOut.extraColumns === Seq("gcp_bucket"))
    assert(dataOut.errors === 2) // all-null file_description + invalid adjustment
    assert(out.perTable(1).errors === 0)
    assert(!out.canEmitSanitized) // gated: DATA has errors

    val log = out.report.getLog
    val expected =
      """# DATA table QC report
        |❌ -- 1 **required** columns are completely NULL in *DATA*: file_description
        |❌ -- 1 **required** columns with invalid values in *DATA*: adjustment
        |**Details of invalid values by column:**
        |- **Required** column `adjustment` has 1 invalid values:
        |  - **Invalid values:** 'corrected and normalized'
        |  - **Expected:** 'Raw', 'Processed'
        |""".stripMargin + ("-" * 60) + "\n" +
      """# PROTOCOL table QC report
        |""".stripMargin + ("-" * 60) + "\n"
    assert(log === expected, s"log bytes differ:\n---got---\n$log\n---want---\n$expected")
  }

  test("missing-value helpers (A6): blank cells detected, clean tables not") {
    import spark.implicits._
    val dirty = Seq(("a", ""), ("b", "x")).toDF("c1", "c2")
    val clean = Seq(("a", "NA")).toDF("c1", "c2") // textual NA is NOT missing
    assert(Engine.tableHasMissingValues(dirty))
    assert(!Engine.tableHasMissingValues(clean))
    assert(Engine.tablesWithMissingValues(
      Seq("D" -> dirty, "C" -> clean)) === Seq("D"))
  }

  test("preview: string-cast, null→empty, limited") {
    import spark.implicits._
    val df = Seq((1, Option("x")), (2, None), (3, Option("z")))
      .toDF("id", "v")
    val p = Engine.preview(df, 2).collect()
    assert(p.length === 2)
    assert(p(1).getString(1) === "")
    assert(p(0).getString(0) === "1")
  }

  test("AppSchema: parses the reference config shape and derives tables") {
    val cfg = AppSchema.parse(
      """{
        |"app_version": "v0.9.3",
        |"cde_definition": {
        |  "cde_version": "v4.4", "old_cde_version": "v3.4", "allow_old_cde": true,
        |  "cde_mandatory_fields": ["Table","Field","DataType","Required","Validation","FillNull"],
        |  "valid_categ_mandatory_fields": ["Table","Category"]
        |},
        |"default_input_delimiter": ",",
        |"table_names": {"required": ["DATA","SAMPLE"], "human_specific": ["CLINPATH"]},
        |"preview_max_rows": 5
        |}""".stripMargin)
    assert(cfg.appVersion === "v0.9.3")
    assert(cfg.cdeVersion === "v4.4")
    assert(cfg.tablesFor("Human") === Seq("DATA", "SAMPLE", "CLINPATH"))
    assert(cfg.tablesFor("Mouse") === Seq("DATA", "SAMPLE"))
    assertThrows[IllegalArgumentException](AppSchema.parse("""{"app_version":"v1"}"""))
  }

  test("vocab diff both directions (J4)") {
    val (onlyInRule, onlyInKeys) =
      AppSchema.vocabDiff(Seq("a", "b", "c"), Seq("b", "c", "d"))
    assert(onlyInRule === Seq("a"))
    assert(onlyInKeys === Seq("d"))
  }
}
