package graft

import org.apache.spark.sql.functions.lit

import graft.model.{Requirement, Rule, RuleType}
import graft.norm.Normalize
import graft.operators.ValidationPass
import graft.report.{Report, ReportCollector}

/** Replays the reference's SAMPLE golden expectation (FIXTURES.md §1 /
  * /root/reference/resource/tester_files/README.md): required
  * `condition_id` has invalid 'IBD' in 2 cells but 1 DISTINCT value;
  * multi-enum `region_level_1` with ';'-joined vocab values is valid. */
class ValidationPassSpec extends SparkSpec {
  import spark.implicits._

  val rules = Seq(
    Rule("SAMPLE", "sample_id", RuleType.RegexT, Requirement.Required,
      pattern = "S[0-9]+"),
    Rule("SAMPLE", "condition_id", RuleType.EnumT, Requirement.Required,
      validation = Seq("PD", "Control", "Prodromal", "Other")),
    Rule("SAMPLE", "region_level_1", RuleType.EnumT, Requirement.Optional,
      validation = Seq("cortex", "striatum", "midbrain"), allowMultiEnum = true),
    Rule("SAMPLE", "age", RuleType.IntegerT, Requirement.Optional),
    Rule("SAMPLE", "notes", RuleType.StringT, Requirement.Optional),
    Rule("SAMPLE", "assigned_col", RuleType.StringT, Requirement.Assigned),
    Rule("SAMPLE", "absent_req", RuleType.StringT, Requirement.Required),
    Rule("SAMPLE", "absent_opt", RuleType.StringT, Requirement.Optional))

  def sampleDf = Seq(
    ("S1", "PD", "cortex;striatum", "61", "ok"),
    ("S2", "IBD", "cortex", "70.0", ""),
    ("S3", "Control", "NA", "nan", "x"),
    ("S4", "IBD", "midbrain", "NA", "y"),
    ("S5", "Other", "cortex; striatum", "80", "z")
  ).toDF("sample_id", "condition_id", "region_level_1", "age", "notes")

  lazy val result = ValidationPass.evalTable(
    Normalize.normalizeDf(sampleDf), "SAMPLE", rules)

  test("missing columns: required + optional, Assigned excluded from totals") {
    assert(result.missingRequired === Seq("absent_req"))
    assert(result.missingOptional === Seq("absent_opt"))
    assert(result.totalRequired === 3) // sample_id, condition_id, absent_req
    assert(result.totalOptional === 4)
    assert(result.nRows === 5)
  }

  test("invalid entries: distinct offending values, first-appearance order") {
    val cond = result.columns.find(_.rule.field === "condition_id").get
    assert(cond.failingValues === Seq("IBD")) // 2 cells, 1 distinct value
    assert(cond.nInvalidCells === 2L)
    val region = result.columns.find(_.rule.field === "region_level_1").get
    assert(region.failingValues.isEmpty) // multi-enum ';' values valid
    val age = result.columns.find(_.rule.field === "age").get
    assert(age.failingValues.isEmpty) // 61, 70.0, nan→NA, NA, 80 all valid
  }

  test("null accounting: partial nulls counted per normalized sentinel") {
    val notes = result.columns.find(_.rule.field === "notes").get
    assert(notes.nNull === 1L) // "" → NA
    assert(!notes.allNull)
    val region = result.columns.find(_.rule.field === "region_level_1").get
    assert(region.nNull === 1L)
  }

  test("report: counters + exact message strings; saved log drops success/warning") {
    val rc = new ReportCollector
    val (errors, warnings) = Report.compose(result, "SAMPLE", rc)
    // errors: 1 missing required + 1 invalid required (condition_id)
    assert(errors === 2)
    // warnings: 1 missing optional + partial-null columns (age, notes, region_level_1)
    assert(warnings === 1 + result.nullColumns.size)
    val log = rc.getLog
    assert(log.contains(
      "❌ -- Missing 1/3 **required** columns in *SAMPLE*: absent_req"))
    assert(log.contains(
      "❌ -- 1 **required** columns with invalid values in *SAMPLE*: condition_id"))
    assert(log.contains("- **Required** column `condition_id` has 1 invalid values:\n" +
      "  - **Invalid values:** 'IBD'\n" +
      "  - **Expected:** 'PD', 'Control', 'Prodromal', 'Other'"))
    // success + warning entries are dropped from the serialized log
    assert(!log.contains("✅"))
    assert(!log.contains("⚠️"))
    assert(rc.entries.exists(_._1 == "warning")) // but they exist in-memory
  }

  test("violations dataset is sparse and matches the invalid cells") {
    val vio = result.violations.collect()
    assert(vio.count(_.getString(1) == "SAMPLE.condition_id") === 2)
    assert(vio.length === 2)
  }

  test("header-only table: zero rows, nothing all-null (len>0 guard)") {
    val empty = sampleDf.limit(0)
    val r = ValidationPass.evalTable(Normalize.normalizeDf(empty), "SUBJECT", rules)
    assert(r.nRows === 0)
    assert(r.allNullRequired.isEmpty && r.allNullOptional.isEmpty)
    assert(r.nullColumns.isEmpty)
  }

  test("capped offender collection keeps exact totals and first-appearance prefix") {
    val df = Seq("v1", "v2", "v1", "v3", "v4").toDF("condition_id")
      .withColumn("sample_id", lit("S1"))
    val r = ValidationPass.evalTable(Normalize.normalizeDf(df), "SAMPLE",
      rules.filter(_.field == "condition_id"), maxOffendersPerRule = 2)
    val c = r.columns.head
    assert(c.failingValues === Seq("v1", "v2")) // first-appearance prefix
    assert(c.nDistinctFailing === 4L) // exact despite cap
    assert(c.nInvalidCells === 5L)    // exact despite cap
  }

  test("Engine default cap bounds driver state on an all-garbage column") {
    // more distinct offenders than the default cap: the driver-side list
    // must truncate at the cap while totals stay exact
    val n = graft.Engine.DefaultMaxOffenders + 37
    val df = (1 to n).map(i => f"junk_$i%06d").toDF("condition_id")
      .withColumn("sample_id", lit("S1"))
    val out = graft.Engine.validateTable(Normalize.normalizeDf(df), "SAMPLE",
      rules.filter(_.field == "condition_id"))
    val c = out.result.columns.head
    assert(c.failingValues.size === graft.Engine.DefaultMaxOffenders)
    assert(c.nDistinctFailing === n.toLong) // exact despite cap
    assert(c.nInvalidCells === n.toLong)
  }

  test("clean-row filter: violationsFor equals the unfiltered explode on random frames") {
    import org.apache.spark.sql.functions.{array, col, explode, filter, struct, when}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.Predicates
    val cdeRules = Seq(
      Rule("T", "int_c", RuleType.IntegerT, Requirement.Required, fillNull = Seq("unknown")),
      Rule("T", "float_c", RuleType.FloatT, Requirement.Optional),
      Rule("T", "enum_c", RuleType.EnumT, Requirement.Required, validation = Seq("a", "b")),
      Rule("T", "multi_c", RuleType.EnumT, Requirement.Optional,
        validation = Seq("a", "b", "c"), allowMultiEnum = true),
      Rule("T", "re_c", RuleType.RegexT, Requirement.Optional, pattern = "S[0-9]+"),
      Rule("T", "badre_c", RuleType.RegexT, Requirement.Optional, pattern = "(unclosed"),
      Rule("T", "str_c", RuleType.StringT, Requirement.Optional))
    val fields = cdeRules.map(_.field)
    // cells hit try_cast integers ("1e3", "5.0", "x"), multi-enum token
    // lists, the NA sentinel, and raw nulls, which make predicates null
    val cell: Gen[String] = Gen.oneOf(null, "NA", "", " ", "1", "5.0", "1e3", "-3",
      "2.5", "x", "a", "b", "a;b", "a; c", "a;;b", "d;a", "unknown", "S12", "S", "(unclosed")
    val rowGen = Gen.listOfN(fields.size, cell)
    (0 until 12).foreach { seed =>
      val n = 1 + seed * 9
      val rows = (0 until n).flatMap(i =>
        rowGen.apply(org.scalacheck.Gen.Parameters.default, Seed(seed * 1000L + i)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r: _*)), 3),
        org.apache.spark.sql.types.StructType(fields.map(f =>
          org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.StringType))))
      val keyed = ValidationPass.withRowKey(df)
      val got = ValidationPass.violationsFor(keyed, cdeRules, ValidationPass.RowKey).collect()
      // oracle: the pre-filter spelling, every row through the explode
      val cells = cdeRules.map(r => when(Predicates.invalid(r, col(r.field)),
        struct(lit(r.ruleId).as("rule_id"), col(r.field).cast("string").as("offending_value"))))
      val unfiltered = keyed
        .select(col(ValidationPass.RowKey), explode(filter(array(cells: _*), x => x.isNotNull)).as("v"))
        .select(col(ValidationPass.RowKey), col("v.rule_id"), col("v.offending_value"))
        .collect()
      assert(got.toSeq === unfiltered.toSeq, s"seed=$seed rows=$rows")
    }
  }

  test("only unconstrained String rules: the filter folds to false, stats stay exact") {
    val strRules = Seq(
      Rule("T", "a", RuleType.StringT, Requirement.Required),
      Rule("T", "b", RuleType.StringT, Requirement.Optional))
    val df = Seq(("x", "NA"), ("NA", ""), ("y", "z"), ("", null)).toDF("a", "b")
    val r = ValidationPass.evalTable(Normalize.normalizeDf(df), "T", strRules,
      graft.Engine.DefaultMaxOffenders)
    assert(r.nRows === 4L)
    assert(r.columns.map(c => c.rule.field -> c.nNull) === Seq("a" -> 2L, "b" -> 3L))
    assert(r.columns.forall(c => c.failingValues.isEmpty && c.nInvalidCells == 0L))
    assert(r.violations.count() === 0L)
  }

  test("a table with no violation is read once, and its stats stay exact") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val dir = java.nio.file.Files.createTempDirectory("graft_clean_table").toString
    val n = 20000
    // every age is a valid integer; every 7th note is the NA sentinel
    (0 until n).map(i => (i.toString, if (i % 7 == 0) "NA" else s"note $i"))
      .toDF("age", "notes").repartition(4).write.parquet(s"$dir/t")
    val tableRules = Seq(
      Rule("T", "age", RuleType.IntegerT, Requirement.Required),
      Rule("T", "notes", RuleType.StringT, Requirement.Optional))
    // records read from files by the tasks of `body`'s jobs (a range
    // counts its rows as records read, but no bytes); the listener has
    // seen them all once it sees the marker job that follows
    def recordsRead[T](body: => T): (T, Long) = {
      val (read, marker) = (new AtomicLong, new CountDownLatch(1))
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).map(_.inputMetrics).filter(_.bytesRead > 0)
            .foreach(m => read.addAndGet(m.recordsRead))
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val out = body
        spark.sparkContext.setJobDescription("marker")
        spark.range(1).collect()
        assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
        (out, read.get)
      } finally {
        spark.sparkContext.setJobDescription(null)
        spark.sparkContext.removeSparkListener(l)
      }
    }
    val (r, read) = recordsRead(ValidationPass.evalTable(
      Normalize.normalizeDf(spark.read.parquet(s"$dir/t")), "T", tableRules))
    assert(read === n.toLong)
    assert(r.nRows === n.toLong)
    assert(r.columns.map(c => c.rule.field -> c.nNull) ===
      Seq("age" -> 0L, "notes" -> ((n + 6) / 7).toLong))
    assert(r.columns.forall(c => c.failingValues.isEmpty && c.nInvalidCells == 0L))
  }

  test("all-null required column detected") {
    val df = Seq(("S1", "NA"), ("S2", "")).toDF("sample_id", "condition_id")
    val r = ValidationPass.evalTable(Normalize.normalizeDf(df), "SAMPLE",
      rules.filter(r => Set("sample_id", "condition_id").contains(r.field)))
    assert(r.allNullRequired === Seq("condition_id"))
    // all-NA enum column with no NA in vocab: cells are also invalid
    val cond = r.columns.find(_.rule.field === "condition_id").get
    assert(cond.failingValues === Seq("NA"))
  }

  test("schema check: missing / extra / type / nullability diffs, gate semantics") {
    import org.apache.spark.sql.types._
    import graft.operators.SchemaCheck
    val contract = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false)),
      StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    val drifted = StructType(Seq(
      StructField("doc_id", StringType, nullable = true),   // relaxed
      StructField("tokens", ArrayType(LongType, containsNull = false)), // widened
      StructField("source", StringType),                    // n_tok dropped
      StructField("quality", DoubleType)))                  // new column
    val v = SchemaCheck.diff(drifted, contract)
    assert(v === Seq(
      SchemaCheck.SchemaViolation("doc_id", "R_SCHEMA_NULLABILITY",
        "expected required, found nullable"),
      SchemaCheck.SchemaViolation("n_tok", "R_SCHEMA_MISSING", "expected int"),
      SchemaCheck.SchemaViolation("quality", "R_SCHEMA_EXTRA", "found double"),
      SchemaCheck.SchemaViolation("tokens", "R_SCHEMA_TYPE",
        "expected array<int>, found array<bigint>")))
    // additive evolution: extras suppressed, the rest still reported
    assert(!SchemaCheck.diff(drifted, contract, allowExtra = true)
      .exists(_.ruleId == "R_SCHEMA_EXTRA"))
    // gate: identical (or nullability-only-drifted) schemas validate
    assert(SchemaCheck.compatible(contract, contract))
    val relaxedOnly = StructType(contract.fields.map(_.copy(nullable = true)))
    assert(SchemaCheck.compatible(relaxedOnly, contract))
    assert(!SchemaCheck.compatible(drifted, contract), "missing+type drift blocks")
    // DataFrame flavor carries the engine violation-row shape
    val df = SchemaCheck.violations(spark, drifted, contract)
    assert(df.columns === Array("field", "rule_id", "offending_value"))
    assert(df.count() === 4)
  }
}
