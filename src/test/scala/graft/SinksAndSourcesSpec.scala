package graft

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Registry
import graft.model.{Requirement, Rule, RuleType}
import graft.report.ReportCollector
import graft.sources.{CsvIngest, RuleTable, Sinks, ValidCategories}

/** Sinks (S8/S9/S10) + ValidCategories status machinery (S7/P14) +
  * encoding fallback (S1) + the graft function table via GraftExtensions,
  * Column helpers and SQL argument checks. */
class SinksAndSourcesSpec extends SparkSpec {
  import spark.implicits._

  val rules = Seq(
    Rule("T1", "a", RuleType.StringT, Requirement.Required, description = "col a"),
    Rule("T1", "b", RuleType.EnumT, Requirement.Optional,
      validation = Seq("x", "y"), fillNull = Seq("NA"), description = "col b"),
    Rule("T2", "c", RuleType.IntegerT, Requirement.Required, description = "col c"))

  test("template ZIP: one {TABLE}.csv with six rows, Enum keeps literal, marker otherwise") {
    val bytes = Sinks.buildTemplatesZip(rules)
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    var entries = Map.empty[String, String]
    var e = zin.getNextEntry
    while (e != null) {
      entries += e.getName -> new String(zin.readAllBytes(), "UTF-8")
      e = zin.getNextEntry
    }
    assert(entries.keySet === Set("T1.csv", "T2.csv"))
    val t1 = entries("T1.csv").split("\n")
    assert(t1.length === 6)
    assert(t1(0) === "a,b")
    assert(t1(2) === "String,Enum")
    assert(t1(4) === "Validation:String,\"['x', 'y']\"")
    val t2 = entries("T2.csv").split("\n")
    assert(t2(4) === "Validation:Integer")
  }

  test("sanitized CSV back-fills missing CDE columns with the sentinel") {
    val df = Seq(("v1", "x")).toDF("a", "b")
    val out = java.nio.file.Files.createTempDirectory("graft_san").toString + "/t1"
    Sinks.sanitizedCsv(df, rules.filter(_.table == "T1") :+
      Rule("T1", "extra_required", RuleType.StringT, Requirement.Required), out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSet === Set("a", "b", "extra_required"))
    assert(back.select("extra_required").head().getString(0) === "NA")
  }

  test("markdown log sink writes exactly getLog bytes") {
    val rc = new ReportCollector
    rc.addHeader("QC")
    rc.addSuccess("dropped")
    rc.addError("❌ -- bad")
    val p = java.nio.file.Files.createTempFile("graft_log", ".md").toString
    Sinks.writeLog(rc, p)
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(content === "# QC\n❌ -- bad\n")
  }

  test("status classification: invalid / transient / hard-invalid") {
    val df = Seq(
      ("r1", "Ok: loaded"), ("r2", "Loading..."), ("r3", ""),
      ("r4", "Error: boom"), ("r5", " Ok: trailing ")
    ).toDF("id", "Status")
    val split = ValidCategories.classifyStatus(df, "Status")
    assert(split.invalid.select("id").as[String].collect().toSet === Set("r2", "r3", "r4"))
    assert(split.transient_.select("id").as[String].collect().toSet === Set("r2", "r3"))
    assert(split.hardInvalid.select("id").as[String].collect().toSet === Set("r4"))
  }

  test("status retry: returns once all Ok; bails early on hard-invalid") {
    var calls = 0
    val frames = Seq(
      Seq(("r1", "Loading...")).toDF("id", "Status"),
      Seq(("r1", "Ok: done")).toDF("id", "Status"))
    val got = ValidCategories.loadWithStatusRetry(
      () => { val f = frames(math.min(calls, 1)); calls += 1; f },
      maxTries = 3, sleepMillis = 1)
    assert(calls === 2) // retried once, then clean
    assert(got.select("Status").head().getString(0) === "Ok: done")

    var calls2 = 0
    ValidCategories.loadWithStatusRetry(
      () => { calls2 += 1; Seq(("r1", "Error: nope")).toDF("id", "Status") },
      maxTries = 5, sleepMillis = 1)
    assert(calls2 === 1) // hard error: no retry
  }

  test("encoding fallback ladder lands on a clean parse") {
    val p = java.nio.file.Files.createTempFile("graft_enc", ".csv")
    java.nio.file.Files.write(p, "a,b\n1,café\n".getBytes("UTF-8"))
    val (df, enc) = CsvIngest.readCsvWithEncodingFallback(spark, p.toString, ',')
    assert(enc === "UTF-8")
    assert(df.count() === 1)
  }

  test("BOM-prefixed header is stripped by the encoding fallback read") {
    val p = java.nio.file.Files.createTempFile("graft_bom", ".csv")
    java.nio.file.Files.write(p, "\uFEFFa,b\n1,2\n".getBytes("UTF-8"))
    val (df, enc) = CsvIngest.readCsvWithEncodingFallback(spark, p.toString, ',')
    assert(enc === "UTF-8")
    assert(df.columns.toSeq === Seq("a", "b"))
  }

  test("encoding ladder: cp1252 bytes fall through strict UTF-8 to windows-1252") {
    // a bare 0xE9 (é in cp1252/latin-1) is an invalid UTF-8 sequence —
    // the strict probe must reject the UTF-8 rung (Spark's own decode
    // would silently substitute U+FFFD and accept mojibake)
    val p = java.nio.file.Files.createTempFile("graft_cp1252", ".csv")
    java.nio.file.Files.write(p, Array[Byte](
      'a', ',', 'b', '\n', '1', ',', 'c', 'a', 'f', 0xE9.toByte, '\n'))
    val (df, enc) = CsvIngest.readCsvWithEncodingFallback(spark, p.toString, ',')
    assert(enc === "windows-1252")
    assert(df.select("b").head().getString(0) === "café") // é intact
  }

  test("encoding ladder: cp1252-undefined byte 0x81 falls through to latin-1") {
    val p = java.nio.file.Files.createTempFile("graft_latin1", ".csv")
    java.nio.file.Files.write(p, Array[Byte](
      'a', '\n', 0x81.toByte, '\n'))
    assert(CsvIngest.detectEncoding(spark, p.toString) === "ISO-8859-1")
  }

  test("strict decode probe: truncation mid-sequence is not malformed") {
    val full = "a,café\n".getBytes("UTF-8")
    val cut = full.take(full.length - 2) // ends inside the 2-byte é
    assert(CsvIngest.decodesStrictly(cut, "UTF-8", truncated = true))
    assert(!CsvIngest.decodesStrictly(cut, "UTF-8", truncated = false))
    assert(CsvIngest.decodesStrictly(full, "UTF-8", truncated = false))
  }

  test("row counts: strict/forgiving ladder mirrors the reference outcomes") {
    def counts(content: String): CsvIngest.RowCounts = {
      val p = java.nio.file.Files.createTempFile("graft_rc", ".csv")
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
      CsvIngest.rowCounts(spark, p.toString, ',')
    }
    // clean file: strict parses, count = data rows
    val clean = counts("a,b\n1,2\n3,4\n")
    assert(clean === CsvIngest.RowCounts(2, 2) && clean.effective === 2)
    // a row with EXTRA fields: strict fails (-1), forgiving skips it
    val over = counts("a,b\n1,2\n1,2,3\n5,6\n")
    assert(over === CsvIngest.RowCounts(-1, 2) && over.effective === 2)
    // fewer fields pad (pandas keeps them); blank lines don't count
    val under = counts("a,b\n1\n\n3,4\n")
    assert(under === CsvIngest.RowCounts(2, 2))
    // header only → 0 (reference: <=1 non-empty lines)
    assert(counts("a,b\n").effective === 0)
  }

  test("CDE completeness: ok-NA fill, offender labels, first-10 + more") {
    import spark.implicits._
    val base = Seq(
      ("T1", "f1", "Enum", "Required", null: String, null: String),
      ("T2", null: String, "String", "Required", "x", "y"),
      (null: String, "f3", null: String, "Required", "x", "y"))
      .toDF("Table", "Field", "DataType", "Required", "Validation", "FillNull")
      .withColumn("DisplayName", lit("d")).withColumn("Description", lit("d"))
      .withColumn("SpecificSpecies", lit(null: String))
      .withColumn("SpecificSampleSource", lit(null: String))
      .withColumn("SpecificAssays", lit(null: String))
      .withColumn("AllowMultiEnum", lit(null: String))
    val mandatory = Seq("Table", "Field", "DisplayName", "Description", "DataType",
      "Required", "Validation", "FillNull", "SpecificSpecies",
      "SpecificSampleSource", "SpecificAssays", "AllowMultiEnum")
    val (filled, errs) = RuleTable.validateCompleteness(base, mandatory)
    // ok-NA columns got the "None" placeholder (row 1's Validation)
    assert(filled.where(col("Validation") === "None").count() === 1)
    assert(errs.size === 1)
    // offenders: row1 (null FillNull — mandatory, not ok-NA), row2 (null
    // Field), row3 (null Table+DataType) — labels with UNKNOWN fill
    assert(errs.head.contains("T1.f1") && errs.head.contains("T2.UNKNOWN")
      && errs.head.contains("UNKNOWN.f3"))
    assert(errs.head.startsWith(
      "The CDE spreadsheet has NULL values in required columns."))
    // missing mandatory column reported by name
    val (_, errs2) = RuleTable.validateCompleteness(
      base.drop("FillNull"), mandatory)
    assert(errs2 === Seq("CDE is missing required column 'FillNull'"))
    // complete table → no errors
    val ok = base.na.fill("v")
    assert(RuleTable.validateCompleteness(ok, mandatory)._2.isEmpty)
  }

  test("delimiter conversion rewrites semicolon CSV as comma CSV") {
    val in = java.nio.file.Files.createTempFile("graft_conv", ".csv")
    java.nio.file.Files.write(in, "a;b\n1;hello world\n2;x\n".getBytes("UTF-8"))
    val out = java.nio.file.Files.createTempDirectory("graft_conv_out").toString + "/out"
    CsvIngest.convertDelimiter(spark, in.toString, out, from = ';')
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq === Seq("a", "b"))
    assert(back.orderBy("a").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("1", "hello world"), ("2", "x")))
  }

  test("specificity filter: empty axis applies to all, non-empty must contain") {
    import graft.model.{Requirement, Rule, RuleType}
    val all = Rule("T", "f1", RuleType.StringT, Requirement.Required)
    val humanOnly = Rule("T", "f2", RuleType.StringT, Requirement.Required,
      specificSpecies = Seq("Human"))
    val mouseBrain = Rule("T", "f3", RuleType.StringT, Requirement.Required,
      specificSpecies = Seq("Mouse"), specificSampleSource = Seq("Brain"))
    val rules = Seq(all, humanOnly, mouseBrain)
    assert(RuleTable.filterForSelection(rules, "Human", "Blood", "RNAseq")
      .map(_.field) === Seq("f1", "f2"))
    assert(RuleTable.filterForSelection(rules, "Mouse", "Brain", "RNAseq")
      .map(_.field) === Seq("f1", "f3"))
    assert(RuleTable.filterForSelection(rules, "Mouse", "Blood", "RNAseq")
      .map(_.field) === Seq("f1"))
  }

  test("Other option injected into step-1 selections exactly once") {
    import graft.sources.AppSchema
    val base = AppSchema.SelectionOptions(
      species = Seq("Human", "Mouse"),
      sampleSources = Seq("Brain", "Other"), // already present → unchanged
      assayTypes = Seq("RNAseq"),
      assayLabelToKey = Map("RNAseq" -> "rnaseq"))
    val got = AppSchema.ensureOtherOptions(base)
    assert(got.species === Seq("Human", "Mouse", "Other"))
    assert(got.sampleSources === Seq("Brain", "Other"))
    assert(got.assayTypes === Seq("RNAseq", "Other"))
    assert(got.assayLabelToKey("Other") === "other")
    assert(got.assayKeys.contains("other"))
    // idempotent
    assert(AppSchema.ensureOtherOptions(got) === got)
  }

  /** Runs `f` with `s` as the active and default session, then puts the
    * shared test session back in both roles. */
  private def withSession[T](s: SparkSession)(f: => T): T =
    try { SparkSession.setActiveSession(s); SparkSession.setDefaultSession(s); f }
    finally { SparkSession.setActiveSession(spark); SparkSession.setDefaultSession(spark) }

  /** charEntropy, winnow and diagMahalanobis through their Column
    * helpers, on whichever session is active. */
  private def helperRow(s: SparkSession): (Double, Seq[Long], Double) = {
    import graft.functions.{TextExpressions, VectorExpressions}
    val r = s.range(1).select(
      TextExpressions.charEntropy(lit("abab")),
      TextExpressions.winnow(lit("the quick brown fox jumps over the lazy dog"), 3, 2),
      VectorExpressions.diagMahalanobis(array(lit(1.0), lit(2.0)), Seq(0.0, 0.0), Seq(1.0, 2.0)))
      .head()
    (r.getDouble(0), r.getSeq[Long](1), r.getDouble(2))
  }

  test("custom expressions callable from plain SQL via GraftExtensions") {
    // every table function resolves in an extension session, from SQL and
    // through the Column helpers
    val expected = helperRow(spark)
    assert(expected._1 === 1.0 && expected._2.nonEmpty && expected._3 === 9.0)
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    withSession(ext) {
      val missing = Registry.all.map(_.name).filterNot(ext.catalog.functionExists)
      assert(missing.isEmpty, s"not injected: $missing")
      val r = ext.sql(
        "SELECT graft_char_entropy('abab') AS h, " +
        "graft_jaro_winkler('martha', 'marhta') AS jw, " +
        "graft_winnow('the quick brown fox jumps over the lazy dog', 3, 2) AS w").head()
      assert(r.getDouble(0) === 1.0)
      assert(math.abs(r.getDouble(1) - 0.9611111) < 1e-6)
      assert(r.getSeq[Long](2) === expected._2)
      assert(helperRow(ext) === expected)
    }
    assert(SparkSession.active eq spark)
  }

  test("bare session: Column helpers register just their own functions") {
    val expected = helperRow(spark)
    val bare = SparkSession.builder().create()
    withSession(bare) {
      assert(!bare.catalog.functionExists("graft_char_entropy"))
      assert(helperRow(bare) === expected)
      assert(Seq("graft_char_entropy", "graft_winnow", "graft_diag_mahalanobis")
        .forall(bare.catalog.functionExists))
      assert(!bare.catalog.functionExists("graft_cosine"))
      Registry.register(bare)
      assert(Registry.all.map(_.name).forall(bare.catalog.functionExists))
    }
  }

  test("graft SQL functions reject a wrong argument count or a column in a constant slot") {
    def err(q: String): String = {
      val e = intercept[Exception](spark.sql(q).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    assert(err("SELECT graft_shingles('a b c')")
      .contains("graft_shingles(text, n): expects 2 arguments, got 1"))
    assert(err("SELECT graft_shingles(t, n) FROM VALUES ('a b c', 2) AS v(t, n)")
      .contains("graft_shingles(text, n): argument 2 (n) must be a constant"))
    assert(err("SELECT graft_histogram(x, 0.0D) FROM VALUES (1.0D) AS v(x)")
      .contains("graft_histogram(col, lo, hi, nBins): expects 4 arguments, got 2"))
    assert(err("SELECT graft_multienum_valid('a', NULL)")
      .contains("graft_multienum_valid(cell, vocab): argument 2 (vocab) must not be NULL"))
    // the same calls with valid arguments still plan and run
    assert(spark.sql("SELECT graft_shingles('a b c', 2)").head().getSeq[String](0) ===
      Seq("a b", "b c"))
  }

  test("WARC file splitter + header parse: records, payloads, degraded headers") {
    import graft.sources.WarcIngest
    val crlf = "\r\n"
    def rec(uri: String, cl: String, payload: Option[String]): String =
      s"WARC/1.0${crlf}WARC-Type: response${crlf}" +
        s"WARC-Target-URI: $uri${crlf}Content-Length: $cl$crlf" +
        s"Content-Type: text/plain$crlf" +
        payload.map(p => crlf + p).getOrElse("")
    val dir = java.nio.file.Files.createTempDirectory("warc").toFile
    val f = new java.io.File(dir, "a.warc")
    val w = new java.io.FileWriter(f)
    w.write(rec("http://a/1", "5", Some("hello")) +
      rec("http://a/2", "junk", Some("body two")) +
      rec("http://a/3", "0", None))
    w.close()
    val parsed = WarcIngest.readRecords(spark, f.getAbsolutePath)
      .select(WarcIngest.parseRecord(col("record")).as("w"))
      .select("w.target_uri", "w.content_length", "w.payload",
        "w.payload_len", "w.warc_type")
      .orderBy("target_uri")
      .collect()
    assert(parsed.length === 3)
    assert(parsed(0).getString(0) === "http://a/1" &&
      parsed(0).getLong(1) === 5L && parsed(0).getString(2) === "hello")
    // garbled Content-Length NULLs instead of failing under ANSI
    assert(parsed(1).isNullAt(1) && parsed(1).getString(2) === "body two")
    // no blank-line separator: null payload, len 0
    assert(parsed(2).isNullAt(2) && parsed(2).getLong(3) === 0L)
    assert(parsed.forall(_.getString(4) == "response"))
  }

  test("robots.txt parse: comments, CRLF, empty directives, pre-group lines") {
    import graft.operators.WebFilter
    val body = "Disallow: /orphan\r\n" +        // before any agent: dropped
      "User-Agent: *\r\n" +                      // case-insensitive name
      "Disallow: /private # comment\r\n" +
      "allow: /private/ok\r\n" +
      "Disallow:\r\n" +                          // empty value: no-op
      "\r\n" +
      "User-agent: badbot\r\nDisallow: /\r\n"
    val got = WebFilter.parseRobots(
        Seq((1L, body)).toDF("id", "body"), "id", "body")
      .orderBy("line_no")
      .select("user_agent", "allow", "prefix")
      .as[(String, Boolean, String)].collect()
    assert(got === Array(
      ("*", false, "/private"),
      ("*", true, "/private/ok"),
      ("badbot", false, "/")))
  }
}
