package graft

import org.apache.spark.sql.functions._

import graft.operators.{Drift, Referential, Uniqueness, ValidationPass}
import graft.sources.SeqTableGen

/** End-to-end engine slice over the deterministic tokenized-sequence
  * table (SURVEY.md §7.2): the five north-star constraints, uniqueness,
  * referential, drift, and the token-array-equality invariant. */
class SeqEngineSpec extends SparkSpec {
  import spark.implicits._

  val N = 20000L
  lazy val df = SeqTableGen.generate(spark, N).cache()

  test("generator is deterministic and partition-invariant") {
    val a = SeqTableGen.generate(spark, 1000, numPartitions = 2)
    val b = SeqTableGen.generate(spark, 1000, numPartitions = 7)
    assert(a.orderBy("doc_id").collect().toSeq === b.orderBy("doc_id").collect().toSeq)
  }

  test("seeded violations are detected by the constraint pass") {
    val vio = ValidationPass.seqViolations(
      df, ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources))
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedPer = (0L until N).count(_ % 997 == 0) // ≈ N/997 per class
    assert(vio("R_NONNULL_DOCID") === expectedPer)
    assert(vio("R_NTOK_EQ_SIZE") === (0L until N).count(_ % 997 == 2))
    assert(vio("R_TOKEN_RANGE") === (0L until N).count(_ % 997 == 3))
    assert(vio("R_ENUM_SOURCE") === (0L until N).count(_ % 997 == 4))
    // regex violations: malformed ids PLUS blank ids (blank fails regex too)
    assert(vio("R_REGEX_DOCID") ===
      (0L until N).count(i => i % 997 == 0 || i % 997 == 1))
  }

  test("uniqueness: salted two-level agg finds duplicates incl. hot key") {
    val dups = Uniqueness.duplicates(df, "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hotCount = dups.getOrElse("doc_000000000042", 0L)
    // id 42 itself + every id ≡ 6 (mod 4991)
    assert(hotCount === 1 + (0L until N).count(_ % 4991 == 6))
    val simple = Uniqueness.duplicatesSimple(df, "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dups === simple) // salted and plain agree
    val (nRows, _, maybeDup) = Uniqueness.probabilisticCheck(df, "doc_id")
    assert(nRows === N)
  }

  test("referential: wiki is enum-valid but orphaned vs allowlist") {
    val allow = SeqTableGen.RefAllowlist.toDF("source")
    val orphans = Referential.orphans(df, "source", allow, "source")
    val bySource = orphans.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.contains("wiki"))
    assert(bySource.contains("scraped")) // seeded stray is also orphaned
    assert(bySource.size === 2)
  }

  test("drift: identical distribution passes, shifted distribution flags") {
    val clean = SeqTableGen.generate(spark, 10000, withViolations = false)
    val baselineHist = Drift.numericHistogram(clean, "n_tok", 0, 300, 64)
    val baselineFreq = Drift.categoricalFreq(clean, "source")

    val same = SeqTableGen.generate(spark, 10000, seed = 43, withViolations = false)
    val okVerdict = Drift.check(same, "n_tok", baselineHist, "source", baselineFreq)
    assert(!okVerdict.ksDrifted, s"false positive: $okVerdict")
    assert(!okVerdict.chiDrifted, s"false positive: $okVerdict")

    // shift n_tok by +40 and skew source frequencies
    val shifted = clean
      .withColumn("n_tok", col("n_tok") + 40)
      .withColumn("source", lit("web"))
    val badVerdict = Drift.check(shifted, "n_tok", baselineHist, "source", baselineFreq)
    assert(badVerdict.ksDrifted, s"missed drift: $badVerdict")
    assert(badVerdict.chiDrifted, s"missed drift: $badVerdict")
  }

  test("token-array equality invariant between input and validated output") {
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    val allValid = constraints.map(_.valid).reduce(_ && _)
    // the engine's validated output: constraint-clean AND unique doc_ids
    // (duplicated ids are ambiguous join keys, excluded by the
    // uniqueness stage before the invariant is asserted)
    val dups = Uniqueness.duplicatesSimple(df, "doc_id").select("doc_id")
    val validated = df.where(allValid).join(broadcast(dups), Seq("doc_id"), "left_anti")
    val joined = df.as("in").join(validated.as("out"), Seq("doc_id"))
      .where(not($"in.tokens" === $"out.tokens"))
    assert(joined.count() === 0)
    assert(validated.count() > 0)
  }

  test("rule-table-driven constraints match the native seq constraints") {
    import graft.model.{Requirement, Rule, RuleType}
    // the reference-style rule rows equivalent to the native doc_id
    // regex + source enum constraints
    val rules = Seq(
      Rule("seq", "doc_id", RuleType.RegexT, Requirement.Required,
        pattern = "doc_[0-9]{12}"),
      Rule("seq", "source", RuleType.EnumT, Requirement.Required,
        validation = SeqTableGen.Sources))
    val bridged = ValidationPass.seqConstraintsFromRules(rules)
    assert(bridged.map(_.ruleId) === Seq("R_REQUIRED_DOC_ID", "R_REGEX_DOC_ID",
      "R_REQUIRED_SOURCE", "R_ENUM_SOURCE"))
    val native = ValidationPass
      .seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
      .filter(c => Set("R_NONNULL_DOCID", "R_REGEX_DOCID", "R_ENUM_SOURCE")(c.ruleId))
    def rows(cs: Seq[ValidationPass.SeqConstraint], renames: Map[String, String]) =
      ValidationPass.seqViolations(df, cs)
        .select($"doc_id",
          coalesce(typedLit(renames).apply($"rule_id"), $"rule_id").as("rule_id"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // align ids: bridged REQUIRED/REGEX/ENUM ↔ native NONNULL/REGEX/ENUM
    val b = rows(bridged, Map(
      "R_REQUIRED_DOC_ID" -> "R_NONNULL_DOCID",
      "R_REGEX_DOC_ID" -> "R_REGEX_DOCID",
      "R_REQUIRED_SOURCE" -> "R_X", // no native analogue; drop below
      "R_ENUM_SOURCE" -> "R_ENUM_SOURCE"))
      .filterNot(_._2 == "R_X")
    val n = rows(native, Map.empty)
    assert(b === n, s"bridged=${b.size} native=${n.size}")
  }

  test("quarantine split: exact partition, byte-identical clean rows, rule tags") {
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    val (clean, dirty) = ValidationPass.splitValid(df, constraints)
    // the two sides partition the input exactly
    assert(clean.count() + dirty.count() === df.count())
    assert(clean.columns === df.columns, "clean passes through unprojected")
    // clean side carries the token arrays byte-identical (the north-star
    // per-row invariant) — re-join by id over the unique-id subset
    val uniq = df.groupBy("doc_id").count().where($"count" === 1).select("doc_id")
    val diff = df.as("in").join(clean.as("out"), Seq("doc_id"))
      .join(uniq, Seq("doc_id"))
      .where(not($"in.tokens" === $"out.tokens"))
    assert(diff.count() === 0)
    // dirty rule tags agree with the violations dataset per row count:
    // every rule id appearing in seqViolations appears in some tag array
    val vioRules = ValidationPass.seqViolations(df, constraints)
      .select("rule_id").distinct().as[String].collect().toSet
    val tagRules = dirty.select(explode($"violated_rules").as("r"))
      .distinct().as[String].collect().toSet
    assert(tagRules === vioRules)
    // no clean row violates anything
    assert(ValidationPass.seqViolations(clean, constraints).count() === 0)
  }

  test("validate-batch produces the same per-partition verdicts as the loop") {
    import graft.checkpoint.Manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_vb").toString
    graft.sources.SeqTableGen.writePartitioned(
      graft.sources.SeqTableGen.generate(spark, 20000), s"$dir/seq", 4)
    graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out1", Some(s"$dir/m1.jsonl"))
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out2", Some(s"$dir/m2.jsonl"))
    val m1 = Manifest.load(s"$dir/m1.jsonl").entries
    val m2 = Manifest.load(s"$dir/m2.jsonl").entries
    assert(m1.keySet === m2.keySet && m1.nonEmpty)
    m1.keySet.foreach { p =>
      assert(m1(p).rows === m2(p).rows, s"rows differ for partition $p")
      assert(m1(p).violations === m2(p).violations, s"violations differ for $p")
      assert(m1(p).pass === m2(p).pass)
      assert(m1(p).files === m2(p).files, s"lineage differs for $p")
    }
    // resume: a second batch run has nothing to do (manifest complete)
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out2", Some(s"$dir/m2.jsonl"))
    assert(Manifest.load(s"$dir/m2.jsonl").entries.size === m2.size)
  }

  test("validate-batch partial resume: completed sinks untouched, todo sinks purged") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_vbr").toString
    graft.sources.SeqTableGen.writePartitioned(
      graft.sources.SeqTableGen.generate(spark, 20000), s"$dir/seq", 4)
    val mf = s"$dir/m.jsonl"
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out", Some(mf))
    val full = Manifest.load(mf).entries
    assert(full.keySet === Set("0", "1", "2", "3"))
    // simulate a crash that committed only buckets 0 and 1
    val kept = Files.readAllLines(Paths.get(mf)).stream()
      .filter(l => l.contains("\"partition\":\"0\"") || l.contains("\"partition\":\"1\""))
      .toArray.mkString("", "\n", "\n")
    Files.writeString(Paths.get(mf), kept)
    // plant markers: completed bucket 0 must be left alone, todo bucket 2
    // must be purged before the rewrite (stale-sink discipline)
    val keep = Paths.get(s"$dir/out/violations/part_bucket=0/KEEP.marker")
    val stale = Paths.get(s"$dir/out/violations/part_bucket=2/STALE.marker")
    Files.writeString(keep, "x"); Files.writeString(stale, "x")
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out", Some(mf))
    assert(Files.exists(keep), "completed partition's sink must not be touched")
    assert(!Files.exists(stale), "todo partition's stale files must be purged")
    val resumed = Manifest.load(mf).entries
    assert(resumed.keySet === Set("0", "1", "2", "3"))
    Seq("2", "3").foreach { p =>
      assert(resumed(p).rows === full(p).rows && resumed(p).violations === full(p).violations,
        s"re-run verdict differs for partition $p")
    }
  }

  test("stream-validate checks the same suite as validate, uniqueness aside") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sv").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 5000), s"$dir/seq", 2)
    graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/batch", None)
    graft.cli.Main.streamValidate(spark, s"$dir/seq", s"$dir/stream")
    // uniqueness is cross-row state and stays with the batch modes
    def perRule(path: String): Map[String, Long] = spark.read.parquet(path)
      .where(col("rule_id") =!= "R_UNIQUE_DOCID")
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = perRule(s"$dir/batch/violations")
    assert(batch.contains("R_REF_SOURCE") && batch.size === 6, batch)
    assert(perRule(s"$dir/stream/violations_stream") === batch)
  }
}
