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

  /** The verdict lines `body` prints, in print order. */
  private def verdictLines(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8").split('\n').filter(_.startsWith("{\"partition\"")).toSeq
  }

  private def perBucketRule(path: String): Map[(String, String), Long] =
    spark.read.parquet(path).groupBy("part_bucket", "rule_id").count().collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap

  test("validate with 2 partitions in flight: each commits and prints exactly once, exact counts") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_inflight").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 20000), s"$dir/seq", 10)
    val lines = verdictLines(
      graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out", Some(s"$dir/m.jsonl")))
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/outb", Some(s"$dir/mb.jsonl"))
    val parts = (0 until 10).map(_.toString).toSet
    // the manifest is append-only: a second commit would be a second line
    assert(Files.readAllLines(Paths.get(s"$dir/m.jsonl")).size === 10)
    val m = Manifest.load(s"$dir/m.jsonl").entries
    val mb = Manifest.load(s"$dir/mb.jsonl").entries
    assert(m.keySet === parts && mb.keySet === parts)
    val rows = spark.read.parquet(s"$dir/seq").groupBy("part_bucket").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val sink = perBucketRule(s"$dir/out/violations")
    assert(sink === perBucketRule(s"$dir/outb/violations"))
    assert(lines.size === 10)
    parts.foreach { p =>
      val v = sink.collect { case ((`p`, _), n) => n }.sum
      assert(m(p).rows === rows(p) && m(p).violations === v && m(p).pass === (v == 0), p)
      assert((m(p).rows, m(p).violations, m(p).pass, m(p).files) ===
        (mb(p).rows, mb(p).violations, mb(p).pass, mb(p).files), p)
      assert(m(p).files.nonEmpty && m(p).files.forall(_.contains(s"part_bucket=$p/")), p)
      assert(lines.count(_ == s"""{"partition":"$p","rows":${rows(p)},"violations":$v,"pass":${v == 0}}""") === 1,
        lines)
    }
    assert(m.values.exists(!_.pass), "the seeded violations must fail some partition")
  }

  test("validate in flight: a failing partition's exception reaches the caller, uncommitted") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_inflight_fail").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 8000), s"$dir/seq", 8)
    // partition 3 holds a file that is not parquet: its checks throw
    Files.writeString(Paths.get(s"$dir/seq/part_bucket=3/zz-not-parquet.parquet"), "not parquet")
    val mf = s"$dir/m.jsonl"
    val e = intercept[Exception](
      graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out", Some(mf)))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    val m = Manifest.load(mf).entries
    assert(!m.contains("3"), m.keySet)
    // whatever did commit before the failure is exact
    val rows = spark.read.parquet(s"$dir/seq").where(col("part_bucket") =!= 3)
      .groupBy("part_bucket").count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    m.values.foreach(en => assert(en.rows === rows(en.partition), en))
  }

  test("a partition directory of 0-row files gets a 0-row passing verdict in both modes") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_empty_part").toString
    val table = SeqTableGen.generate(spark, 4000)
    SeqTableGen.writePartitioned(table, s"$dir/seq", 2)
    // an empty write leaves one 0-row file holding the schema
    table.limit(0).write.parquet(s"$dir/empty")
    val empty = Files.list(Paths.get(s"$dir/empty")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(empty.length === 1)
    Files.createDirectories(Paths.get(s"$dir/seq/part_bucket=7"))
    Files.copy(empty.head, Paths.get(s"$dir/seq/part_bucket=7/part-empty.parquet"))
    val modes = Seq[(String, (String, String) => Unit)](
      "validate" -> ((out, mf) => graft.cli.Main.validatePath(spark, s"$dir/seq", out, Some(mf))),
      "validate-batch" -> ((out, mf) => graft.cli.Main.validateBatch(spark, s"$dir/seq", out, Some(mf))))
    modes.foreach { case (mode, run) =>
      val mf = s"$dir/$mode.jsonl"
      val lines = verdictLines(run(s"$dir/out-$mode", mf))
      assert(lines.contains("""{"partition":"7","rows":0,"violations":0,"pass":true}"""), s"$mode: $lines")
      val m = Manifest.load(mf).entries
      assert(m.keySet === Set("0", "1", "7"), mode)
      assert(m("7").files.size === 1 && m("7").files.head.endsWith("part_bucket=7/part-empty.parquet"),
        s"$mode: ${m("7").files}")
      assert(m("0").rows + m("1").rows === 4000, mode)
    }
  }

  test("validate-batch over sparse bucket values 0, 1 and 9000: same verdicts as validate") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_sparse_buckets").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 6000), s"$dir/seq", 3)
    Files.move(Paths.get(s"$dir/seq/part_bucket=2"), Paths.get(s"$dir/seq/part_bucket=9000"))
    graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out1", Some(s"$dir/m1.jsonl"))
    val lines = verdictLines(
      graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out2", Some(s"$dir/m2.jsonl")))
    val m1 = Manifest.load(s"$dir/m1.jsonl").entries
    val m2 = Manifest.load(s"$dir/m2.jsonl").entries
    assert(m2.keySet === Set("0", "1", "9000") && m1.keySet === m2.keySet)
    m1.keySet.foreach { p =>
      assert((m1(p).rows, m1(p).violations, m1(p).files) === (m2(p).rows, m2(p).violations, m2(p).files), p)
    }
    assert(m2.values.map(_.rows).sum === 6000)
    assert(lines.size === 3)
    assert(perBucketRule(s"$dir/out1/violations") === perBucketRule(s"$dir/out2/violations"))
  }

  test("validate-batch leaves one sink file per bucket, whichever tasks found its violations") {
    import java.nio.file.{Files, Path, Paths}
    import graft.checkpoint.Manifest
    // each bucket's rows are scanned by several tasks and meet in one
    // task after the exchange
    val dir = Files.createTempDirectory("graft_vb_files").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 20000), s"$dir/seq", 4)
    graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out1", Some(s"$dir/m1.jsonl"))
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out2", Some(s"$dir/m2.jsonl"))
    def ls(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
    val buckets = ls(Paths.get(s"$dir/out2/violations"))
      .filter(_.getFileName.toString.startsWith("part_bucket="))
    assert(buckets.size === 4)
    buckets.foreach { b =>
      assert(ls(b).count(_.getFileName.toString.endsWith(".parquet")) === 1, b)
    }
    val m1 = Manifest.load(s"$dir/m1.jsonl").entries
    val m2 = Manifest.load(s"$dir/m2.jsonl").entries
    assert(m1.keySet === m2.keySet)
    m1.keySet.foreach { p =>
      assert((m1(p).rows, m1(p).violations, m1(p).pass) === (m2(p).rows, m2(p).violations, m2(p).pass), p)
    }
    assert(perBucketRule(s"$dir/out1/violations") === perBucketRule(s"$dir/out2/violations"))
  }

  test("validate-batch counts each bucket's rows and violations exactly, 49 buckets") {
    import graft.checkpoint.Manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_vb49").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 9800), s"$dir/seq", 49)
    graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out", Some(s"$dir/m.jsonl"))
    val m = Manifest.load(s"$dir/m.jsonl").entries
    // a histogram of unit bins over 0..49 with edges on the integers
    // would count buckets 1, 2, 4, 8, 16, 27 and 32 in the bin below
    def perBucket(path: String): Map[String, Long] =
      spark.read.parquet(path).groupBy("part_bucket").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val rows = perBucket(s"$dir/seq")
    val viol = perBucket(s"$dir/out/violations")
    assert(m.keySet === (0 until 49).map(_.toString).toSet)
    m.values.foreach { e =>
      val v = viol.getOrElse(e.partition, 0L)
      assert((e.rows, e.violations, e.pass) === ((rows(e.partition), v, v == 0)), e.partition)
    }
  }

  test("a part_bucket directory that is not an integer fails loudly, naming the directory") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_null_part").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 2000), s"$dir/seq", 2)
    // a NULL bucket, as partitionBy writes it
    val nullDir = Paths.get(s"$dir/seq/part_bucket=__HIVE_DEFAULT_PARTITION__")
    Files.createDirectories(nullDir)
    val src = Files.list(Paths.get(s"$dir/seq/part_bucket=0")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.copy(src, nullDir.resolve("part-null.parquet"))
    Seq[String => Unit](
      out => graft.cli.Main.validatePath(spark, s"$dir/seq", out, None),
      out => graft.cli.Main.validateBatch(spark, s"$dir/seq", out, None)).foreach { run =>
      val e = intercept[IllegalArgumentException](run(s"$dir/out"))
      assert(e.getMessage.contains("part_bucket=__HIVE_DEFAULT_PARTITION__/"), e.getMessage)
    }
  }

  /** The Spark jobs started while `body` runs; the listener has seen
    * them all once it sees the marker job that follows. */
  private def jobs(body: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (n, marker) = (new AtomicInteger, new CountDownLatch(1))
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
        else n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("marker")
      spark.range(1).collect()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      n.get
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("openTable starts no Spark job and gives the schema spark.read.parquet infers") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_open_table").toString
    val table = SeqTableGen.generate(spark, 2000)
    SeqTableGen.writePartitioned(table, s"$dir/seq", 4)
    table.write.parquet(s"$dir/flat")
    for (t <- Seq(s"$dir/seq", s"$dir/flat")) {
      assert(jobs(spark.read.parquet(t)) === 1, t)
      assert(jobs(graft.cli.Main.openTable(spark, t)) === 0, t)
      assert(graft.cli.Main.openTable(spark, t).schema === spark.read.parquet(t).schema, t)
    }
    val empty = Files.createTempDirectory("graft_no_data").toString
    Files.createFile(java.nio.file.Paths.get(s"$empty/_SUCCESS"))
    val e = intercept[IllegalArgumentException](graft.cli.Main.openTable(spark, empty))
    assert(e.getMessage.contains(empty), e.getMessage)
  }

  test("uniqueness violations equal the join to the duplicate set they replace, as a multiset") {
    // the carried part_bucket scopes the key: duplicates per (part_bucket, doc_id)
    def oracle(d: org.apache.spark.sql.DataFrame) =
      d.join(d.groupBy("part_bucket", "doc_id").agg(count(lit(1)).as("n_occurrences"))
          .where(col("n_occurrences") > 1), Seq("part_bucket", "doc_id"))
        .select(col("part_bucket"), col("doc_id"), lit("R_UNIQUE_DOCID").as("rule_id"),
          concat(lit("n_occurrences="), col("n_occurrences").cast("string")).as("offending_value"))
    def multiset(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val small = Seq[(String, Int)](("a", 0), ("a", 1), ("a", 1), ("b", 0), ("c", 1), ("c", 1),
      (null, 0), (null, 1), (null, 1)).toDF("doc_id", "part_bucket")
    val seq = df.withColumn("part_bucket", pmod(xxhash64(col("doc_id")), lit(4)))
    Seq(small, seq).foreach { d =>
      val got = Uniqueness.violations(d, "doc_id", carryCols = Seq("part_bucket"))
      assert(got.columns.toSeq === Seq("part_bucket", "doc_id", "rule_id", "offending_value"))
      assert(multiset(got) === multiset(oracle(d)))
    }
    // per partition: a twice in bucket 1 (once in 0), c twice in bucket 1
    assert(Uniqueness.violations(small, "doc_id", carryCols = Seq("part_bucket")).count() === 4)
    // over the frame: a 3 occurrences, c 2; b is unique and NULL keys never violate
    assert(Uniqueness.violations(small, "doc_id").count() === 5)
    assert(Uniqueness.violations(seq, "doc_id").count() > 0)
  }

  test("drift modes refuse an empty snapshot with exit code 2, partitioned or not") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_drift_empty").toString
    val none = SeqTableGen.generate(spark, 0)
    SeqTableGen.writePartitioned(none, s"$dir/partitioned", 2)
    none.write.parquet(s"$dir/flat")
    def dataFiles(t: String) = Files.walk(java.nio.file.Paths.get(t)).toArray
      .count(_.toString.endsWith(".parquet"))
    // a partitioned write of no rows leaves no data file, a flat one a 0-row file
    assert(dataFiles(s"$dir/partitioned") === 0 && dataFiles(s"$dir/flat") === 1)
    for (t <- Seq("partitioned", "flat");
         args <- Seq(List("drift-baseline", s"$dir/$t", s"$dir/base-$t"),
                     List("drift-check", s"$dir/$t", s"$dir/base-$t"))) {
      val err = new java.io.ByteArrayOutputStream()
      val code = Console.withErr(new java.io.PrintStream(err, true, "UTF-8"))(
        graft.cli.Main.run(spark, args))
      assert(code === 2, args)
      assert(err.toString("UTF-8").contains(s"${args.head}: empty snapshot at $dir/$t"), args)
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/base-$t")), args)
    }
  }

  test("validate and validate-batch agree when a doc_id repeats across partitions") {
    import java.nio.file.Files
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_cross_part").toString
    // bucketed by n_tok, not doc_id: the seeded duplicates spread across
    // buckets, and one otherwise unique key is copied into a second bucket
    val table = SeqTableGen.generate(spark, 20000).withColumn("part_bucket", pmod(col("n_tok"), lit(5)))
    val key = "doc_000000000777"
    val copy = table.where(col("doc_id") === key).withColumn("part_bucket", pmod(col("part_bucket") + 1, lit(5)))
    assert(copy.count() === 1)
    table.unionByName(copy).write.partitionBy("part_bucket").parquet(s"$dir/seq")
    val lines = verdictLines(
      graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out1", Some(s"$dir/m1.jsonl")))
    val linesB = verdictLines(
      graft.cli.Main.validateBatch(spark, s"$dir/seq", s"$dir/out2", Some(s"$dir/m2.jsonl")))
    assert(lines.size === 5 && lines.toSet === linesB.toSet)
    val m1 = Manifest.load(s"$dir/m1.jsonl").entries
    val m2 = Manifest.load(s"$dir/m2.jsonl").entries
    assert(m1.keySet === (0 until 5).map(_.toString).toSet && m1.keySet === m2.keySet)
    m1.keySet.foreach { p =>
      assert((m1(p).rows, m1(p).violations, m1(p).pass, m1(p).files) ===
        (m2(p).rows, m2(p).violations, m2(p).pass, m2(p).files), p)
    }
    assert(perBucketRule(s"$dir/out1/violations") === perBucketRule(s"$dir/out2/violations"))
    Seq("out1", "out2").foreach { out =>
      val unique = spark.read.parquet(s"$dir/$out/violations").where(col("rule_id") === "R_UNIQUE_DOCID")
      assert(unique.where(col("doc_id") === key).count() === 0, out)
      // each flagged key repeats within its own bucket
      val perBucket = spark.read.parquet(s"$dir/seq").groupBy("part_bucket", "doc_id").count()
      assert(unique.join(perBucket, Seq("part_bucket", "doc_id")).where(col("count") < 2).count() === 0, out)
    }
  }

  test("validate on an unpartitioned table: one `all` verdict, sink under part_bucket=all") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_flat").toString
    SeqTableGen.generate(spark, 5000).write.parquet(s"$dir/seq")
    Seq[(String, (String, String) => Unit)](
      "validate" -> ((out, mf) => graft.cli.Main.validatePath(spark, s"$dir/seq", out, Some(mf))),
      "validate-batch" -> ((out, mf) => graft.cli.Main.validateBatch(spark, s"$dir/seq", out, Some(mf))))
      .foreach { case (mode, run) =>
        val (out, mf) = (s"$dir/out-$mode", s"$dir/$mode.jsonl")
        val lines = verdictLines(run(out, mf))
        assert(Files.isDirectory(Paths.get(s"$out/violations/part_bucket=all")), mode)
        val sink = spark.read.parquet(s"$out/violations")
        assert(sink.select("part_bucket").distinct().as[String].collect().toSeq === Seq("all"), mode)
        val v = sink.count()
        assert(v > 0 && sink.where(col("rule_id") === "R_UNIQUE_DOCID").count() > 0, mode)
        assert(lines === Seq(s"""{"partition":"all","rows":5000,"violations":$v,"pass":false}"""), mode)
        val m = Manifest.load(mf).entries
        assert(m.keySet === Set("all"), mode)
        assert((m("all").rows, m("all").violations, m("all").pass) === ((5000L, v, false)), mode)
        assert(m("all").files.nonEmpty && m("all").files.forall(_.contains(s"$dir/seq/")), mode)
        // resume: nothing left to do
        assert(verdictLines(run(out, mf)).isEmpty, mode)
      }
  }

  test("a clean table passes every partition with its row count in both modes") {
    import java.nio.file.Files
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_clean").toString
    // no seeded violation, and only sources on the referential allowlist
    val clean = SeqTableGen.generate(spark, 4000, withViolations = false)
      .where(col("source").isin(SeqTableGen.RefAllowlist: _*))
    SeqTableGen.writePartitioned(clean, s"$dir/seq", 4)
    val rows = spark.read.parquet(s"$dir/seq").groupBy("part_bucket").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(rows.size === 4)
    Seq[(String, (String, String) => Unit)](
      "validate" -> ((out, mf) => graft.cli.Main.validatePath(spark, s"$dir/seq", out, Some(mf))),
      "validate-batch" -> ((out, mf) => graft.cli.Main.validateBatch(spark, s"$dir/seq", out, Some(mf))))
      .foreach { case (mode, run) =>
        run(s"$dir/out-$mode", s"$dir/$mode.jsonl")
        val m = Manifest.load(s"$dir/$mode.jsonl").entries
        assert(m.map { case (p, e) => p -> (e.rows, e.violations, e.pass) } ===
          rows.map { case (p, n) => p -> ((n, 0L, true)) }, mode)
      }
  }

  test("validate commits slice by slice: a failing slice commits none of its partitions") {
    import java.nio.file.{Files, Paths}
    import graft.checkpoint.Manifest
    val dir = Files.createTempDirectory("graft_slice_fail").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 8000), s"$dir/seq", 8)
    // partition 3 holds a file that is not parquet: its slice, 2 and 3, throws
    Files.writeString(Paths.get(s"$dir/seq/part_bucket=3/zz-not-parquet.parquet"), "not parquet")
    val mf = s"$dir/m.jsonl"
    val buf = new java.io.ByteArrayOutputStream()
    intercept[org.apache.spark.SparkException](Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(
      graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out", Some(mf))))
    assert(Manifest.load(mf).entries.keySet === Set("0", "1"))
    val printed = buf.toString("UTF-8").split('\n').filter(_.startsWith("{\"partition\""))
    assert(printed.map(l => l.split('"')(3)).toSeq === Seq("0", "1"))
  }

  /** The rows of `d` as a multiset, columns in the order given. */
  private def multiset(d: org.apache.spark.sql.DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    d.select(cols.map(col): _*).collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("a validate slice is one exchange and one write: 3 slices, 6 jobs, the window on the exchange") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_slice_jobs").toString
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, 6000), s"$dir/seq", 6)
    // the final adaptive plans, query stages included
    object Plans extends AdaptiveSparkPlanHelper
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (Plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      assert(jobs(graft.cli.Main.validatePath(spark, s"$dir/seq", s"$dir/out", None)) === 6)
      val deadline = System.nanoTime + 60e9.toLong
      while (writes.size < 3 && System.nanoTime < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(l)
    assert(writes.size === 3)
    writes.forEach { w =>
      def shuffles(p: SparkPlan) = Plans.collect(p) { case e: ShuffleExchangeExec => e }
      assert(shuffles(w).size === 1, w)
      val windows = Plans.collect(w) { case x: WindowExec => x }
      assert(windows.size === 1 && shuffles(windows.head).size === 1, w)
    }
  }

  test("both validate modes write exactly the check violations plus the per-bucket uniqueness oracle") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_unique_sink").toString
    // a duplicate within a bucket, the same id across buckets, NULL ids;
    // bucket 1's source is off the referential allowlist
    val small = Seq[(String, Int)](("a", 0), ("a", 1), ("a", 1), ("b", 0), ("c", 1), ("c", 1),
      (null, 0), (null, 1), (null, 1)).toDF("doc_id", "part_bucket")
      .select(col("doc_id"), array(lit(1), lit(2)).as("tokens"), lit(2).as("n_tok"),
        when(col("part_bucket") === 1, "wiki").otherwise("web").as("source"), col("part_bucket"))
    small.write.partitionBy("part_bucket").parquet(s"$dir/small")
    // bucketed by n_tok, so the seeded duplicates spread across buckets
    SeqTableGen.generate(spark, 6000).withColumn("part_bucket", pmod(col("n_tok"), lit(5)))
      .write.partitionBy("part_bucket").parquet(s"$dir/seeded")
    val cols = Seq("part_bucket", "doc_id", "rule_id", "offending_value")
    for (t <- Seq("small", "seeded")) {
      val table = spark.read.parquet(s"$dir/$t")
      val oracle = ValidationPass.seqViolations(table, graft.cli.Main.checkSuite, Seq("part_bucket"))
        .unionByName(Uniqueness.violations(table, "doc_id", carryCols = Seq("part_bucket")))
      val want = multiset(oracle, cols)
      assert(want.keys.exists(_(2) == "R_UNIQUE_DOCID") && want.keys.exists(_(2) != "R_UNIQUE_DOCID"), t)
      graft.cli.Main.validatePath(spark, s"$dir/$t", s"$dir/out-$t", None)
      graft.cli.Main.validateBatch(spark, s"$dir/$t", s"$dir/outb-$t", None)
      for (out <- Seq(s"$dir/out-$t", s"$dir/outb-$t"))
        assert(multiset(spark.read.parquet(s"$out/violations"), cols) === want, out)
    }
  }

  test("runChecks writes the check violations plus the frame-wide uniqueness oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_run_checks").toString
    val seeded = SeqTableGen.generate(spark, 6000)
    val oracle = ValidationPass.seqViolations(seeded, graft.cli.Main.checkSuite)
      .unionByName(Uniqueness.violations(seeded, "doc_id"))
    val cols = Seq("doc_id", "rule_id", "offending_value")
    val want = multiset(oracle, cols)
    assert(want.keys.exists(_(1) == "R_UNIQUE_DOCID"))
    val (pass, nViol, nRows) = graft.cli.Main.runChecks(spark, seeded, s"$dir/v")
    assert((pass, nViol, nRows) === ((false, want.values.sum.toLong, 6000L)))
    assert(multiset(spark.read.parquet(s"$dir/v"), cols) === want)
    val clean = SeqTableGen.generate(spark, 500, withViolations = false)
      .where(col("source").isin(SeqTableGen.RefAllowlist: _*))
    assert(graft.cli.Main.runChecks(spark, clean, s"$dir/clean") === ((true, 0L, clean.count())))
  }
}
