package graftbench

import java.io.{ByteArrayOutputStream, File, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.checkpoint.Manifest
import graft.cli.{Main => Cli}
import graft.model.Rule
import graft.norm.Normalize
import graft.operators.{CurationGates, Decontamination, Dedup, TextAnalysis, Uniqueness, ValidationPass, WebFilter}
import graft.report.{Report, ReportCollector}
import graft.sources.{RuleTable, SeqTableGen}

/** What one timed call left behind for its output check. */
final case class CallOutput(verdictNs: Seq[Long], value: Any)

/** Outcome of an output check: operations attempted and failed. */
final case class Checked(ops: Int, failed: Int, messages: Seq[String])

/** A benchmark workload: materialize inputs once per set-up round, then
  * run closed-loop calls of one public entry point. */
abstract class Workload(val name: String, val dataDir: String, val runDir: String) {
  /** Input rows brought to a verdict by one call. */
  def rowsPerCall: Long
  /** Operations one call delivers (partitions, tables or the one funnel). */
  def opsPerCall: Int
  /** Name of the public entry point the timed call drives. */
  def entryPoint: String
  def materialize(spark: SparkSession): Unit
  /** Untimed reset before call `i` (fresh output dir, manifest copy). */
  def prepare(i: Int): Unit = ()
  def call(spark: SparkSession, i: Int): CallOutput
  def check(spark: SparkSession, i: Int, out: CallOutput): Checked
  /** Traced run: time each layer's public calls from the outside. */
  def layers(spark: SparkSession, spans: Spans): Map[String, Double]
  /** Layer facts the last call reported itself (e.g. funnel counts). */
  def callFacts: Map[String, Double] = Map.empty

  protected def iterDir(i: Int): String = s"$runDir/iter$i"
  protected def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  protected def deleteTree(path: String): Unit = Workload.deleteTree(new File(path))
  protected def sec(spans: Spans, name: String): Double = spans.seconds(name).sum
  protected def p50(spans: Spans, name: String): Double = Stats.median(spans.seconds(name))
}

object Workload {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Lines a call prints on stdout, each stamped with System.nanoTime when
    * its newline arrives. */
  final class StampedLines extends OutputStream {
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    private val buf = new ByteArrayOutputStream()
    override def write(b: Int): Unit =
      if (b == '\n') {
        lines += (System.nanoTime() -> buf.toString(StandardCharsets.UTF_8))
        buf.reset()
      } else buf.write(b)
  }

  def capture(body: => Unit): Seq[(Long, String)] = {
    val sink = new StampedLines
    Console.withOut(new PrintStream(sink, false, "UTF-8"))(body)
    sink.lines.toSeq
  }
}

/** `seq-batch` (one `validateBatch` over every partition, empty manifest)
  * and `seq-resume` (`validatePath` resuming from a manifest that already
  * holds half the partitions). */
final class SeqWorkload(name: String, dataDir: String, runDir: String,
                        rows: Int, buckets: Int, seed: Long, resume: Boolean)
    extends Workload(name, dataDir, runDir) {
  private val table = s"$dataDir/seq"
  private val seededManifest = s"$dataDir/seeded_manifest.jsonl"
  private lazy val expected: Map[Int, SeqExpect.Part] = SeqExpect.compute(rows, seed, buckets)
  private def partitions: Seq[Int] = expected.keys.toSeq.sorted
  private def seeded: Seq[Int] = if (resume) partitions.filter(_ < buckets / 2) else Nil
  private def pending: Seq[Int] = partitions.filterNot(seeded.contains)

  def rowsPerCall: Long = pending.map(expected(_).rows).sum
  def opsPerCall: Int = pending.size
  def entryPoint: String = if (resume) "cli.Main.validatePath" else "cli.Main.validateBatch"

  def materialize(spark: SparkSession): Unit = {
    SeqTableGen.writePartitioned(SeqTableGen.generate(spark, rows.toLong, seed), table, buckets)
    Files.deleteIfExists(Paths.get(seededManifest))
    seeded.foreach { b =>
      val e = expected(b)
      Manifest.markComplete(seededManifest, b.toString, e.rows, e.violations, e.violations == 0)
    }
  }

  private def manifest(i: Int) = s"${iterDir(i)}/manifest.jsonl"

  override def prepare(i: Int): Unit = {
    if (i > 0) deleteTree(iterDir(i - 1))
    deleteTree(iterDir(i))
    Files.createDirectories(Paths.get(iterDir(i)))
    if (resume) Files.copy(Paths.get(seededManifest), Paths.get(manifest(i)),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def call(spark: SparkSession, i: Int): CallOutput = {
    val out = s"${iterDir(i)}/out"
    val lines = Workload.capture {
      if (resume) Cli.validatePath(spark, table, out, Some(manifest(i)))
      else Cli.validateBatch(spark, table, out, Some(manifest(i)))
    }
    val verdicts = lines.filter(_._2.startsWith("{\"partition\""))
    // validateBatch delivers every verdict after its one job: the batch is
    // the delivery unit. validatePath delivers one verdict per partition.
    val stamps = if (resume) verdicts.map(_._1) else verdicts.lastOption.map(_._1).toSeq
    CallOutput(stamps, verdicts.map(_._2))
  }

  private val VerdictLine =
    """\{"partition":"(\d+)","rows":(\d+),"violations":(\d+),"pass":(true|false)\}""".r

  def check(spark: SparkSession, i: Int, out: CallOutput): Checked = {
    val msgs = mutable.ArrayBuffer.empty[String]
    val bad = mutable.Set.empty[Int]
    def fail(p: Int, m: String): Unit = { bad += p; msgs += s"$name partition $p: $m" }
    val printed = out.value.asInstanceOf[Seq[String]].collect {
      case VerdictLine(p, r, v, ok) => (p.toInt, r.toLong, v.toLong, ok.toBoolean)
    }
    val entries = Manifest.load(manifest(i)).entries
    if (entries.size != partitions.size)
      msgs += s"$name: manifest holds ${entries.size} entries, expected ${partitions.size}"
    if (entries.values.map(_.rows).sum != rows.toLong)
      msgs += s"$name: manifest rows sum to ${entries.values.map(_.rows).sum}, expected $rows"
    val byRule = spark.read.parquet(s"${iterDir(i)}/out/violations")
      .groupBy("part_bucket", "rule_id").count().collect()
      .map(r => (r.get(0).toString.toInt, r.getString(1)) -> r.getLong(2)).toMap
    pending.foreach { p =>
      val e = expected(p)
      entries.get(p.toString) match {
        case None => fail(p, "missing from manifest")
        case Some(m) =>
          if (m.rows != e.rows || m.violations != e.violations || m.pass != (e.violations == 0))
            fail(p, s"manifest (${m.rows}, ${m.violations}, ${m.pass}) != expected " +
              s"(${e.rows}, ${e.violations}, ${e.violations == 0})")
      }
      if (printed.count(_._1 == p) != 1) fail(p, "verdict not printed exactly once")
      printed.find(_._1 == p).foreach { case (_, r, v, ok) =>
        if (r != e.rows || v != e.violations || ok != (v == 0)) fail(p, "printed verdict differs")
      }
      SeqExpect.Rules.foreach { rule =>
        val got = byRule.getOrElse((p, rule), 0L)
        val want = e.byRule.getOrElse(rule, 0L)
        if (got != want) fail(p, s"$rule: $got violations, expected $want")
      }
    }
    if (msgs.nonEmpty && bad.isEmpty) bad ++= pending
    Checked(pending.size, bad.size, msgs.toSeq)
  }

  def layers(spark: SparkSession, spans: Spans): Map[String, Double] = {
    val df = spark.read.parquet(table)
    spans("sources.scan")(noop(df))
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources) :+
      ValidationPass.SeqConstraint("R_REF_SOURCE",
        col("source").isin(SeqTableGen.RefAllowlist: _*), coalesce(col("source"), lit("<null>")))
    val vObs = Observation("bench_violations")
    spans("operators.ValidationPass.seqViolations")(
      noop(ValidationPass.seqViolations(df, constraints).observe(vObs, count(lit(1)).as("n"))))
    val dObs = Observation("bench_dup_keys")
    spans("operators.Uniqueness.duplicatesSimple")(
      noop(Uniqueness.duplicatesSimple(df, "doc_id").observe(dObs, count(lit(1)).as("n"))))
    // the per-partition check suite validatePath runs; a sample of
    // partitions for the batch workload, whose call does not use it
    val checked = if (resume) pending else pending.take(4)
    checked.foreach { p =>
      spans("cli.Main.runChecks")(Cli.runChecks(spark, df.where(col("part_bucket") === p),
        s"$runDir/layers/runChecks/part_bucket=$p"))
    }
    // manifest commits of one call, replayed against a copy of its
    // starting manifest: per-commit cost and rewrite volume
    val mf = s"$runDir/layers/manifest.jsonl"
    Files.createDirectories(Paths.get(mf).getParent)
    if (resume) Files.copy(Paths.get(seededManifest), Paths.get(mf), StandardCopyOption.REPLACE_EXISTING)
    else Files.deleteIfExists(Paths.get(mf))
    val inputFiles = df.inputFiles.toSeq
    var bytes = 0L
    pending.foreach { p =>
      val e = expected(p)
      spans("checkpoint.Manifest.markComplete")(
        Manifest.markComplete(mf, p.toString, e.rows, e.violations, e.violations == 0,
          snapshotId = s"scan-${System.currentTimeMillis()}",
          files = inputFiles.filter(_.contains(s"part_bucket=$p/")).sorted))
      bytes += Files.size(Paths.get(mf))
    }
    (1 to 5).foreach(_ => spans("checkpoint.Manifest.load")(Manifest.load(mf)))
    val nViolations = vObs.get("n").asInstanceOf[Long]
    Map(
      "sources.scan_s" -> sec(spans, "sources.scan"),
      "operators.ValidationPass.seqViolations_s" -> sec(spans, "operators.ValidationPass.seqViolations"),
      "validation.violations_per_row" -> nViolations.toDouble / rows,
      "operators.Uniqueness.duplicatesSimple_s" -> sec(spans, "operators.Uniqueness.duplicatesSimple"),
      "uniqueness.dup_keys" -> dObs.get("n").asInstanceOf[Long].toDouble,
      "cli.Main.runChecks_s" -> p50(spans, "cli.Main.runChecks"),
      "checkpoint.Manifest.load_s" -> p50(spans, "checkpoint.Manifest.load"),
      "checkpoint.Manifest.markComplete_s" -> p50(spans, "checkpoint.Manifest.markComplete"),
      "checkpoint.Manifest.markComplete_total_s" -> sec(spans, "checkpoint.Manifest.markComplete"),
      "manifest.bytes_written" -> bytes.toDouble,
      "manifest.bytes_per_commit" -> bytes.toDouble / pending.size)
  }
}

/** `curate-text`: the composed curation gate sequence with per-stage
  * funnel counts over the replicated document corpus, writing the
  * curated documents. */
final class CurateWorkload(dataDir: String, runDir: String, replicas: Int, seed: Long)
    extends Workload("curate-text", dataDir, runDir) {
  private val path = s"$dataDir/documents"
  private var input: DataFrame = _
  private var seen: DataFrame = _
  private var bench: DataFrame = _
  private var lastFunnel: Seq[(String, Long)] = Nil

  def rowsPerCall: Long = Corpus.Docs * replicas
  def opsPerCall: Int = 1
  def entryPoint: String = "operators.CurationGates.funneled"

  def materialize(spark: SparkSession): Unit = {
    Corpus.replicated(spark, replicas, seed).write.mode("overwrite").parquet(path)
    input = spark.read.parquet(path)
    seen = Corpus.seen(spark)
    bench = Corpus.bench(spark)
  }

  override def prepare(i: Int): Unit = if (i > 0) deleteTree(iterDir(i - 1))

  def call(spark: SparkSession, i: Int): CallOutput = {
    val f = CurationGates.funneled(input, seen, blockedHosts = Seq(Corpus.BlockedHost),
      bench = Some(bench))
    f.df.write.mode("overwrite").parquet(s"${iterDir(i)}/curated")
    val report = f.report()
    lastFunnel = report.map(s => s._1 -> s._2)
    CallOutput(Seq(System.nanoTime()), report)
  }

  override def callFacts: Map[String, Double] =
    lastFunnel.map { case (st, n) => s"funnel.$st.kept" -> n.toDouble }.toMap ++
      lastFunnel.headOption.map(in =>
        "curate.keep_ratio" -> lastFunnel.last._2.toDouble / math.max(in._2, 1L))

  def check(spark: SparkSession, i: Int, out: CallOutput): Checked = {
    val got = out.value.asInstanceOf[Seq[(String, Long, Option[Long])]].map(s => (s._1, s._2))
    val want = Corpus.Funnel.map { case (st, n) => (st, n * replicas) }
    if (got == want) Checked(1, 0, Nil)
    else Checked(1, 1, Seq(s"curate-text funnel $got != pinned $want"))
  }

  /** The synthetic crawl page CurationGates wraps around each text. */
  private def page(text: org.apache.spark.sql.Column) = concat(
    lit("<html><body><nav><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></nav><p>"),
    text,
    lit("</p><footer><a href=\"/tos\">Terms of Service</a> " +
      "<a href=\"/privacy\">Privacy Policy</a></footer></body></html>"))

  private def extract(df: DataFrame) = df.select(col("doc_id"), col("source"), col("n_chars"),
    concat(lit("http://h"), col("doc_id") % 10, lit(".example.com/p")).as("url"),
    TextAnalysis.mainContent(page(col("text")), minBlockChars = Corpus.MinChars).as("text"))

  def layers(spark: SparkSession, spans: Spans): Map[String, Double] = {
    graft.functions.TextExpressions.register(spark)
    spans("sources.scan")(noop(input))
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { df.persist().count(); cached += df; df }
    // each gate: a noop action over the cached output of the gate before
    spans("operators.TextAnalysis.mainContent")(noop(extract(input)))
    val lenGated = keep(extract(input).where(length(col("text")) >= Corpus.MinChars))
    val thresholds = TextAnalysis.QualityThresholds(minStopwordRatio = 0.0)
    spans("operators.TextAnalysis.applyQualityFilter")(
      noop(TextAnalysis.applyQualityFilter(lenGated, "text", thresholds)))
    val unblocked = keep(WebFilter.filterBlockedHosts(
      TextAnalysis.applyQualityFilter(lenGated, "text", thresholds), "url", Seq(Corpus.BlockedHost)))
    val seenText = extract(seen).select("text")
    spans("operators.Dedup.dropSeenDuplicates")(
      noop(Dedup.dropSeenDuplicates(unblocked, seenText, "text", 1000L)))
    val fresh = keep(Dedup.dropSeenDuplicates(unblocked, seenText, "text", 1000L))
    spans("operators.Decontamination.contaminationPredicate") {
      val pred = Decontamination.contaminationPredicate(bench, "tokens", Corpus.ContamN)
      noop(pred.fold(fresh)(p => fresh.where(!p(Dedup.words(col("text"))))))
    }
    cached.foreach(_.unpersist())
    Map(
      "sources.scan_s" -> sec(spans, "sources.scan"),
      "operators.TextAnalysis.mainContent_s" -> sec(spans, "operators.TextAnalysis.mainContent"),
      "operators.TextAnalysis.applyQualityFilter_s" ->
        sec(spans, "operators.TextAnalysis.applyQualityFilter"),
      "operators.Dedup.dropSeenDuplicates_s" -> sec(spans, "operators.Dedup.dropSeenDuplicates"),
      "operators.Decontamination.contaminationPredicate_s" ->
        sec(spans, "operators.Decontamination.contaminationPredicate"))
  }
}

/** `cde-tables`: the paper's own rule semantics, Engine.run over seeded
  * SAMPLE and DATA tables with the mini CDE rule table. */
final class CdeWorkload(dataDir: String, runDir: String, sampleRows: Long, dataRows: Long,
                        seed: Long, rulesCsv: String, pinned: Map[String, (Int, Int, String)])
    extends Workload("cde-tables", dataDir, runDir) {
  private var tables: Seq[(String, DataFrame)] = Nil
  private var rules: Seq[Rule] = Nil
  private val rowsOf = Map("SAMPLE" -> sampleRows, "DATA" -> dataRows)

  def rowsPerCall: Long = sampleRows + dataRows
  def opsPerCall: Int = 2
  def entryPoint: String = "Engine.run"

  def materialize(spark: SparkSession): Unit = {
    CdeGen.sample(spark, sampleRows, seed).write.mode("overwrite").parquet(s"$dataDir/SAMPLE")
    CdeGen.data(spark, dataRows, seed).write.mode("overwrite").parquet(s"$dataDir/DATA")
    tables = Seq("SAMPLE", "DATA").map(t => t -> spark.read.parquet(s"$dataDir/$t"))
    rules = RuleTable.loadCsv(spark, rulesCsv)
  }

  def call(spark: SparkSession, i: Int): CallOutput = {
    val out = Engine.run(tables, rules)
    CallOutput(Seq(System.nanoTime()), out)
  }

  /** Report entries per table, split at the table headers. */
  private def sections(report: ReportCollector): Map[String, Seq[(String, String)]] = {
    val out = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, String)]]
    var current = ""
    report.entries.foreach { case e @ (kind, msg) =>
      if (kind == "header") current = msg.stripSuffix(" table QC report")
      out.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += e
    }
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }

  def check(spark: SparkSession, i: Int, out: CallOutput): Checked = {
    val run = out.value.asInstanceOf[Engine.RunOutcome]
    val secs = sections(run.report)
    val msgs = mutable.ArrayBuffer.empty[String]
    var failed = 0
    run.perTable.foreach { t =>
      val before = msgs.size
      val n = rowsOf(t.table)
      val plants = if (t.table == "SAMPLE") CdeGen.SamplePlants else CdeGen.DataPlants
      val want = CdeGen.expected(plants, n)
      if (t.result.nRows != n) msgs += s"${t.table}: ${t.result.nRows} rows, expected $n"
      t.result.columns.foreach { c =>
        val f = c.rule.field
        val (empty, invalid) =
          if (f == "configuration_file") (n, 0L) else want.getOrElse(f, (0L, 0L))
        if (c.nNull != empty) msgs += s"${t.table}.$f: ${c.nNull} empty cells, expected $empty"
        if (c.nInvalidCells != invalid)
          msgs += s"${t.table}.$f: ${c.nInvalidCells} invalid cells, expected $invalid"
      }
      val hash = Stats.sha256(secs.getOrElse(t.table, Nil)
        .map { case (k, m) => s"$k\t$m" }.mkString("\n")).take(16)
      pinned.get(t.table) match {
        case Some((e, w, h)) if (e, w, h) == ((t.errors, t.warnings, hash)) => ()
        case other => msgs += s"${t.table}: (errors, warnings, report hash) = " +
          s"(${t.errors}, ${t.warnings}, $hash), pinned $other"
      }
      if (msgs.size > before) failed += 1
    }
    if (run.perTable.size != 2) { msgs += "cde-tables: expected two table outcomes"; failed = 2 }
    Checked(2, failed, msgs.toSeq)
  }

  def layers(spark: SparkSession, spans: Spans): Map[String, Double] = {
    tables.foreach { case (_, df) => spans("sources.scan")(noop(df)) }
    var invalid, distinct = 0L
    tables.foreach { case (name, df) =>
      val tableRules = rules.filter(_.table == name)
      val kept = df.drop(ValidationPass.extraColumns(df, tableRules): _*)
      spans("norm.Normalize.normalizeDf")(noop(Normalize.normalizeDf(kept)))
      val normalized = Normalize.normalizeDf(kept).persist()
      normalized.count()
      val result = spans("operators.ValidationPass.evalTable")(
        ValidationPass.evalTable(normalized, name, tableRules, Engine.DefaultMaxOffenders))
      spans("report.Report.compose")(Report.compose(result, name, new ReportCollector))
      invalid += result.columns.map(_.nInvalidCells).sum
      distinct += result.columns.map(_.nDistinctFailing).sum
      normalized.unpersist()
    }
    Map(
      "sources.scan_s" -> sec(spans, "sources.scan"),
      "norm.Normalize.normalizeDf_s" -> sec(spans, "norm.Normalize.normalizeDf"),
      "operators.ValidationPass.evalTable_s" -> sec(spans, "operators.ValidationPass.evalTable"),
      "report.Report.compose_s" -> sec(spans, "report.Report.compose"),
      "cde.invalid_cells" -> invalid.toDouble,
      "cde.distinct_offenders" -> distinct.toDouble)
  }
}
