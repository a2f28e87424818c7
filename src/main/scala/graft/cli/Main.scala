package graft.cli

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.JsonLine
import graft.checkpoint.Manifest
import graft.model.Violation
import graft.operators.{Dedup, Drift, Uniqueness, ValidationPass}
import graft.report.{Report, ReportCollector}
import graft.sources.SeqTableGen

/** spark-submit entry point for the validation engine.
  *
  * Modes:
  *   gen      <path> <nRows> [nBuckets]     — write a deterministic
  *            partitioned tokenized-sequence table (Iceberg stand-in)
  *   validate <path> <out> [manifest]       — run the full check suite
  *            over a stored sequence table, one slice of 2 jobs (one
  *            exchange, one write) per 2 pending partitions, each
  *            committed after its slice's write; emits
  *            violations parquet; resumes from <manifest> if given (see
  *            [[graft.checkpoint.Manifest]]), and a crash leaves at most
  *            2 partitions written but not committed
  *   validate-batch <path> <out> [manifest] — the same checks in ONE
  *            slice for all pending partitions (2 jobs at 10^4
  *            partitions; a crash before its write commits no partition)
  *   stream-validate <path> <out>           — constraint pass as a file
  *            stream with exactly-once checkpoint resume
  *   drift-baseline <path> <out> [lo hi]    — store n_tok/source
  *            profiles (range from data +10% headroom unless pinned)
  *   drift-check <path> <baseline>          — KS/chi-square verdict of a
  *            snapshot vs a STORED baseline (one JSON line)
  *   demo     [nRows]                       — in-memory end-to-end run
  *   pipeline [dir]                         — training-data pipeline demo
  *   stream-curate [dir]                    — the composed curation gate
  *            sequence on a file stream, with batch-parity check
  *   health   [dir]                         — feed-health battery over
  *            the event stream (growth accounting, decayed volume,
  *            stationarity, weekday rhythm, lead-lag, rolling
  *            distinct), one JSON line per signal
  *
  * Usage: spark-submit --class graft.cli.Main <jar> <mode> ...
  * Every JSON line is rendered by [[graft.JsonLine]], the manifest's
  * format too.
  */
object Main {
  /** The stored-table suite: the five sequence constraints plus the
    * referential allowlist on `source`. The allowlist is a literal, so it
    * is one more predicate of the same scan: a broadcast join against a
    * 3-row dimension would buy nothing ([[graft.operators.Referential]]
    * serves allowlists that live in a real dimension table). */
  private[graft] def checkSuite: Seq[ValidationPass.SeqConstraint] =
    ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources) :+
      ValidationPass.SeqConstraint("R_REF_SOURCE",
        col("source").isin(SeqTableGen.RefAllowlist: _*),
        coalesce(col("source"), lit("<null>")))

  def main(args: Array[String]): Unit = {
    // spark-submit injects spark.master; default to local[*] otherwise
    // (SPARK_GRAFT_MASTER overrides, e.g. local[8] for the scaling bench)
    val spark = graft.GraftExtensions.sessionBuilder(
        sys.props.getOrElse("spark.master", sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")),
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
      .appName("graft-validate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, args.toList) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Ends a mode with exit code 2 and `msg` on stderr: a usage error, or
    * an input with nothing to judge. */
  private final class Refused(msg: String) extends RuntimeException(msg)
  private def refuse(msg: String): Nothing = throw new Refused(msg)

  /** Runs the mode `args` names; returns the process exit code: 0, or 2
    * when the mode refused. */
  private[graft] def run(spark: SparkSession, args: List[String]): Int = try {
    args match {
      case "gen" :: path :: n :: rest =>
        val buckets = rest.headOption.map(_.toInt).getOrElse(16)
        SeqTableGen.writePartitioned(SeqTableGen.generate(spark, n.toLong), path, buckets)
        println(JsonLine("mode" -> "gen", "path" -> path, "rows" -> n.toLong, "buckets" -> buckets))
      case "validate" :: path :: out :: rest =>
        validatePath(spark, path, out, rest.headOption)
      case "validate-batch" :: path :: out :: rest =>
        validateBatch(spark, path, out, rest.headOption)
      case "demo" :: rest =>
        val n = rest.headOption.map(_.toLong).getOrElse(100000L)
        demo(spark, n)
      case "pipeline" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        pipeline(spark, dir)
      case "curate" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        curate(spark, dir)
      case "layout" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        layout(spark, dir)
      case "stream-curate" :: rest =>
        // curate-as-data-lands: the COMPOSED gate sequence (extraction →
        // length → quality → blocklist → seen-dedup → decontamination)
        // on a file stream — every gate is stateless or stream-static,
        // so the micro-batch run keeps bit-identical survivors to the
        // batch run (parity verified inline and pinned by StreamingSpec)
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text", "n_chars")
        val seen = docs.where(col("doc_id") < 100)
        val bench = docs.where(col("doc_id") % 97 === 0)
          .select(Dedup.words(col("text")).as("tokens"))
        def gates(df: org.apache.spark.sql.DataFrame) =
          graft.operators.CurationGates(df, seen,
            blockedHosts = Seq("h3.example.com"), bench = Some(bench),
            badWords = Seq("deprecated", "lorem"), maxBadRatio = 0.2)
        // FileStreamSource needs a landing DIRECTORY (multi-file), not a
        // single parquet file — stage the fixture as arriving batches
        val landing = java.nio.file.Files
          .createTempDirectory("graft_stream_curate").toString
        docs.repartition(4).write.mode("overwrite").parquet(landing)
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(landing)
        val q = graft.streaming.StreamingValidation.runToMemorySink(
          gates(stream).select("doc_id"), "stream_curate_out")
        val kept = spark.table("stream_curate_out").count()
        val batchKept = gates(docs).count()
        println(JsonLine("mode" -> "stream-curate", "dir" -> dir, "in" -> docs.count(),
          "kept" -> kept, "batch_kept" -> batchKept, "parity" -> (kept == batchKept)))
      case "stream-validate" :: path :: out :: Nil =>
        streamValidate(spark, path, out)
      case "drift-baseline" :: path :: out :: rest =>
        // profile n_tok + source of a stored table once; later runs
        // drift-check snapshots against the STORED baseline. The
        // histogram range comes from the DATA (one min/max aggregate,
        // +10% headroom above max so modest upward drift still lands in
        // counted bins) unless explicit lo hi args pin it — a hardcoded
        // range would dump out-of-range mass into one overflow bin and
        // blind the KS statistic.
        val df = snapshot(spark, path, "drift-baseline")
        val (lo, hi) = rest match {
          case l :: h :: Nil => (l.toDouble, h.toDouble)
          case Nil =>
            val r = df.agg(min(col("n_tok")).cast("double"),
              max(col("n_tok")).cast("double")).head()
            require(!r.isNullAt(0), s"no n_tok values to profile in $path")
            val (mn, mx) = (r.getDouble(0), r.getDouble(1))
            (mn, mx + math.max(1.0, (mx - mn) * 0.1))
          case other =>
            // a lone lo (or a stray token) silently falling back to the
            // data-derived range would pin the WRONG baseline
            refuse(s"drift-baseline: give BOTH lo and hi or neither, got: $other")
        }
        Drift.saveHistogram(spark, out,
          Drift.numericHistogram(df, "n_tok", lo, hi, 64))
        Drift.saveFreq(spark, out, Drift.categoricalFreq(df, "source"))
        println(JsonLine("mode" -> "drift-baseline", "path" -> path, "out" -> out,
          "lo" -> JsonLine.Num(lo.toString), "hi" -> JsonLine.Num(hi.toString)))
      case "drift-check" :: path :: baseline :: Nil =>
        val v = Drift.check(snapshot(spark, path, "drift-check"),
          "n_tok", Drift.loadHistogram(spark, baseline),
          "source", Drift.loadFreq(spark, baseline))
        println(JsonLine("mode" -> "drift-check", "path" -> path, "ks" -> v.ksStatistic,
          "ks_critical" -> v.ksCritical, "ks_drifted" -> v.ksDrifted,
          "chi_square" -> v.chiSquare, "chi_drifted" -> v.chiDrifted))
      case "health" :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        health(spark, dir)
      case other =>
        refuse(s"unknown args: $other — see Scaladoc")
    }
    0
  } catch { case e: Refused => Console.err.println(e.getMessage); 2 }

  /** Physical-design advisor battery over the documents table: one
    * JSON line per signal — per-column encoding recommendation,
    * sortedness, the stored table's file skew, and the actionable
    * comparison: row-skip fraction of a selective box predicate on
    * the AS-STORED layout vs a Z-order vs a Hilbert rewrite (written
    * to scratch), per dimension. The report a layout review reads
    * before paying for a 100 TB OPTIMIZE. */
  def layout(spark: SparkSession, dir: String): Unit = {
    import graft.operators.StorageAudit
    import graft.sources.Bucketing
    val path = s"$dir/documents.parquet"
    val docs = spark.read.parquet(path)
    if (docs.where(col("doc_id").isNotNull).isEmpty)
      refuse(s"layout: no usable documents at $dir — an empty table is a finding, not a report")
    StorageAudit.encodingAudit(docs, "doc_id", Seq("lang", "source"))
      .collect().foreach { r =>
        println(JsonLine("signal" -> "encoding", "column" -> r.get(0), "n_rows" -> r.get(1),
          "n_distinct" -> r.get(2), "n_runs" -> r.get(3), "avg_run_len" -> r.get(4),
          "recommend" -> r.get(6)))
      }
    val so = StorageAudit.sortednessAudit(docs, "doc_id", "n_chars")
      .collect()(0)
    println(JsonLine("signal" -> "sortedness", "column" -> "n_chars", "n_pairs" -> so.get(0),
      "sorted_fraction" -> so.get(3)))
    val fs = StorageAudit.fileSkew(spark, path).collect()(0)
    println(JsonLine("signal" -> "files", "n_files" -> fs.get(0), "n_rows" -> fs.get(1),
      "rows_min" -> fs.get(2), "rows_max" -> fs.get(3), "skew" -> fs.get(5),
      "n_small_files" -> fs.get(6)))
    // which rewrite buys what: row-skip of the selective 2-D box
    // (n_chars in [100,150] x bucket2 in [0,31]) per layout per dim
    val base = docs.select(col("doc_id"), col("n_chars"),
      (col("doc_id") % 256).as("bucket2"))
    val zDir = "/tmp/graft_layout_zorder"
    val hDir = "/tmp/graft_layout_hilbert"
    Bucketing.writeZOrdered(base, zDir, "n_chars", "bucket2", nFiles = 8)
    Bucketing.writeHilbert(base, hDir, "n_chars", "bucket2",
      bits = 16, nFiles = 8)
    def skipLine(layout: String, p: String, dimCol: String,
                 lo: Long, hi: Long): Unit = {
      val s = Bucketing.zoneMapSkipStats(spark, p, dimCol, lo, hi)
        .collect()(0)
      println(JsonLine("signal" -> "skipping", "layout" -> layout, "dim" -> dimCol,
        "n_files" -> s.get(0), "row_skip_fraction" -> s.get(5)))
    }
    // as-stored: usually a single unclustered file -> ~0 skipping
    skipLine("as-stored", path, "n_chars", 100L, 150L)
    for ((name, p) <- Seq("zorder" -> zDir, "hilbert" -> hDir)) {
      skipLine(name, p, "n_chars", 100L, 150L)
      skipLine(name, p, "bucket2", 0L, 31L)
    }
  }

  /** Feed-health battery over `<dir>/events.parquet` — the operational
    * readout an ingest owner checks before trusting a snapshot: is the
    * stream growing or churning (growth accounting), which types are
    * still producing (decayed volume), is the mix stationary or still
    * drifting (Markov stationarity), how weekly is it (η²), who leads
    * whom (lead–lag), and the rolling-distinct trend. Each signal is
    * one JSON line so a supervisor can grep/parse them independently. */
  def health(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Profile, Sessionize}
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // a dead feed must FAIL LOUDLY, not stack-trace on an empty
    // collect — the drift-check empty-snapshot guard, applied here
    if (ev.where(col("ts").isNotNull && col("user_id").isNotNull).isEmpty)
      refuse(s"health: no usable events at $dir — a dead feed is a finding, not a report")
    val ga = Sessionize.growthAccounting(ev, "user_id", "ts")
      .orderBy(desc("day")).limit(1).collect()(0)
    println(JsonLine("signal" -> "growth", "day" -> String.valueOf(ga.getDate(0)),
      "active" -> ga.get(1), "new" -> ga.get(2), "retained" -> ga.get(3),
      "resurrected" -> ga.get(4), "churned" -> ga.get(5)))
    Drift.decayedVolume(ev, "ts", "event_type").collect().foreach { r =>
      println(JsonLine("signal" -> "decayed_volume", "type" -> r.get(0), "n" -> r.get(1),
        "mass" -> r.get(2), "freshness" -> r.get(3)))
    }
    Sessionize.stationaryMix(ev, "user_id", "ts", "event_type",
        "event_id").collect().foreach { r =>
      println(JsonLine("signal" -> "stationarity", "type" -> r.get(0), "observed" -> r.get(1),
        "stationary" -> r.get(2), "delta" -> r.get(3)))
    }
    val we = Sessionize.weekdayEffect(ev, "ts").collect()(0)
    println(JsonLine("signal" -> "weekday", "n_days" -> we.get(0), "eta_squared" -> we.get(1),
      "peak_dow" -> we.get(2), "trough_dow" -> we.get(3)))
    val ll = Sessionize.leadLagCorr(ev, "ts", "event_type", "click",
        "purchase").collect()
      .filter(!_.isNullAt(2)).maxByOption(_.getDouble(2))
    ll.foreach { r =>
      println(JsonLine("signal" -> "lead_lag", "best_lag" -> r.get(0), "corr" -> r.get(2)))
    }
    val rd = Profile.rollingDistinct(ev, "ts", "user_id")
      .orderBy(desc("day")).limit(1).collect()(0)
    println(JsonLine("signal" -> "rolling_distinct", "day" -> String.valueOf(rd.getDate(0)),
      "day_distinct" -> rd.get(2), "rolling_7d" -> rd.get(3)))
  }

  /** Validate-as-data-lands: [[checkSuite]] on a file stream (each new
    * parquet file = a micro-batch; production swaps in the Kafka/Iceberg
    * source, same plan), with the streaming checkpoint giving
    * exactly-once resume — the streaming complement of the
    * manifest-checkpointed batch modes. Uniqueness is cross-row state and
    * stays with the batch pass (or streaming.firstSeenOnly where per-key
    * state is acceptable). */
  def streamValidate(spark: SparkSession, path: String, out: String): Unit = {
    val stream = spark.readStream.schema(openTable(spark, path).schema)
      .option("maxFilesPerTrigger", 4).parquet(path)
    val vio = ValidationPass.seqViolations(stream, checkSuite)
    val q = vio.writeStream.format("parquet")
      .option("path", s"$out/violations_stream")
      .option("checkpointLocation", s"$out/_stream_checkpoint")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // explicit schema: a fully-clean run leaves _spark_metadata but
    // zero data files, and schema INFERENCE on that throws — the
    // violations schema is known from the streaming frame itself
    val n = spark.read.schema(vio.schema)
      .parquet(s"$out/violations_stream").count()
    println(JsonLine("mode" -> "stream-validate", "path" -> path, "violations" -> n))
  }

  /** The data files of the stored table at `path`: those the scan reads,
    * where no name on the way down starts with `.`, or with `_` unless it
    * holds `=`. */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: the local file system's listFiles reads
    // each file's owner and permissions by starting a process per file
    def under(dir: Path): Iterator[FileStatus] = fs.listStatus(dir).iterator
      .filterNot { f =>
        val name = f.getPath.getName
        name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
      }
      .flatMap(f => if (f.isDirectory) under(f.getPath) else Iterator(f))
    under(new Path(path)).toSeq
  }

  /** The stored table at `path`, opened without a Spark job.
    * `spark.read.parquet` infers the schema in a job that reads one
    * footer, its first [[dataFiles]] entry in path order; here the same
    * footer is read directly, and `part_bucket` is still found from the
    * directories. Fails, naming the path, when the table has no data
    * file. */
  private[graft] def openTable(spark: SparkSession, path: String): DataFrame = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val first = dataFiles(spark, path).minByOption(_.getPath.toString)
    require(first.isDefined, s"no parquet data file under $path")
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first.get, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.get.getPath, footer),
      new ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get))
    spark.read.schema(schema).parquet(path)
  }

  /** The stored table at `path` for a drift mode, refused when it holds
    * no row: a partitioned table of no rows has no data file, an
    * unpartitioned one a 0-row file. An empty snapshot would give
    * ks_critical = Infinity (invalid JSON) and ks_drifted=false — a dead
    * pipeline reported healthy. */
  private def snapshot(spark: SparkSession, path: String, mode: String): DataFrame = {
    val df = if (dataFiles(spark, path).isEmpty) None else Some(openTable(spark, path))
    if (df.forall(_.isEmpty)) refuse(s"$mode: empty snapshot at $path — nothing to judge")
    df.get
  }

  /** Resume step of both validate modes: the table's partitions (`all`
    * for an unpartitioned table) that the manifest does not hold yet,
    * each with its files, after the `{"mode":…}` header line. The
    * partitions are read from the relation's file listing
    * (`inputFiles`, which the file index already holds from the read),
    * grouped once by their `part_bucket=<v>/` directory: no Spark job.
    * So a directory that holds only 0-row files is a partition too, and
    * gets a 0-row passing verdict. */
  private def pending(df: DataFrame, mode: String,
                      manifest: Option[String]): Seq[(String, Seq[String])] = {
    val files = df.inputFiles.toSeq
    val partitions =
      if (df.columns.contains("part_bucket"))
        files.groupBy(partitionOf).toSeq.map { case (p, fs) => p -> fs.sorted }.sortBy(_._1)
      else Seq("all" -> files.sorted)
    val mf = manifest.map(Manifest.load).getOrElse(Manifest.empty)
    val todo = partitions.filterNot { case (p, _) => mf.isComplete(p) }
    println(JsonLine("mode" -> mode, "partitions" -> partitions.size, "todo" -> todo.size))
    todo
  }

  private val PartBucketDir = "part_bucket=([^/]*)/".r

  /** The `part_bucket` value of one table file, from its innermost
    * `part_bucket=<v>/` directory. Fails loudly, naming the directory,
    * on a value that is not an integer: `__HIVE_DEFAULT_PARTITION__` is
    * a NULL bucket, which no partition filter or verdict can name. */
  private def partitionOf(file: String): String = {
    val v = PartBucketDir.findAllMatchIn(file).map(_.group(1)).toSeq.lastOption
    require(v.isDefined, s"table file outside any part_bucket=<v>/ directory: $file")
    require(v.get.toIntOption.isDefined,
      s"part_bucket=${v.get}/ is not an integer partition directory: $file")
    v.get.toInt.toString
  }

  /** Commit step of both validate modes, run once the partition's
    * violations are written: the manifest records partition `p` with its
    * lineage, `files` (its group of [[pending]]'s listing: the concrete
    * files its verdict was read from; the Iceberg snapshot-id slot
    * carries the scan timestamp for the parquet stand-in), then its
    * verdict line prints. */
  private def commit(manifest: Option[String], p: String, files: Seq[String],
                     nRows: Long, nViol: Long, snapshotId: String): Unit = {
    manifest.foreach { mfPath =>
      Manifest.markComplete(mfPath, p, nRows, nViol, nViol == 0,
        snapshotId = snapshotId, files = files)
    }
    println(JsonLine("partition" -> p, "rows" -> nRows, "violations" -> nViol, "pass" -> (nViol == 0)))
  }

  /** Pending partitions [[validatePath]] checks in one slice: a crash
    * leaves at most this many written but not committed, and each
    * slice's planning, 2 jobs and sink write serve this many verdicts. */
  private val Slice = 2

  /** Full check suite over a stored table, [[checkSlice]] over each run
    * of [[Slice]] pending partitions in turn: a slice's partitions
    * commit and print their verdicts after its write, before the next
    * slice starts. A crash leaves at most [[Slice]] partitions written
    * but not committed, which the resume redoes. If a slice's checks
    * throw, none of its partitions commits, no further slice starts, and
    * the exception reaches the caller. */
  def validatePath(spark: SparkSession, path: String, out: String, manifest: Option[String]): Unit =
    validate(spark, path, out, manifest, "validate", Some(Slice))

  /** [[validatePath]] with every pending partition in one slice, so one
    * exchange and one write whatever the partition count. A crash before its write
    * commits no partition, and the rerun redoes all still-pending
    * partitions. Completed partitions from EITHER mode are skipped by
    * both. */
  def validateBatch(spark: SparkSession, path: String, out: String, manifest: Option[String]): Unit =
    validate(spark, path, out, manifest, "validate-batch", None)

  private def validate(spark: SparkSession, path: String, out: String, manifest: Option[String],
                       mode: String, perJob: Option[Int]): Unit = {
    val df = openTable(spark, path)
    val todo = pending(df, mode, manifest)
    todo.grouped(perJob.getOrElse(todo.size).max(1)).foreach(checkSlice(spark, df, out, manifest, _))
  }

  /** The check body of both validate modes: the violations and verdicts
    * of `slice`, a run of [[pending]] partitions, in one scan, one
    * exchange and one write, so 2 Spark jobs.
    * [[ValidationPass.seqViolationsUnique]] hashes the slice's rows by
    * `part_bucket` once: that exchange clusters the uniqueness window,
    * and hands each bucket to one write task, which writes the bucket's
    * one sink file (`partitionBy(part_bucket)`). Then each partition
    * commits. The rows of an unpartitioned table are partition `all`.
    * The rows and violations per partition are counted on those jobs, by
    * two [[BucketCounts]] Observations: over the rows the checks scan,
    * and over the violations written. So the counts come from THIS run's
    * rows, never from the sink: a pending partition with zero violations
    * writes no directory, and stale files from an earlier run into the
    * same out dir would be counted and the partition wrongly failed
    * (ADVICE round 2). Uniqueness is scoped to the partition, so a slice
    * gives each partition the verdict it gets alone.
    *
    * Scale: every row of a bucket, narrowed to (bucket, doc_id, a mostly
    * NULL array of its check violations), reaches that one task, which
    * sorts them for the window (spilling to disk, not failing for
    * memory) and writes the bucket's file. AQE cannot split the task, so
    * the largest bucket bounds the slice's time; an unpartitioned table
    * is one bucket. */
  private def checkSlice(spark: SparkSession, df: DataFrame, out: String, manifest: Option[String],
                         slice: Seq[(String, Seq[String])]): Unit = {
    val rows =
      if (df.columns.contains("part_bucket")) df.where(col("part_bucket").isin(slice.map(_._1.toInt): _*))
      else df.withColumn("part_bucket", lit("all"))
    val bucket = col("part_bucket").cast("string") // a verdict's partition name
    val (rowsObs, violObs) = (Observation(), Observation())
    val all = ValidationPass.seqViolationsUnique(rows.observe(rowsObs, countPerBucket(bucket).as("n")),
      checkSuite, carryCols = Seq("part_bucket"))
    // dynamic overwrite replaces only partitions PRESENT in this run's
    // output — a pending partition whose violations are now ZERO writes
    // nothing and would keep stale files from an earlier run, so the
    // slice's directories are deleted first (the sink must agree with
    // the manifest verdict, not just the counts)
    val sinkRoot = new Path(s"$out/violations")
    val fs = sinkRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    slice.foreach { case (p, _) => fs.delete(new Path(sinkRoot, s"part_bucket=$p"), true) }
    // dynamic overwrite: only the slice's buckets are replaced
    // (writer-scoped option — do not mutate session config)
    all.observe(violObs, countPerBucket(bucket).as("n"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_bucket")
      .parquet(s"$out/violations")
    val rowsByPart = observed[collection.Map[String, Long]](rowsObs).getOrElse(Map.empty)
    val violByPart = observed[collection.Map[String, Long]](violObs).getOrElse {
      // a slice of only 0-row files leaves the exchange empty, and the
      // adaptive plan replaces what sits on it, the violations'
      // Observation with it, by an empty relation
      require(rowsByPart.values.sum == 0, s"no violation count for a slice of ${rowsByPart.values.sum} rows")
      Map.empty
    }
    val snapshot = s"scan-${System.currentTimeMillis()}"
    slice.foreach { case (p, files) =>
      commit(manifest, p, files, rowsByPart.getOrElse(p, 0L), violByPart.getOrElse(p, 0L), snapshot)
    }
  }

  /** The metric `n` of an Observation whose query has run, or None when
    * the optimizer dropped its CollectMetrics. */
  private def observed[T](obs: Observation): Option[T] = obs.get.get("n").map(_.asInstanceOf[T])

  /** Exact row count per `part_bucket` value, as an aggregate for an
    * Observation: each task counts into a map of the buckets it sees, so
    * what reaches the driver grows with those buckets, not with the
    * range of their values. */
  private object BucketCounts extends Aggregator[String, mutable.HashMap[String, Long], Map[String, Long]] {
    def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty
    def reduce(n: mutable.HashMap[String, Long], bucket: String): mutable.HashMap[String, Long] = {
      n(bucket) = n.getOrElse(bucket, 0L) + 1
      n
    }
    def merge(a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
      b.foreach { case (k, v) => a(k) = a.getOrElse(k, 0L) + v }
      a
    }
    def finish(n: mutable.HashMap[String, Long]): Map[String, Long] = n.toMap
    def bufferEncoder: Encoder[mutable.HashMap[String, Long]] = Encoders.javaSerialization
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  }
  private val countPerBucket = udaf(BucketCounts, Encoders.STRING)

  /** [[checkSuite]] and `doc_id` uniqueness over the frame `df` as one
    * partition ([[ValidationPass.seqViolationsUnique]] with no carried
    * column: one exchange, hashed by `doc_id`), written to `violOut`;
    * returns (pass, nViolations, nRows). The benchmark's layer breakdown
    * times it per partition. */
  def runChecks(spark: SparkSession, df: DataFrame, violOut: String): (Boolean, Long, Long) = {
    // both counts ride the write job via CollectMetrics — no second read
    // of the violations parquet (round-1 VERDICT "What's wrong" #6) and
    // no separate count job over the input
    val (rowsObs, obs) = (Observation(), Observation())
    ValidationPass.seqViolationsUnique(df.observe(rowsObs, count(lit(1)).as("n")), checkSuite)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(violOut)
    val nRows = observed[Long](rowsObs).getOrElse(0L)
    // no count over an empty exchange: see checkSlice
    val nViol = observed[Long](obs).getOrElse {
      require(nRows == 0, s"no violation count for $nRows rows")
      0L
    }
    (nViol == 0, nViol, nRows)
  }

  /** Training-data pipeline pass over a testdata dir: dedup, similarity,
    * text analysis over documents/embeddings. */
  def pipeline(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Similarity, TextAnalysis}
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val exact = Dedup.exactDuplicates(docs, "doc_id", "text").count()
    val near = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      k = 32, bands = 8, threshold = 0.7).count()
    val sim = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3).count()
    println(JsonLine("op" -> "dedup", "exact_groups" -> exact, "minhash_pairs" -> near,
      "simhash_pairs" -> sim))
    val q = embs.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 5)
      .collect().map(r => s"${r.getLong(0)}:${JsonLine.fixed(r.getDouble(1), 3).text}").mkString(",")
    println(JsonLine("op" -> "ann_topk", "top5" -> top))
    val ta = TextAnalysis.analyze(docs, "doc_id", "text")
    val langAgg = ta.groupBy("lang_pred").count().orderBy(desc("count"))
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    val avgQ = ta.agg(avg("quality_score")).head().getDouble(0)
    println(JsonLine("op" -> "text", "langs" -> langAgg, "avg_quality" -> JsonLine.fixed(avgQ, 4)))

    // benchmark decontamination + deterministic mixing + PII sweep —
    // the assembly steps between validation and tokenization
    val bench = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bid"), col("text"))
    val contaminated = Dedup.ngramContamination(
      docs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 2)
      .where(col("corpus_id") =!= col("bench_id")) // bench ⊂ corpus here:
      .select("corpus_id").distinct().count()      // drop self-matches
    val mixed = graft.operators.Mixing.sampleByWeights(
      docs, "doc_id", "source", Map.empty, defaultWeight = 0.5).count()
    val pii = docs.agg(
      sum(TextAnalysis.piiCounts(col("text")).getField("n_emails")).as("e"))
      .head().getLong(0)
    println(JsonLine("op" -> "assemble", "contaminated_docs" -> contaminated, "mixed_kept" -> mixed,
      "emails_found" -> pii))

    // ingest-time steps: canonical-URL collapse (case/tracking-param
    // spellings hash equal), incremental dedup of the batch against an
    // already-ingested snapshot, greedy packing of the survivors
    val canon = docs.select(graft.functions.CanonicalUrl.canonicalUrl(
        concat(lit("HTTP://WWW."), upper(col("source")), lit(".example.com/"),
          col("doc_id"), lit("?utm_source=crawl&ref=x"))).as("url"))
      .distinct().count()
    val seen = docs.where(col("doc_id") % 2 === 0)
    val fresh = Dedup.dropSeenDuplicates(docs, seen, "text").cache()
    val freshCnt = fresh.count() // materialize ONCE; packing reuses it
    val packs = graft.operators.Packing.greedyPack(
        fresh, "source", "doc_id", "n_chars", budget = 1000)
      .select("source", "shard", "pack_id").distinct().count()
    fresh.unpersist()
    println(JsonLine("op" -> "ingest", "canonical_urls" -> canon, "fresh_docs" -> freshCnt,
      "packs" -> packs))

    // token-payload assembly: quarantine split → benchmark
    // decontamination → train/val/test assignment → concat-and-chunk
    // window materialization — the post-validation steps a token-native
    // trainer pipeline runs, end-to-end on one generated table
    val seq = SeqTableGen.generate(spark, 50000).cache()
    val (clean0, dirty) = ValidationPass.splitValid(seq,
      ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources))
    // duplicate doc_ids pass every per-row constraint but are ambiguous
    // keys for the id-joined steps below (offsets, decontamination
    // grouping) — the uniqueness stage excludes them, exactly like the
    // validated-output contract (SeqEngineSpec token-equality test)
    // no broadcast hint: the dup-id set is unbounded in principle (the
    // repo's own no-forced-broadcast rule) — AQE broadcasts when small
    val dupIds = Uniqueness.violations(clean0, "doc_id").select("doc_id")
    val clean = clean0.join(dupIds, Seq("doc_id"), "left_anti")
    val benchTok = seq
      .where(pmod(xxhash64(col("doc_id")), lit(100L)) === 0)
      .select("tokens")
    val decon = graft.operators.Decontamination.removeContaminated(
      clean, "doc_id", "tokens", benchTok, "tokens", n = 8).cache()
    val deconCnt = decon.count()
    // count the uncached clean lineage ONCE (dedup shuffle + anti-join)
    val cleanCnt = clean.count()
    val contam = cleanCnt - deconCnt
    // train windows pack the DECONTAMINATED survivors — flagged docs
    // must not leak benchmark content into the training stream
    val train = graft.operators.Mixing.assignSplits(decon, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .where(col("split") === "train")
    // placement + materialization share ONE prefix-sum frame (the
    // checkpointed offsets would otherwise compute — and leak — twice),
    // released as soon as both consumers have run
    val trainSized = train.withColumn("sz", size(col("tokens")))
    val offs = graft.operators.Packing.globalOffsets(trainSized, "doc_id", "sz")
    val placed = graft.operators.Packing.concatChunk(
      trainSized, "doc_id", "sz", windowLen = 2048L, offsets = Some(offs)).count()
    val windows = graft.operators.Packing.materializeWindows(
      trainSized, "doc_id", "tokens", "sz", windowLen = 2048L,
      offsets = Some(offs)).count()
    graft.operators.Packing.releaseOffsets(offs)
    println(JsonLine("op" -> "tokens", "clean" -> cleanCnt, "quarantined" -> dirty.count(),
      "contaminated" -> contam, "placed_docs" -> placed, "train_windows" -> windows))
    decon.unpersist(); seq.unpersist()
  }

  /** Web-corpus curation pass over a testdata dir — the round-4 tier
    * end-to-end: HTML extraction → funnel-gated quality filtering →
    * within-doc dedup → DSIR selection → weighted sampling → semantic
    * dedup → snapshot diff → balanced shards. One JSON line per stage
    * group (the observability contract every stage keeps). */
  def curate(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Funnel, LineDedup, Mixing, Packing,
      Profile, Similarity, SnapshotDiff, TextAnalysis}
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")

    // ingest: synthesize markup, extract, funnel-gate — ONE pass, the
    // stage counts ride the write as CollectMetrics
    val html = docs.select(col("doc_id"), col("source"), col("n_chars"),
      concat(lit("<html><body><h1>"), col("source"), lit("</h1><p>"),
        col("text"), lit("</p><script>t()</script></body></html>"))
        .as("html"))
    val extracted = html.select(col("doc_id"), col("source"),
      col("n_chars"), TextAnalysis.htmlToText(col("html")).as("text"))
    val f = Funnel(extracted, massCol = Some("n_chars"))
      .stage("len_gate", _.where(col("n_chars") >= 100))
      .stage("quality_gate", TextAnalysis.applyQualityFilter(_, "text",
        TextAnalysis.QualityThresholds(minStopwordRatio = 0.0)))
    val kept = f.df.cache()
    val keptCnt = kept.count() // the funnel's single action
    println(JsonLine(("op" -> "ingest_funnel") +:
      f.report().map { case (s, n, m) => s -> Seq(n, m.getOrElse(-1L)) }: _*))

    // repetition scrub + keyword/importance signals. Guards: a strict
    // gate can keep 0-1 docs — sum() is then NULL and k would be 0
    val deduped = LineDedup.dedupLinesWithinDoc(kept, "text", delim = " ")
    val dropped = Option(deduped.agg(sum(col("n_dropped"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val terms = TextAnalysis.tfIdfTopTerms(kept, "doc_id", "text", k = 1)
      .count()
    val target = kept.where(col("source").isin("src1", "src2"))
    val dsirKept = graft.operators.Curation.dsirSelect(
      kept, "doc_id", "text", target, "text",
      k = math.max(1, keptCnt.toInt / 2)).count()
    val wSample = Mixing.weightedSample(kept, "doc_id", "n_chars", k = 50)
      .count()
    println(JsonLine("op" -> "signals", "intradoc_dropped_units" -> dropped, "tfidf_docs" -> terms,
      "dsir_selected" -> dsirKept, "weighted_sample" -> wSample))

    // embeddings: semantic dedup on a planted-duplicate corpus
    val doubled = embs.select("vec_id", "embedding").unionByName(
      embs.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val semKept = Similarity.semDedup(doubled, "vec_id", "embedding",
      nCentroids = 8, threshold = 0.999).count()
    println(JsonLine("op" -> "semdedup", "in" -> 2 * embs.count(), "kept" -> semKept))

    // refresh bookkeeping + packaging: snapshot diff, z-scored length,
    // difficulty buckets, token-balanced shards
    val oldSnap = docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val newSnap = docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val diff = SnapshotDiff.summary(oldSnap, newSnap, "doc_id", Seq("text"))
      .collect().map(r => r.getString(0) -> r.get(1)).sortBy(_._1).toSeq
    val zOut = Profile.groupZScores(docs, "n_chars", "source")
      .agg(max(abs(col("z")))).head().getDouble(0)
    val buckets = Mixing.quantileBuckets(docs, "n_chars", nBuckets = 4)
      .groupBy("bucket").count().count()
    // shared-offsets + releaseOffsets: free the prefix-sum checkpoint
    // once the shard summary is materialized (round-4 ADVICE — the
    // offsets=None path pins blocks for the session)
    val shardDocs = docs.select("doc_id", "n_chars")
    val shardOffs = Packing.globalOffsets(shardDocs, "doc_id", "n_chars")
    val shards = Packing.shardSizes(
      Packing.balancedShards(shardDocs, "doc_id", "n_chars", nShards = 8,
        offsets = Some(shardOffs)), "n_chars")
    val maxShard = shards.agg(max(col("total_cost"))).head().getLong(0)
    Packing.releaseOffsets(shardOffs)
    println(JsonLine(Seq("op" -> "package") ++ diff ++ Seq("max_abs_z" -> JsonLine.fixed(zOut, 3),
      "difficulty_buckets" -> buckets, "shards" -> 8, "max_shard_cost" -> maxShard): _*))

    // split hygiene close-out: content-group-hashed train/val/test over
    // the curated survivors (exact duplicates CANNOT span splits by
    // construction), with the leakage audit run anyway — the belt AND
    // the suspenders, logged per split
    val split = Mixing.groupAwareSplit(kept.select("doc_id", "text"), "text")
    val leaks = graft.operators.Dedup.splitLeakage(split, "text", "split")
      .collect().map(r => r.getString(0) -> Seq(r.get(1), r.get(3))).sortBy(_._1)
    println(JsonLine(("op" -> "splits") +: leaks.toSeq: _*))
    kept.unpersist(); docs.unpersist()
  }

  /** In-memory demo: generate → validate → render report. */
  def demo(spark: SparkSession, n: Long): Unit = {
    import graft.norm.Normalize
    val t0 = System.nanoTime()
    val df = SeqTableGen.generate(spark, n)
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    val vioCounts = ValidationPass.seqViolations(df, constraints)
      .groupBy("rule_id").count().orderBy("rule_id").collect()
    val dups = Uniqueness.duplicates(df, "doc_id").count()
    val (nRows, nDistinct, _) = Uniqueness.probabilisticCheck(df, "doc_id")
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"== graft demo: $n rows validated in ${f"$secs%.2f"}s (${f"${n / secs}%.0f"} rows/s) ==")
    vioCounts.foreach(r => println(f"  ${r.getString(0)}%-18s ${r.getLong(1)}"))
    println(f"  R_UNIQUE_DOCID     $dups duplicate keys (rows=$nRows hll_distinct=$nDistinct)")

    // drift demo
    val clean = SeqTableGen.generate(spark, math.min(n, 100000L), withViolations = false)
    val hist = Drift.numericHistogram(clean, "n_tok", 0, 300, 64)
    val freq = Drift.categoricalFreq(clean, "source")
    val shifted = clean.withColumn("n_tok", col("n_tok") + 40)
    val v = Drift.check(shifted, "n_tok", hist, "source", freq)
    println(f"  drift(shifted n_tok): KS=${v.ksStatistic}%.3f crit=${v.ksCritical}%.3f drifted=${v.ksDrifted}")
  }
}
