package graft

import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingValidation

/** Structured-Streaming validation over the events table driven through
  * the file source + memory sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  val validTypes = Seq("click", "view", "purchase", "signup", "error")

  test("windowed violation counts with watermark over a file stream") {
    // stage the parquet into a stream-source dir
    // time-order the stream files so the watermark (event-time max of
    // earlier batches) never drops in-order late data: file N's events
    // all precede file N+1's. Out-of-order files WOULD be dropped —
    // that's watermark semantics, not a bug.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartitionByRange(3, $"ts").sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(dir)

    val stream = StreamingValidation.readEventStream(spark, dir)
    assert(stream.isStreaming)
    val counts = StreamingValidation.violationCounts(
      stream, StreamingValidation.eventConstraints(validTypes.filterNot(_ == "error")),
      windowLen = "1 hour")
    // Complete mode: append would hold back windows the watermark has
    // not passed at end-of-stream (correct streaming semantics, but the
    // test wants the full truth table to compare against batch)
    StreamingValidation.runToMemorySink(counts, "viol_counts", OutputMode.Complete())
    val got = spark.table("viol_counts")
    // every 'error' event violates E_ENUM_TYPE; compare against batch truth
    val streamTotal = got.where($"rule_id" === "E_ENUM_TYPE")
      .agg(org.apache.spark.sql.functions.sum("n_violations")).head().getLong(0)
    val batchTruth = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .where($"event_type" === "error").count()
    assert(streamTotal === batchTruth)
  }

  test("streaming drift alerts: per-window chi-square equals the batch statistic") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartitionByRange(3, $"ts").sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(dir)
    val stream = StreamingValidation.readEventStream(spark, dir)
    val baseline = validTypes.map(_ -> 0.2).toMap // uniform expectation
    val alerts = StreamingValidation.driftAlerts(
      stream, "event_type", baseline, threshold = -1.0, windowLen = "1 hour")
    StreamingValidation.runToMemorySink(alerts, "drift_alerts", OutputMode.Complete())
    val got = spark.table("drift_alerts").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // batch truth: same statistic per hour via Drift.chiSquare (uniform
    // baseline profile — identical proportions and 0.5 floor)
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val rows = batch
      .groupBy(date_trunc("hour", $"ts").as("w"), $"event_type")
      .agg(count(lit(1)).as("n")).collect()
    val baseProfile = graft.operators.Drift.CategoricalProfile(
      validTypes.map(_ -> 1L).toMap)
    val byWindow = rows.groupBy(_.getTimestamp(0))
    assert(got.keySet === byWindow.keySet) // threshold -1 emits every window
    byWindow.foreach { case (w, rs) =>
      val obs = graft.operators.Drift.CategoricalProfile(
        rs.map(r => r.getString(1) -> r.getLong(2)).toMap)
      val (chi, _) = graft.operators.Drift.chiSquare(obs, baseProfile)
      val r6 = BigDecimal(chi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(w)._2 - r6) < 1e-9, s"window $w: ${got(w)._2} vs $r6")
      assert(got(w)._1 === rs.map(_.getLong(2)).sum) // n_events
    }
  }

  test("streaming duplicate alerts via flatMapGroupsWithState match batch truth") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    // events with seeded duplicate event_ids across two micro-batches:
    // id 7 appears 3x (batch1: 2, batch2: 1), id 9 appears 2x (one per
    // batch), everything else unique
    Seq(7L, 7L, 9L, 1L, 2L).toDF("event_id")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
      .withColumn("user_id", $"event_id")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("click"))
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit(""))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(7L, 9L, 3L).toDF("event_id")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
      .withColumn("user_id", $"event_id")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("view"))
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit(""))
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = StreamingValidation.readEventStream(spark, dir)
    val alerts = StreamingValidation.duplicateAlerts(stream, "event_id")
    StreamingValidation.runToMemorySink(alerts, "dup_alerts", OutputMode.Append())
    val got = spark.table("dup_alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // id 7: occurrences 2 and 3 alert; id 9: occurrence 2 alerts
    assert(got === Set((7L, 2L), (7L, 3L), (9L, 2L)))
  }

  test("streaming first-seen dedup: one representative per text, later dups dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    Seq((10L, "aaa"), (11L, "aaa"), (12L, "bbb")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Seq((13L, "aaa"), (14L, "ccc"), (15L, "bbb")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(dir)
    val kept = StreamingValidation.firstSeenOnly(stream, "doc_id", "text")
    StreamingValidation.runToMemorySink(kept, "first_seen", OutputMode.Append())
    val got = spark.table("first_seen").collect().map(_.getLong(1)).toSet
    // min doc_id per distinct text, regardless of micro-batch split
    assert(got === Set(10L, 12L, 14L))

    // TTL-bounded state path (timeout far beyond the test run: same
    // output; exercises the ProcessingTimeTimeout wiring). Single-batch
    // trigger: pending processing-time timers make AvailableNow spin
    // empty timer batches forever, so Once is the terminating choice.
    val stream2 = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(dir)
    val q = StreamingValidation.firstSeenOnly(stream2, "doc_id", "text",
        stateTtlMs = 3600000L)
      .writeStream.format("memory").queryName("first_seen_ttl")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    q.awaitTermination()
    assert(spark.table("first_seen_ttl").collect().map(_.getLong(1)).toSet
      === Set(10L, 12L, 14L))
  }

  test("running per-source stats via mapGroupsWithState") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val stream = StreamingValidation.readEventStream(spark, dir)
    val stats = StreamingValidation.runningSourceStats(
      stream, StreamingValidation.eventConstraints(validTypes))
    StreamingValidation.runToMemorySink(stats, "src_stats", OutputMode.Update())
    val got = spark.table("src_stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val nClicks = batch.where($"event_type" === "click").count()
    assert(got("click")._1 === nClicks)
  }

  test("streaming SPRT: verdicts on stream-accumulated counts equal batch") {
    import org.apache.spark.sql.functions._
    import graft.operators.Drift
    val dir = java.nio.file.Files.createTempDirectory("graft_sprt").toString
    val src = "/root/testdata/sf0.001/events.parquet"
    // 3 files => 3 micro-batches; the complete-mode aggregate carries
    // the cumulative (n, k) sufficient statistic across triggers
    spark.read.parquet(src).repartition(3)
      .write.mode("overwrite").parquet(dir)
    val stream = StreamingValidation.readEventStream(spark, dir)
    val counts = stream
      .groupBy(coalesce($"event_type".cast("string"), lit("<null>"))
        .as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when($"value" > 50, 1L).otherwise(0L)).as("k"))
    StreamingValidation.runToMemorySink(counts, "sprt_counts",
      OutputMode.Complete())
    val streamed = Drift.sprtGateFromCounts(
      spark.table("sprt_counts"), "event_type").collect()
    val batch = Drift.sprtGate(spark.read.parquet(src), "event_type",
      $"value" > 50).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming embedding QC: stateless violations pass equals batch truth") {
    import org.apache.spark.sql.functions._
    import graft.operators.EmbeddingQC
    // plant a truncated-dim defect on every 10th vector, stage as a
    // 2-file stream source (2 micro-batches)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_emb").toString
    val planted = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id",
        when($"vec_id" % 10 === 0, slice($"embedding", 1, 7))
          .otherwise($"embedding").as("embedding"))
    planted.repartition(2).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(planted.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // EmbeddingQC.violations is a stateless projection + explode — it
    // runs on a streaming frame unchanged (Append mode, no watermark,
    // no state store): ingest-time embedding QC for free
    val v = EmbeddingQC.violations(stream, "vec_id", "embedding", expectedDim = 64)
    assert(v.isStreaming)
    StreamingValidation.runToMemorySink(v, "emb_qc", OutputMode.Append())
    val got = spark.table("emb_qc").orderBy("vec_id", "rule_id")
      .as[(Long, String, String)].collect()
    val batchTruth = EmbeddingQC.violations(planted, "vec_id", "embedding", 64)
      .orderBy("vec_id", "rule_id").as[(Long, String, String)].collect()
    assert(got === batchTruth)
    assert(got.nonEmpty && got.forall(_._2 == "R_EMB_DIM"))
  }

  test("streaming ingest curation: html→text→quality→repetition equals batch") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextExpressions
    import graft.operators.TextAnalysis
    // the whole crawl-ingest curation tier is stateless projections, so
    // it runs UNCHANGED on a readStream frame: extract text from markup,
    // gate on the Gopher rules, score char-level repetition — per
    // micro-batch, no state store, Append mode
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_html").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id",
        concat(lit("<html><body><p>"), $"text",
          lit("</p><script>x()</script></body></html>")).as("html"))
    docs.repartition(2).write.mode("overwrite").parquet(dir)

    def curate(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", TextAnalysis.htmlToText($"html").as("text"))
      .select($"doc_id",
        TextAnalysis.textProfile($"text").as("__tp"),
        TextExpressions.repetitionSignals($"text", 2, 3).as("__r"))
      .select($"doc_id",
        TextAnalysis.qualityRules($"__tp").getField("keep").as("keep"),
        round($"__r".getField("dup_ngram_char_frac"), 6).as("dup3"))

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val curated = curate(stream)
    assert(curated.isStreaming)
    StreamingValidation.runToMemorySink(curated, "ingest_curation",
      OutputMode.Append())
    val got = spark.table("ingest_curation").orderBy("doc_id")
      .as[(Long, Boolean, Double)].collect()
    val batchTruth = curate(docs).orderBy("doc_id")
      .as[(Long, Boolean, Double)].collect()
    assert(got === batchTruth)
    assert(got.length === 500)
  }

  test("streaming sessionization: append-mode sessions equal batch truth") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sessionize
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sess").toString
    val ev = (0 until 2000).map { i =>
      (i % 13L, (i * 2654435761L + 7) % 86400L, 1.0)
    }.toDF("user", "sec", "value")
      .withColumn("ts", timestamp_micros($"sec" * 1000000L))
      .select("user", "ts", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    // a far-future sentinel event in a LATER file pushes the watermark
    // past every real session's close, so append mode emits them all
    // before AvailableNow terminates (the standard end-of-stream flush)
    Thread.sleep(1100) // file-source batches order by mod time
    Seq((-1L, 10L * 86400L, 0.0)).toDF("user", "sec", "value")
      .withColumn("ts", timestamp_micros($"sec" * 1000000L))
      .select("user", "ts", "value")
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val sess = Sessionize.sessionizeStream(stream, Seq("user"), "ts",
      gap = "10 minutes", delay = "0 seconds",
      aggs = Seq(count(lit(1)).as("n"), sum($"value").as("v")))
    assert(sess.isStreaming)
    StreamingValidation.runToMemorySink(sess, "sessions", OutputMode.Append())
    val got = spark.table("sessions").where($"user" =!= -1L)
      .select("user", "session_start", "session_last", "n", "v")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().toSet
    val truth = Sessionize.sessionize(ev, Seq("user"), "ts", "10 minutes",
        Seq(count(lit(1)).as("n"), sum($"value").as("v")))
      .select("user", "session_start", "session_last", "n", "v")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().toSet
    assert(got === truth)
    assert(truth.size > 13, "fixture must produce multiple sessions per user")
  }

  test("streaming curate gate sequence equals batch truth end-to-end") {
    import org.apache.spark.sql.functions._
    import graft.operators.CurationGates
    // the COMPOSED curate tier (extraction → length → quality →
    // blocklist → seen-dedup → decontamination) on a micro-batch file
    // stream must keep bit-identical survivors to the batch run — every
    // gate is stateless or stream-static by construction
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_curate").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text", "n_chars")
    docs.repartition(2).write.mode("overwrite").parquet(dir)
    val seen = docs.where($"doc_id" < 100)
    val bench = docs.where($"doc_id" % 97 === 0)
      .select(filter(split(lower(trim($"text")), "\\s+"),
        w => w =!= "").as("tokens"))
    def gates(df: org.apache.spark.sql.DataFrame) =
      CurationGates(df, seen, blockedHosts = Seq("h3.example.com"),
        bench = Some(bench), contamN = 5,
        // exercise the bad-word gate's streaming parity too: a ratio
        // low enough to bite on the fixture's SQL-word corpus
        badWords = Seq("merge", "scan"), maxBadRatio = 0.05)

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val curated = gates(stream)
    assert(curated.isStreaming)
    StreamingValidation.runToMemorySink(curated.select("doc_id"),
      "curate_gates", OutputMode.Append())
    val got = spark.table("curate_gates").as[Long].collect().sorted
    val truth = gates(docs).select("doc_id").as[Long].collect().sorted
    assert(got === truth)
    // fixture sanity: the gates BITE — something survives, the
    // blocklisted host is gone, every seen doc is deduped away, and
    // the self-planted benchmark docs are decontaminated
    assert(truth.nonEmpty && truth.length < 500)
    assert(!truth.exists(_ % 10 === 3), "blocklisted h3 docs leaked")
    assert(!truth.exists(_ < 100), "seen duplicates leaked")
    assert(!truth.exists(_ % 97 === 0), "contaminated docs leaked")
  }

  test("streaming decontamination filter: bloom predicate equals exact batch set") {
    import org.apache.spark.sql.functions._
    import graft.operators.Decontamination
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_decon").toString
    val seq = graft.sources.SeqTableGen.generate(spark, 2000, withViolations = false)
    seq.repartition(2).write.mode("overwrite").parquet(dir)
    // benchmark = every 50th doc's token suffix → those docs must flag
    val bench = seq.where(pmod(xxhash64($"doc_id"), lit(50L)) === 0)
      .select(slice($"tokens", 2, 100000).as("tokens"))
    val Some(pred) = Decontamination.contaminationPredicate(bench, "tokens", n = 8)

    val stream = spark.readStream.schema(seq.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val flagged = stream.where(pred($"tokens")).select("doc_id")
    assert(flagged.isStreaming)
    StreamingValidation.runToMemorySink(flagged, "decon_flags", OutputMode.Append())
    val got = spark.table("decon_flags").as[String].collect().toSet

    // exact batch truth (content join, no bloom)
    val exact = Decontamination.contaminated(seq, "doc_id", "tokens",
        bench, "tokens", n = 8)
      .select("doc_id").as[String].collect().toSet
    // bloom has NO false negatives: every exact hit must be flagged
    assert(exact.subsetOf(got), s"missed: ${exact -- got}")
    // double-bloom per-gram fpp ≈ (6e-6)² — spurious flags over the
    // corpus's ~260k gram probes are vanishingly unlikely
    assert((got -- exact).isEmpty, s"false positives: ${got -- exact}")
    assert(exact.nonEmpty)
  }

  test("disorder-profiled watermark: measured max lateness guarantees " +
       "no event loss in the finalized windows") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sessionize
    // hand-built arrival stream: one event arrives 3 h event-time-late
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(h: Double): java.sql.Timestamp =
      new java.sql.Timestamp(base + (h * 3600 * 1000).toLong)
    val rows = Seq(
      (1L, 1L, ts(10.0)), (1L, 2L, ts(11.0)), (1L, 3L, ts(12.0)),
      (1L, 4L, ts(12.5)), (1L, 5L, ts(9.5)), // ← 3 h late vs max-so-far
      (1L, 6L, ts(13.0)),
      (1L, 7L, ts(18.0)), (1L, 8L, ts(19.0)), (1L, 9L, ts(20.0)))
      .toDF("user", "arrival", "et")
    // the profile MEASURES the lateness the watermark must absorb
    val prof = Sessionize.disorderProfile(rows, "user", "arrival", "et")
      .head()
    assert(prof.getAs[Long]("n_late") === 1L)
    val delayS = prof.getAs[Long]("max_late_s")
    assert(delayS === 3 * 3600L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_wm").toString
    // the file source orders by modification time — write the three
    // arrival batches sequentially with real mtime gaps so the stream
    // replays the ARRIVAL order the lateness was measured against
    Seq(rows.where($"arrival" <= 3), rows.where($"arrival".between(4, 6)),
        rows.where($"arrival" >= 7)).foreach { part =>
      part.coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1200)
    }
    def hourly(delay: String, sink: String): Map[String, Long] = {
      val counts = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .withWatermark("et", delay)
        .groupBy(window($"et", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format($"w.start", "HH:mm").as("h"), $"n")
      StreamingValidation.runToMemorySink(counts, sink)
      spark.table(sink).collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap
    }
    // Spark's watermark contract is one-directional: data later than
    // the delay MAY be dropped; data within it never is. The profile
    // supplies the delay that puts EVERY observed event inside the
    // guarantee — so each window the watermark finalized must equal
    // batch truth exactly, including the 3-h-late event's 09:00 window
    // (which a guessed smaller delay would have left to best-effort).
    val exact = hourly(s"$delayS seconds", "wm_measured")
    val batchTruth = rows
      .groupBy(window($"et", "1 hour").as("w")).agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "HH:mm").as("h"), $"n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.get("09:00") === Some(1L)) // the late event, kept
    exact.foreach { case (h, n) =>
      assert(batchTruth(h) === n, s"window $h diverged from batch")
    }
    // final watermark = 20:00 − 3 h: windows ending after 17:00 are
    // not yet finalized and correctly held back
    assert(exact.keySet === Set("09:00", "10:00", "11:00", "12:00", "13:00"))
  }

  test("watermark-bounded streaming dedup: duplicates across micro-" +
    "batches dropped, state expires with the watermark") {
    // dropDuplicatesWithinWatermark is the at-scale streaming dedup:
    // unlike dropDuplicates (state grows forever) its keys age out once
    // the watermark passes them — the only viable exact-dedup shape on
    // an unbounded ingest stream. Duplicate event_ids are planted both
    // WITHIN a micro-batch and ACROSS the two batches, all within the
    // 1-hour watermark, so cross-batch state must catch them.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_wmdedup").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    Seq((1L, ts(0)), (2L, ts(1)), (1L, ts(2)), (3L, ts(3)))
      .toDF("event_id", "ts").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Seq((2L, ts(10)), (4L, ts(11)), (3L, ts(12)), (5L, ts(13)))
      .toDF("event_id", "ts").coalesce(1)
      .write.mode("append").parquet(dir)

    val stream = spark.readStream.schema("event_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val deduped = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    StreamingValidation.runToMemorySink(deduped, "wm_dedup",
      OutputMode.Append())
    val got = spark.table("wm_dedup").collect()
      .map(_.getLong(0)).sorted.toSeq
    val batchTruth = spark.read.parquet(dir)
      .dropDuplicates("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === batchTruth)
    assert(got === Seq(1L, 2L, 3L, 4L, 5L))
  }
}
