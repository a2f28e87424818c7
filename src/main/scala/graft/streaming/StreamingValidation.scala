package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.ValidationPass
import graft.operators.ValidationPass.SeqConstraint

/** Structured-Streaming flavor of the validation engine: continuous QC of
  * an arriving sequence/event stream (the reference is batch-only —
  * SURVEY.md §1.2 — so this is a north-star extension, not parity).
  * Checks are the batch engine's [[SeqConstraint]]s, with its null rule:
  * a NULL verdict is a violation.
  *
  *  - [[violationCounts]]: watermark + tumbling-window counts per rule —
  *    the streaming analogue of the per-table verdict, incremental state
  *    bounded by (windows × rules), extracted by the batch engine's
  *    sparse pass;
  *  - [[runningSourceStats]]: per-source running violation counters via
  *    `mapGroupsWithState` (custom state machine, the
  *    KeyValueGroupedDataset path).
  */
object StreamingValidation {

  /** Schema of the monitored event stream (matches testdata events). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Read a directory of parquet files as a stream (file source — each
    * new file is a micro-batch; in production this is the Iceberg/Kafka
    * source with identical downstream plan). */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(EventSchema).option("maxFilesPerTrigger", 1).parquet(path)

  /** Named checks over the event stream. */
  def eventConstraints(validTypes: Seq[String]): Seq[SeqConstraint] = Seq(
    SeqConstraint("E_ENUM_TYPE", col("event_type").isin(validTypes: _*), col("event_type")),
    SeqConstraint("E_NONNEG_VALUE", col("value") >= 0, col("value")),
    SeqConstraint("E_NONNULL_USER", col("user_id").isNotNull, col("user_id")))

  /** Tumbling-window violation counts per rule with a watermark: late
    * data beyond `lateness` is dropped and state is evicted — bounded
    * memory regardless of stream length. */
  def violationCounts(
      events: DataFrame,
      constraints: Seq[SeqConstraint],
      windowLen: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    ValidationPass.sparseViolations(events.withWatermark("ts", lateness), Seq(col("ts")),
        constraints.map(_.cell))
      .groupBy(window(col("ts"), windowLen), col("rule_id"))
      .agg(count(lit(1)).as("n_violations"))
      .select(col("window.start").as("window_start"), col("rule_id"), col("n_violations"))

  final case class SourceStats(source: String, nEvents: Long, nViolations: Long)
  // NOT private: encoder codegen needs public accessors on the case class
  final case class Keyed(source: String, bad: Boolean)

  /** Running per-source totals via mapGroupsWithState — arbitrary
    * stateful aggregation with explicit state type. */
  def runningSourceStats(
      events: DataFrame, constraints: Seq[SeqConstraint]): DataFrame = {
    import events.sparkSession.implicits._
    val keyed = events
      .select(col("event_type").as("source"), constraints.map(_.violated).reduce(_ || _).as("bad"))
      .as[Keyed]
    keyed.groupByKey(_.source)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[Keyed], state: GroupState[SourceStats]) =>
          val prev = state.getOption.getOrElse(SourceStats(source, 0L, 0L))
          var n = prev.nEvents; var v = prev.nViolations
          rows.foreach { r => n += 1; if (r.bad) v += 1 }
          val next = SourceStats(source, n, v)
          state.update(next)
          next
      }.toDF()
  }

  /** Per-window chi-square drift of a categorical column against a
    * baseline proportion map — the streaming analogue of
    * [[graft.operators.Drift.chiSquare]] (same 0.5 expected-count floor;
    * events outside the baseline's category set pool into one "novel"
    * bucket with expected 0 → floored 0.5, so new categories drift
    * loudly). Emits (window_start, n_events, chi_square) for windows
    * whose statistic exceeds `threshold`.
    *
    * Baseline categories are driver-side constants, so the whole window
    * statistic compiles into ONE watermarked windowed aggregate
    * (per-category conditional sums + a post-agg projection) — no
    * chained stateful operators, state bounded by windows × 1 row.
    *
    * NULL category values count toward no bucket (and not toward
    * n_events): route null checking through the non-null constraint in
    * [[violationCounts]]; drift is about the distribution of present
    * values. (The batch [[graft.operators.Drift.categoricalFreq]] maps
    * nulls to a "<null>" key instead — documented divergence.) */
  def driftAlerts(
      events: DataFrame, catCol: String, baseline: Map[String, Double],
      threshold: Double,
      windowLen: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    require(baseline.nonEmpty, "empty baseline")
    val keys = baseline.keys.toSeq.sorted
    val counters =
      keys.zipWithIndex.map { case (k, i) =>
        sum(when(col(catCol) === k, 1L).otherwise(0L)).as(s"__n_$i")
      } :+
      sum(when(!col(catCol).isin(keys: _*), 1L).otherwise(0L)).as("__n_novel")
    val agged = events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen))
      .agg(counters.head, counters.tail: _*)
    val total = (keys.indices.map(i => col(s"__n_$i")) :+ col("__n_novel"))
      .reduce(_ + _).cast("double")
    def term(n: Column, p: Double): Column = {
      val exp = greatest(lit(p) * total, lit(0.5))
      (n - exp) * (n - exp) / exp
    }
    val chi =
      keys.zipWithIndex.map { case (k, i) => term(col(s"__n_$i"), baseline(k)) }
        .reduce(_ + _) +
      when(col("__n_novel") > 0, term(col("__n_novel"), 0.0)).otherwise(0.0)
    agged.select(
        col("window.start").as("window_start"),
        total.cast("long").as("n_events"),
        round(chi, 6).as("chi_square"))
      .where(col("chi_square") > threshold)
  }

  final case class DupAlert(key: Long, n_occurrences: Long)
  final case class KeyedId(key: Long)

  /** Streaming duplicate-key detection via `flatMapGroupsWithState`:
    * state = occurrences seen per key; an alert row is emitted on every
    * arrival AFTER the first (with the running multiplicity), i.e. the
    * streaming analogue of [[graft.operators.Uniqueness.violations]].
    *
    * State is one counter per distinct key seen — at stream scale pair
    * this with a TTL (`GroupStateTimeout.ProcessingTimeTimeout` +
    * `setTimeoutDuration`) when uniqueness only needs to hold within a
    * time horizon; unbounded global uniqueness belongs to the batch
    * aggregate over the stored table. */
  final case class HashedDoc(key: Long, doc_id: Long)

  /** Streaming exact dedup: emit each content hash's FIRST document
    * (min doc_id within a micro-batch, then strictly first-arrival
    * across batches) and drop every later duplicate — the ingest-time
    * companion of [[graft.operators.Dedup.dropSeenDuplicates]]: a
    * continuously-arriving crawl deduped as it lands instead of in a
    * nightly batch. State is ONE boolean per distinct content hash,
    * partitioned by the state-store key. Emits (key, doc_id) — the
    * caller re-attaches payloads by id, so document text never enters
    * the state store or the shuffle.
    *
    * `stateTtlMs > 0` bounds the state for unbounded runs: each hash's
    * entry expires `stateTtlMs` of processing time after its LAST
    * sighting (sliding horizon — a hash still flowing stays deduped),
    * after which the text would be emitted again; i.e. dedup within a
    * retention window, the standard trade for infinite streams. The
    * alternative at 10^12 scale is periodic compaction into the batch
    * hash anti-join path ([[graft.operators.Dedup.dropSeenDuplicates]]).
    * Operational note: pending processing-time timers keep a
    * `Trigger.AvailableNow` run scheduling empty timer batches instead
    * of terminating — drive TTL'd queries with a continuous trigger
    * (production) or `Trigger.Once` (tests). */
  def firstSeenOnly(docs: DataFrame, idCol: String, textCol: String,
                    stateTtlMs: Long = 0L): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = docs.select(
        org.apache.spark.sql.functions.xxhash64(col(textCol)).as("key"),
        col(idCol).cast("long").as("doc_id")).as[HashedDoc]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (key: Long, rows: Iterator[HashedDoc], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed: forget the hash
            Iterator.empty
          } else if (state.exists) {
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            Iterator.empty // hash already emitted in an earlier batch
          } else {
            state.update(true)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            var best: HashedDoc = null
            rows.foreach(r => if (best == null || r.doc_id < best.doc_id) best = r)
            Iterator.single(best)
          }
      }.toDF()
  }

  def duplicateAlerts(events: DataFrame, keyCol: String): DataFrame = {
    import events.sparkSession.implicits._
    val keyed = events.select(col(keyCol).cast("long").as("key")).as[KeyedId]
    keyed.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[KeyedId], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val arrived = rows.size.toLong
          val total = prev + arrived
          state.update(total)
          // one alert per arrival beyond the first occurrence of the key
          val firstDupIdx = math.max(prev, 1L)
          (firstDupIdx until total).iterator.map(i => DupAlert(key, i + 1))
      }.toDF()
  }

  /** Drive a streaming query to completion over the files currently in
    * `path` using the in-memory sink (test/demo harness). */
  def runToMemorySink(df: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val q = df.writeStream
      .format("memory").queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
