package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The full curate keep-gate sequence as ONE reusable composition —
  * main-content extraction → length gate → Gopher quality gate →
  * bad-word gate → domain blocklist → seen-corpus dedup →
  * decontamination predicate.
  *
  * Every gate is either a stateless projection/predicate or a
  * stream-static operation (the decontamination blooms and blocklist
  * literals are built from STATIC frames on the driver; the seen dedup
  * is a stream-static left-anti join), so the SAME function curates a
  * batch frame and a `readStream` micro-batch stream bit-identically —
  * streaming parity is pinned by StreamingSpec and surfaced by the
  * `stream-curate` CLI mode. At 100 TB this is the shape that matters:
  * the gates run inside the scan, once per document, and the seen
  * dedup join moves 8-byte hashes, never text. */
object CurationGates {

  /** Word tokens in the repo's oracle-mirror spelling —
    * [[Dedup.words]], the ONE canonical tokenization (the
    * decontamination gate's doc-side tokens must match the bench-side
    * tokens produced elsewhere with the same helper). */
  private def wordsOf(text: Column): Column = Dedup.words(text)

  /** Apply the gate sequence to `docs` (doc_id, source, text, n_chars).
    *
    *  - `seen`: static already-ingested corpus — exact text dedup as
    *    one left-anti join on the content hash
    *    ([[Dedup.dropSeenDuplicates]]).
    *  - `blockedHosts`: domain blocklist (suffix semantics,
    *    [[WebFilter.filterBlockedHosts]]); the synthetic URL derives
    *    from doc_id exactly like q_domain_filter.
    *  - `bench`: static benchmark frame with a `tokens` array column —
    *    docs containing any benchmark n-gram are dropped
    *    ([[Decontamination.contaminationPredicate]], no false negatives).
    *
    * Returns the curated frame (doc_id, source, url, text) where
    * `text` is the extracted main content. */
  /** The gate sequence as named (stage, transform) pairs — ONE
    * definition consumed by both [[apply]] (plain fold; streaming-safe)
    * and [[funneled]] (each stage observed via CollectMetrics; batch). */
  private def gateSeq(docs: DataFrame, seen: DataFrame,
                      blockedHosts: Seq[String], bench: Option[DataFrame],
                      minChars: Int, contamN: Int, badWords: Seq[String],
                      maxBadRatio: Double): Seq[(String, DataFrame => DataFrame)] = {
    // ingest: synthesized crawl page (planted nav/footer boilerplate —
    // the q_main_content fixture shape) → readability-class extraction.
    // n_chars passes through so funnel mass tracks input char mass.
    def page(text: Column): Column = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
        "</nav><p>"),
      text,
      lit("</p><footer><a href=\"/tos\">Terms of Service</a> " +
        "<a href=\"/privacy\">Privacy Policy</a></footer></body></html>"))
    def extract(df: DataFrame): DataFrame = df.select(
      col("doc_id"), col("source"), col("n_chars"),
      concat(lit("http://h"), col("doc_id") % 10,
        lit(".example.com/p")).as("url"),
      TextAnalysis.mainContent(page(col("text")),
        minBlockChars = minChars).as("text"))
    // decontamination bloom builds ONCE (driver-side, from the static
    // bench frame), not once per fold application
    val contamPred = bench.flatMap(b =>
      Decontamination.contaminationPredicate(b, "tokens", contamN))
    Seq(
      "extract" -> (extract(_)),
      // length gate rides the extraction's own minBlockChars, re-stated
      // on the joined result (a page whose every block fell short is '')
      "len_gate" -> (_.where(length(col("text")) >= minChars)),
      "quality_gate" -> (df => TextAnalysis.applyQualityFilter(df, "text",
        TextAnalysis.QualityThresholds(minStopwordRatio = 0.0))),
      // C4-style lexical-safety gate: word-level blocklist ratio, a
      // stateless predicate over the same canonical tokenization —
      // streaming-safe like every other gate
      "badwords" -> (df =>
        if (badWords.isEmpty) df
        else {
          val list = lit(badWords
            .map(_.toLowerCase(java.util.Locale.ROOT)).distinct.toArray)
          val ws = wordsOf(col("text"))
          val ratio = size(filter(ws, w => array_contains(list, w)))
            .cast("double") / greatest(size(ws), lit(1)).cast("double")
          df.where(ratio <= maxBadRatio)
        }),
      "blocklist" -> (df =>
        if (blockedHosts.isEmpty) df
        else WebFilter.filterBlockedHosts(df, "url", blockedHosts)),
      // dedup against the SAME extraction of the seen corpus —
      // stream-static anti-join on the content hash
      "seen_dedup" -> (df => Dedup.dropSeenDuplicates(df,
        extract(seen).select("text"), "text")),
      "decontam" -> (df => contamPred match {
        case Some(pred) => df.where(!pred(wordsOf(col("text"))))
        case None       => df
      }))
  }

  /** Apply the gate sequence to `docs` (doc_id, source, text, n_chars).
    * Streaming-safe: no CollectMetrics, every stage stateless or
    * stream-static. */
  def apply(docs: DataFrame, seen: DataFrame,
            blockedHosts: Seq[String] = Nil,
            bench: Option[DataFrame] = None,
            minChars: Int = 100,
            contamN: Int = 5,
            badWords: Seq[String] = Nil,
            maxBadRatio: Double = 0.1): DataFrame =
    gateSeq(docs, seen, blockedHosts, bench, minChars, contamN, badWords,
      maxBadRatio)
      .foldLeft(docs) { case (df, (_, gate)) => gate(df) }

  /** The same sequence with per-stage [[Funnel]] observability (rows +
    * input-char mass surviving each gate, as CollectMetrics of the ONE
    * pass the caller runs anyway). Batch only — Observation does not
    * support streaming frames; [[apply]] is the streaming spelling. */
  def funneled(docs: DataFrame, seen: DataFrame,
               blockedHosts: Seq[String] = Nil,
               bench: Option[DataFrame] = None,
               minChars: Int = 100,
               contamN: Int = 5,
               badWords: Seq[String] = Nil,
               maxBadRatio: Double = 0.1): Funnel =
    gateSeq(docs, seen, blockedHosts, bench, minChars, contamN, badWords,
      maxBadRatio)
      .foldLeft(Funnel(docs, massCol = Some("n_chars"))) {
        case (f, (name, gate)) => f.stage(name, gate)
      }
}
