package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV ingestion with delimiter detection and structural validation —
  * Spark-native re-expression of the reference's DelimiterHandler
  * (/root/reference/utils/delimiter_handler.py:185-376).
  *
  * Detection runs on a driver-side sample (`take(sampleLines)`) exactly
  * because it is metadata-sized; the actual parse is a distributed
  * `spark.read.csv` with PERMISSIVE corrupt-record capture. Structural
  * validation (every row must have the header's field count,
  * delimiter_handler.py:318-376) distributes as a `split`-size scan over
  * the `text` source so byte-faithful line numbers survive.
  */
object CsvIngest {

  val Candidates: Seq[Char] = Seq(',', ';', '\t', '|')

  final case class Detection(delimiter: Char, confidence: Double, headerFields: Int)
  final case class StructuralError(lineNumber: Long, nFields: Int, headerFields: Int) {
    /** Reference message shape (delimiter_handler.py:338-346). */
    def message(name: String): String =
      s"$name has $nFields fields in row $lineNumber, but $headerFields fields in header"
  }
  final case class StructuralResult(ok: Boolean, headerFields: Int, errors: Seq[StructuralError])

  /** Score candidates by header presence, per-line median count, and
    * consistency (the reference's scoring dimensions,
    * delimiter_handler.py:185-274) over a driver-side sample. */
  def detectDelimiter(spark: SparkSession, path: String, sampleLines: Int = 50): Detection = {
    val lines = spark.read.textFile(path).take(sampleLines).filter(_.nonEmpty)
    require(lines.nonEmpty, s"$path is empty")
    val header = lines.head
    val best = Candidates.map { d =>
      val headerCount = countOutsideQuotes(header, d)
      val counts = lines.toSeq.map(countOutsideQuotes(_, d))
      val median = counts.sorted.apply(counts.size / 2)
      val consistent = counts.count(_ == median).toDouble / counts.size
      // disqualify delimiters absent from the header (short-circuit,
      // delimiter_handler.py:218-221)
      val score = if (headerCount == 0) 0.0 else consistent * math.min(median, 20)
      (d, score, consistent, headerCount)
    }.maxBy(_._2)
    Detection(best._1, best._3, best._4 + 1)
  }

  /** Field count with naive quote awareness (double-quote only, like the
    * csv module fallback at delimiter_handler.py:355-376). */
  def countOutsideQuotes(line: String, delim: Char): Int = {
    var inQ = false; var n = 0; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQ = !inQ
      else if (c == delim && !inQ) n += 1
      i += 1
    }
    n
  }

  /** Distributed structural validation: every data row must have the
    * header's field count. Line numbers are true 1-based file positions:
    * `zipWithIndex` counts rows per partition, prefix-sums the counts on
    * the driver, and offsets each partition — correct for any number of
    * splits (`monotonically_increasing_id` is NOT: partition 1 starts at
    * ~8.6e9).
    *
    * Documented divergence from the reference's in-memory csv-module
    * path: the check is line-based, so a quoted field containing a
    * newline is seen as two short lines here while `readCsv`
    * (multiLine=true) parses it fine. Quote state can span partition
    * boundaries, which a distributed line scan cannot track; files that
    * rely on embedded newlines should be validated via the parse result
    * (corrupt-record count) instead. */
  def structuralValidation(spark: SparkSession, path: String, delim: Char,
                           maxErrors: Int = 10): StructuralResult = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val header = lines.take(1).headOption.getOrElse("")
    val headerFields = countOutsideQuotes(header, delim) + 1
    val errors = lines.rdd.zipWithIndex()
      .map { case (line, idx) => (idx + 1, line) }
      .toDF("line_number", "value")
      .where(col("line_number") > 1 && length(trim(col("value"))) > 0)
      .map { r =>
        (r.getLong(0), countOutsideQuotes(r.getString(1), delim) + 1)
      }
      .toDF("line_number", "n_fields")
      .where(col("n_fields") =!= headerFields)
      .orderBy("line_number")
      .limit(maxErrors)
      .collect()
      .map(r => StructuralError(r.getLong(0), r.getInt(1), headerFields))
    StructuralResult(errors.isEmpty, headerFields, errors.toSeq)
  }

  /** Permissive distributed read: all-string schema (reference contract,
    * processed_data_loader.py:133-142), corrupt rows captured in
    * `_corrupt_record` instead of dropped. */
  def readCsv(spark: SparkSession, path: String, delim: Char): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", delim.toString)
      .option("inferSchema", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("multiLine", "true") // quoted fields may contain newlines (SAMPLE.csv fixture)
      .option("encoding", "UTF-8")
      .csv(path)

  /** Row counts with the reference's strict→forgiving ladder
    * (get_row_count, delimiter_handler.py:276-332):
    *  - `strict` — pandas' C-engine contract: fails (-1) when ANY data
    *    row has MORE fields than the header (rows with fewer are padded
    *    and still count); otherwise the count of non-blank data rows.
    *  - `forgiving` — on_bad_lines="skip": non-blank data rows minus the
    *    over-field rows.
    *  - `effective` — the single int the reference returns: strict when
    *    it succeeds, else forgiving, else -1 (scan itself unreadable).
    * One distributed pass over the text lines; same documented
    * quoted-newline divergence as [[structuralValidation]]. */
  final case class RowCounts(strict: Long, forgiving: Long) {
    def effective: Long = if (strict >= 0) strict else forgiving
  }

  def rowCounts(spark: SparkSession, path: String, delim: Char): RowCounts =
    try {
      val lines = spark.read.textFile(path)
      val header = lines.take(1).headOption.getOrElse("")
      val headerFields = countOutsideQuotes(header, delim) + 1
      import spark.implicits._
      val agg = lines.rdd.zipWithIndex()
        .filter { case (l, i) => i > 0 && l.trim.nonEmpty }
        .map { case (l, _) =>
          val over = if (countOutsideQuotes(l, delim) + 1 > headerFields) 1L else 0L
          (1L, over)
        }
        .toDF("one", "over")
        .agg(sum(col("one")).as("n"), sum(col("over")).as("n_over"))
        .head()
      val n = Option(agg.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val nOver = Option(agg.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (n == 0) RowCounts(0L, 0L)
      else RowCounts(if (nOver == 0) n else -1L, n - nOver)
    } catch {
      // NonFatal only: OOM / interrupts / task-kill signals must propagate,
      // not masquerade as "file unreadable" (ADVICE round 2)
      case scala.util.control.NonFatal(_) => RowCounts(-1L, -1L)
    }

  /** Encoding-fallback ladder (processed_data_loader.py:121-171): try
    * UTF-8, cp1252, latin-1; accept the first rung whose STRICT decode of
    * the raw bytes succeeds; latin-1 maps every byte so the walk always
    * terminates (the errors=replace analogue). A UTF-8 BOM that survives
    * into the first header field is stripped after parse ([[stripBom]]),
    * which is what the reference's utf-8-sig rung accomplishes.
    *
    * Strictness matters: Spark's CSV decode substitutes U+FFFD for
    * invalid bytes instead of raising, so a zero-corrupt-records parse
    * (the round-2 probe) accepted cp1252 files as mojibake-UTF-8 where
    * the reference's UnicodeDecodeError rung-walk falls through — the
    * probe must run a `CharsetDecoder` with REPORT on malformed input
    * over the raw bytes, exactly like Python's `bytes.decode`. */
  val EncodingLadder: Seq[String] = Seq("UTF-8", "windows-1252", "ISO-8859-1")

  /** True iff `bytes` decode under `charset` with zero malformed /
    * unmappable sequences. `truncated = true` means the sample may end
    * mid-sequence (head of a larger file): an incomplete FINAL sequence
    * is then not an error (endOfInput = false), but any interior invalid
    * byte still is. */
  def decodesStrictly(bytes: Array[Byte], charset: String, truncated: Boolean): Boolean = {
    val dec = java.nio.charset.Charset.forName(charset).newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    val in = java.nio.ByteBuffer.wrap(bytes)
    val out = java.nio.CharBuffer.allocate(bytes.length + 1)
    val res = dec.decode(in, out, !truncated)
    if (res.isError) false
    else truncated || !dec.flush(out).isError
  }

  /** Head bytes of regular files under `path` (file or directory), via
    * the Hadoop FS API so the probe works on any cluster filesystem.
    * Each file is sampled independently — concatenating across files
    * would manufacture false malformed sequences at the seams.
    * `maxFiles` bounds driver I/O: probing ALL of a 10^4-file directory
    * serially on the driver would stall the job before the distributed
    * read begins. The sample is STRIDED across the (name-sorted) listing
    * — not a name-prefix — so a rogue file anywhere in the directory has
    * maxFiles/n odds of being probed directly; one outside the sample is
    * still caught downstream by the parse's corrupt-record accounting,
    * the probe just won't have pre-chosen its encoding. Pass
    * `maxFiles = Int.MaxValue` to probe exhaustively. */
  def sampleRawBytes(spark: SparkSession, path: String,
                     maxBytesPerFile: Int = 1 << 22,
                     maxFiles: Int = 16): Seq[(Array[Byte], Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory) {
        val all = fs.listStatus(p).toSeq.filter(_.isFile)
          .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
        if (all.size <= maxFiles) all
        else { // strided: cover the whole listing, not just its head
          val stride = all.size.toDouble / maxFiles
          (0 until maxFiles).map(i => all((i * stride).toInt))
        }
      } else Seq(fs.getFileStatus(p))
    files.map { st =>
      val n = math.min(st.getLen, maxBytesPerFile.toLong).toInt
      val buf = new Array[Byte](n)
      val is = fs.open(st.getPath)
      try is.readFully(0L, buf) finally is.close()
      (buf, st.getLen > n)
    }
  }

  /** Walk the ladder with the strict probe: first rung under which EVERY
    * sampled file decodes cleanly wins; latin-1 is the unconditional
    * floor. Driver-side and bounded: reads ≤ maxBytesPerFile per file. */
  def detectEncoding(spark: SparkSession, path: String): String = {
    val samples = sampleRawBytes(spark, path)
    EncodingLadder.find(enc =>
        samples.forall { case (b, trunc) => decodesStrictly(b, enc, trunc) })
      .getOrElse(EncodingLadder.last)
  }

  /** Strip a BOM that the parser kept as part of the first header name. */
  def stripBom(df: DataFrame): DataFrame =
    df.columns.headOption match {
      case Some(first) if first.startsWith("\uFEFF") =>
        df.withColumnRenamed(first, first.substring(1))
      case _ => df
    }

  /** cp1252 differs from latin-1 ONLY on bytes 0x80–0x9F: latin-1 maps
    * them to the C1 control codepoints, cp1252 to 27 printable chars
    * (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ; 5 bytes are
    * undefined — the strict probe guarantees those never occur when this
    * recode runs). Spark 4 rejects "windows-1252" as a CSV charset
    * (CharsetProvider allowlist, no legacy-conf mutation wanted), so a
    * cp1252 file is read as latin-1 and recoded with a codegen'd
    * `translate` — a byte-faithful equivalence, not an approximation. */
  private[sources] val Cp1252Recode: (String, String) = {
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val pairs = (0x80 to 0x9F).flatMap { b =>
      val c = new String(Array(b.toByte), cp1252).charAt(0)
      if (c != '�') Some((b.toChar, c)) else None
    }
    (pairs.map(_._1).mkString, pairs.map(_._2).mkString)
  }

  private def recodeCp1252(df: DataFrame): DataFrame = {
    val (from, to) = Cp1252Recode
    val recoded = df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        translate(col(s"`${f.name}`"), from, to).as(f.name)
      else col(s"`${f.name}`")
    }.toSeq: _*)
    // header bytes recode too (driver-side rename)
    df.columns.foldLeft(recoded) { (d, c) =>
      val fixed = c.map(ch => { val i = from.indexOf(ch); if (i >= 0) to.charAt(i) else ch })
      if (fixed != c) d.withColumnRenamed(c, fixed) else d
    }
  }

  def readCsvWithEncodingFallback(
      spark: SparkSession, path: String, delim: Char): (DataFrame, String) = {
    val enc = detectEncoding(spark, path)
    val readAs = if (enc == "windows-1252") "ISO-8859-1" else enc
    val df = spark.read
      .option("header", "true").option("sep", delim.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("multiLine", "true")
      .option("encoding", readAs)
      .csv(path)
    val decoded = if (enc == "windows-1252") recodeCp1252(df) else df
    (stripBom(decoded.drop("_corrupt_record")), enc)
  }

  /** Delimiter conversion (S3, delimiter_handler.py:547-598): re-parse
    * with the detected separator, rewrite comma-separated. */
  def convertDelimiter(spark: SparkSession, inPath: String, outPath: String,
                       from: Char, to: Char = ','): Unit =
    readCsv(spark, inPath, from)
      .write.mode("overwrite").option("header", "true")
      .option("sep", to.toString).csv(outPath)

  /** Full decision pipeline for one file: detect → structural check →
    * read (None when structurally invalid — reference rejects the file
    * before CDE validation, FIXTURES.md CLINPATH). */
  def ingest(spark: SparkSession, path: String): (Detection, StructuralResult, Option[DataFrame]) = {
    val det = detectDelimiter(spark, path)
    val struct = structuralValidation(spark, path, det.delimiter)
    val df = if (struct.ok) Some(readCsv(spark, path, det.delimiter)) else None
    (det, struct, df)
  }
}
