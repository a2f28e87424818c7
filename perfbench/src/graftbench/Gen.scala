package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SeqTableGen

/** Expected per-partition outcome of the sequence-table checks, computed
  * in the harness from SeqTableGen's documented id arithmetic and Spark's
  * xxhash64 definition — without running any engine code. */
object SeqExpect {
  val Rules: Seq[String] = Seq("R_NONNULL_DOCID", "R_REGEX_DOCID",
    "R_NTOK_EQ_SIZE", "R_TOKEN_RANGE", "R_ENUM_SOURCE", "R_REF_SOURCE",
    "R_UNIQUE_DOCID")

  final case class Part(rows: Long, byRule: Map[String, Long]) {
    def violations: Long = byRule.values.sum
  }

  /** Spark's `xxhash64(...)` starts from this seed. */
  private val HashSeed = 42L

  private def docId(id: Long): String = f"doc_$id%012d"

  /** `abs(xxhash64(id, lit(seed), lit(salt)))` as SeqTableGen spells it. */
  private def h(id: Long, seed: Long, salt: Int): Long =
    math.abs(XXH64.hashInt(salt, XXH64.hashLong(seed, XXH64.hashLong(id, HashSeed))))

  /** `pmod(xxhash64(doc_id), nBuckets)`, the writePartitioned bucket. */
  def bucket(doc: String, nBuckets: Int): Int = {
    val u = UTF8String.fromString(doc)
    val x = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, HashSeed)
    java.lang.Math.floorMod(x, nBuckets.toLong).toInt
  }

  def compute(n: Int, seed: Long, nBuckets: Int): Map[Int, Part] = {
    val docs = Array.tabulate(n) { i =>
      val id = i.toLong
      val m = id % 997
      val dupSel = id % 4991
      if (m == 0) "  "
      else if (m == 1) s"DOC-$id"
      else if (dupSel == 5 && id > 0) docId(id - 1)
      else if (dupSel == 6) docId(42)
      else docId(id)
    }
    val occurrences = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    docs.foreach(d => occurrences(d) += 1)
    val rows = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    val counts = mutable.HashMap.empty[(Int, String), Long].withDefaultValue(0L)
    val refAllow = SeqTableGen.RefAllowlist.toSet
    for (i <- 0 until n) {
      val id = i.toLong
      val m = id % 997
      val b = bucket(docs(i), nBuckets)
      rows(b) += 1
      def hit(rule: String): Unit = counts((b, rule)) += 1
      if (m == 0) hit("R_NONNULL_DOCID")
      if (m == 0 || m == 1) hit("R_REGEX_DOCID")
      if (m == 2) hit("R_NTOK_EQ_SIZE")
      if (m == 3) hit("R_TOKEN_RANGE")
      if (m == 4) hit("R_ENUM_SOURCE")
      val source =
        if (m == 4) "scraped"
        else SeqTableGen.Sources((h(id, seed, 2) % SeqTableGen.Sources.size).toInt)
      if (!refAllow(source)) hit("R_REF_SOURCE")
      if (occurrences(docs(i)) > 1) hit("R_UNIQUE_DOCID")
    }
    rows.keys.map { b =>
      b -> Part(rows(b), Rules.map(r => r -> counts((b, r))).filter(_._2 > 0).toMap)
    }.toMap
  }
}

/** Seeded, all-string SAMPLE and DATA tables shaped like the reference's
  * CDE tables. Valid values come from the seed; missing and invalid cells
  * sit at fixed offsets inside each of the `Parts` equal input slices, so
  * their counts and their first-appearance order — hence the whole QC
  * report — do not depend on the seed or on the order the files are read. */
object CdeGen {
  val Parts = 4

  val Regions: Seq[String] = Seq(
    "Substantia nigra pars dorsalis (SND, UBERON:0002038)",
    "Substantia nigra pars medialis (SNM, UBERON:0002038)",
    "Substantia nigra pars reticulata (SNR, UBERON:0001966)",
    "Hippocampal CA1 (CA1, UBERON:0003885)")

  /** One planted cell class: value `v` at offsets `o % mod == at`. */
  final case class Plant(field: String, mod: Int, at: Int, value: String, kind: String)

  /** Planted cells in precedence order (first match wins per field).
    * kind: "null" normalizes to NA, "invalid" fails the rule, "fill" is a
    * valid FillNull/NA value that still counts as empty. */
  val SamplePlants: Seq[Plant] = Seq(
    Plant("sample_id", 1009, 0, "", "null"),
    Plant("condition_id", 211, 5, "pd", "invalid"),
    Plant("condition_id", 307, 7, "Healthy", "invalid"),
    Plant("organism", 401, 3, "Rat", "invalid"),
    Plant("age_at_collection", 97, 1, "NA", "fill"),
    Plant("age_at_collection", 503, 2, "sixty", "invalid"),
    Plant("age_at_collection", 151, 4, " ", "null"),
    Plant("region_level_1", 89, 6, "NA", "fill"),
    Plant("region_level_1", 613, 9, "Cortex;Hippocampal CA1 (CA1, UBERON:0003885)", "invalid"))

  val DataPlants: Seq[Plant] = Seq(
    Plant("content", 101, 3, "None", "null"),
    Plant("content", 701, 1, "Text", "invalid"),
    Plant("adjustment", 809, 2, "raw", "invalid"),
    Plant("batch", 907, 5, "b7", "invalid"),
    Plant("file_MD5", 997, 11, "XYZ", "invalid"),
    Plant("replicate", 7, 0, "", "null"))

  private def planted(o: org.apache.spark.sql.Column, field: String,
                      plants: Seq[Plant], otherwise: org.apache.spark.sql.Column) =
    plants.filter(_.field == field).foldRight(otherwise) { (p, rest) =>
      when(o % p.mod === p.at, lit(p.value)).otherwise(rest)
    }.as(field)

  private def base(spark: SparkSession, rows: Long, seed: Long) = {
    val m = rows / Parts
    val df = spark.range(0, m * Parts, 1, Parts)
    def num(salt: Int, mod: Int) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(mod))
    def pick(salt: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), num(salt, xs.size).cast("int") + 1)
    (df, col("id") % m, num _, pick _)
  }

  def sample(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val (df, o, num, pick) = base(spark, rows, seed)
    def p(f: String, v: org.apache.spark.sql.Column) = planted(o, f, SamplePlants, v)
    df.select(
      p("sample_id", concat(lit("S"), col("id").cast("string"))),
      concat(lit("SUBJ"), num(1, 100000).cast("string")).as("subject_id"),
      p("condition_id", pick(2, Seq("PD", "Control", "Prodromal", "Other"))),
      p("organism", pick(3, Seq("Human", "Mouse"))),
      p("age_at_collection", (num(4, 80) + 18).cast("string")),
      p("region_level_1", when(num(5, 3) === 0,
        concat_ws(";", pick(7, Regions), pick(8, Regions))).otherwise(pick(7, Regions))),
      lit("x").as("assigned_field"),
      concat(lit("note "), num(6, 1000).cast("string")).as("notes"))
  }

  def data(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val (df, o, num, pick) = base(spark, rows, seed)
    def p(f: String, v: org.apache.spark.sql.Column) = planted(o, f, DataPlants, v)
    df.select(
      concat(lit("S"), num(1, 1000000).cast("string")).as("sample_id"),
      p("content", pick(2, Seq("Counts", "Image", "Reads"))),
      p("adjustment", pick(3, Seq("Raw", "Processed"))),
      pick(4, Seq("fastq", "bam", "csv")).as("file_type"),
      p("batch", num(5, 40).cast("string")),
      concat(lit("run "), num(6, 500).cast("string")).as("file_description"),
      p("file_MD5", md5(concat(lit(seed.toString), lit(":"), col("id").cast("string")))),
      concat(lit("f_"), col("id").cast("string"), lit(".fastq")).as("file_name"),
      p("replicate", concat(lit("rep"), (col("id") % 3).cast("string"))),
      lit("").as("configuration_file"))
  }

  /** (empty cells, invalid cells) per field for a table of `rows` rows. */
  def expected(plants: Seq[Plant], rows: Long): Map[String, (Long, Long)] = {
    val m = rows / Parts
    plants.map(_.field).distinct.map { f =>
      val mine = plants.filter(_.field == f)
      var empty, invalid = 0L
      var o = 0L
      while (o < m) {
        mine.find(p => o % p.mod == p.at).foreach { p =>
          if (p.kind == "invalid") invalid += 1 else empty += 1
        }
        o += 1
      }
      f -> (empty * Parts, invalid * Parts)
    }.toMap
  }
}

/** The curation corpus: `perfbench/data/documents.parquet`, a copy of
  * the engine's 5000-document test corpus (doc_id, source, text,
  * n_chars), replicated like the frozen curate benchmark does. Replica
  * `r` of a document keeps its text and gets doc_id `doc_id + r * 1e6`,
  * so it keeps its synthetic host (`doc_id % 10`). The seed decides which
  * file each document lands in and its order there; the funnel counts do
  * not depend on either. */
object Corpus {
  val Path = "perfbench/data/documents.parquet"
  val Docs = 5000L
  val BlockedHost = "h3.example.com"
  val MinChars = 100
  val ContamN = 5

  /** Survivors of each funnel stage for one replica of the corpus, in
    * stage order. Pinned from the engine; a deliberate change to a gate
    * must update them. Every replica's text is in the seen or bench
    * frame exactly when the original's is, so R replicas keep R times
    * these counts. */
  val Funnel: Seq[(String, Long)] = Seq("input" -> Docs, "extract" -> 5000L,
    "len_gate" -> 4531L, "quality_gate" -> 994L, "badwords" -> 994L, "blocklist" -> 903L,
    "seen_dedup" -> 883L, "decontam" -> 865L)

  def original(spark: SparkSession): DataFrame =
    spark.read.parquet(Path).select("doc_id", "source", "text", "n_chars")

  def replicated(spark: SparkSession, replicas: Int, seed: Long): DataFrame =
    original(spark).crossJoin(spark.range(replicas.toLong).toDF("r"))
      .select((col("doc_id") + col("r") * 1000000L).as("doc_id"),
        col("source"), col("text"), col("n_chars"))
      .repartition(4, xxhash64(col("doc_id"), lit(seed)))
      .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed + 1)))

  /** The already-ingested corpus and the benchmark frame, as in the
    * frozen curate benchmark: both from the original documents. */
  def seen(spark: SparkSession): DataFrame = original(spark).where(col("doc_id") < 100)
  def bench(spark: SparkSession): DataFrame = original(spark).where(col("doc_id") % 97 === 0)
    .select(filter(split(lower(trim(col("text"))), "\\s+"), w => w =!= "").as("tokens"))
}
