package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Requirement, Rule, RuleType}

/** Rule-table ("CDE") loading and cleaning — the Spark-native equivalent
  * of /root/reference/utils/cde.py:258-339 (read + mandatory-column
  * check) and :423-469 (clean: drop Assigned?/Alias rows, dropna(Table),
  * drop_duplicates). The rule table is metadata-sized by construction,
  * so it collects to a driver-side `Seq[Rule]` that compiles to Catalyst
  * predicates (broadcast as literals — never a row-level join).
  */
object RuleTable {

  val MandatoryColumns: Seq[String] = Seq(
    "Table", "Field", "DataType", "Required", "Validation", "FillNull")

  /** Load from a CSV (path or test resource) into rules. */
  def loadCsv(spark: SparkSession, path: String): Seq[Rule] = {
    val df = spark.read.option("header", "true").option("multiLine", "true").csv(path)
    val missing = MandatoryColumns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"rule table missing mandatory columns: $missing")
    fromDataFrame(df)
  }

  /** Clean + parse (drops Alias rows and rows with null Table, dedups —
    * cde.py:423-469 semantics). */
  def fromDataFrame(df: DataFrame): Seq[Rule] = {
    val cols = df.columns.toSet
    def get(r: org.apache.spark.sql.Row, name: String): String =
      if (cols(name)) Option(r.getAs[String](name)).getOrElse("") else ""
    df.na.drop(Seq("Table")).dropDuplicates().collect().toSeq
      .map { r =>
        Rule(
          table = get(r, "Table"),
          field = get(r, "Field"),
          dataType = RuleType.parse(get(r, "DataType")),
          required = Requirement.parse(get(r, "Required")),
          validation =
            if (RuleType.parse(get(r, "DataType")) == RuleType.RegexT) Nil
            else Rule.parseListLiteral(get(r, "Validation")),
          pattern =
            if (RuleType.parse(get(r, "DataType")) == RuleType.RegexT)
              get(r, "Validation").trim
            else "",
          fillNull = Rule.parseListLiteral(get(r, "FillNull")),
          allowMultiEnum = Rule.parseAllowMulti(get(r, "AllowMultiEnum")),
          specificSpecies = parseJsonList(get(r, "SpecificSpecies")),
          specificSampleSource = parseJsonList(get(r, "SpecificSampleSource")),
          specificAssays = parseJsonList(get(r, "SpecificAssays")),
          displayName = get(r, "DisplayName"),
          description = get(r, "Description"))
      }
      .filterNot(_.required == Requirement.Alias)
  }

  /** Specificity filter (cde.py:204-255): keep a rule when its axis list
    * is empty (applies to all) or contains the selection. */
  def filterForSelection(rules: Seq[Rule], species: String,
                         sampleSource: String, assay: String): Seq[Rule] =
    rules.filter { r =>
      axisAllows(r.specificSpecies, species) &&
        axisAllows(r.specificSampleSource, sampleSource) &&
        axisAllows(r.specificAssays, assay)
    }

  private def axisAllows(axis: Seq[String], selection: String): Boolean =
    axis.isEmpty || axis.contains(selection)

  /** Rules for one table (cde.py:544-572). */
  def forTable(rules: Seq[Rule], table: String): Seq[Rule] =
    rules.filter(_.table == table)

  /** JSON-list cells (cde.py:181-202) — same tolerant list parser works
    * for the `["a","b"]` shape. */
  private def parseJsonList(raw: String): Seq[String] = Rule.parseListLiteral(raw)

  /** Columns allowed to hold NULL/empty cells, filled with the "None"
    * placeholder before the completeness scan (cde.py:330). */
  val OkNaColumns: Seq[String] = Seq(
    "Validation", "SpecificSpecies", "SpecificSampleSource", "SpecificAssays",
    "AllowMultiEnum")

  /** Full completeness check (validate_cde_completeness, cde.py:471-524):
    *  1. every mandatory column must exist;
    *  2. allowed-NA columns are filled with "None";
    *  3. no NULL cells may remain in mandatory columns — offenders are
    *     reported as "Table.Field" (nulls → "UNKNOWN"), first 10 plus
    *     ", and N more", in the reference's message shape.
    * Returns (NA-filled frame, error messages); empty messages =
    * complete. The rule table is metadata-sized by contract, so the
    * offender scan is a driver-trivial job. */
  def validateCompleteness(
      df: DataFrame,
      mandatory: Seq[String] = MandatoryColumns,
      okNa: Seq[String] = OkNaColumns): (DataFrame, Seq[String]) = {
    val missing = mandatory.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      return (df, missing.map(c => s"CDE is missing required column '$c'"))
    val filled = okNa.filter(df.columns.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, coalesce(col(c), lit("None"))))
    val anyNull = mandatory.map(col(_).isNull).reduce(_ || _)
    val offenders = filled.where(anyNull)
      .select(
        coalesce(col("Table"), lit("UNKNOWN")).as("t"),
        coalesce(col("Field"), lit("UNKNOWN")).as("f"))
      .collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}")
    if (offenders.isEmpty) return (filled, Nil)
    val shown = offenders.take(10).mkString(", ")
    val extra = offenders.length - math.min(10, offenders.length)
    val details = if (extra > 0) s"$shown, and $extra more" else shown
    val fieldsRepr = mandatory.map(f => s"'$f'").mkString("[", ", ", "]")
    (filled, Seq(
      s"The CDE spreadsheet has NULL values in required columns. $fieldsRepr. " +
        s"Examples: $details."))
  }
}
