package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-space continuity audit: given a column that is EXPECTED to be a
  * contiguous integer sequence (ingest batch ids, event offsets,
  * page/chunk ordinals, auto-increment keys), find what's missing and
  * how the present keys fragment into runs — the "did the loader drop
  * a range?" check that complements per-row validation ([[ValidationPass]]
  * proves each present row well-formed; this proves no row is ABSENT).
  *
  * Deliberately NOT the textbook gaps-and-islands window query: that
  * spelling (`id − row_number() OVER (ORDER BY id)`) puts the whole
  * table through one unpartitioned ORDER BY — a SinglePartition sort
  * exchange that serializes 10^12 rows through one task. Instead every
  * island/gap boundary is a purely LOCAL property of the key set
  * ("is id−1 present?", "is id+1 present?"), so both are computed as
  * self anti-joins on a shifted key — hash exchanges on the key only,
  * map-side combinable, AQE-splittable, no global order anywhere. The
  * oracle replays the same semantics as NOT EXISTS.
  */
object Continuity {

  private def keys(df: DataFrame, idCol: String): DataFrame =
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id")).distinct()

  /** One-row audit summary: row/distinct counts, key range, how many
    * keys inside [min,max] are absent, and how many contiguous runs
    * (islands) the present keys form. n_islands = 1 + number of gaps;
    * a clean contiguous load reports n_missing = 0, n_islands = 1.
    * Empty input → a single all-zero/null row (the report must still
    * exist to be gated on). */
  def gapSummary(df: DataFrame, idCol: String): DataFrame = {
    val k = keys(df, idCol)
    // island start ⇔ id present ∧ id−1 absent: anti-join on a shifted
    // key — O(distinct) narrow rows, no global sort
    val islandStarts = k.join(
      k.select((col("__id") + 1).as("__id")), Seq("__id"), "left_anti")
    val starts = islandStarts.agg(count(lit(1)).as("n_islands"))
    val base = df.where(col(idCol).isNotNull).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col(idCol)).as("n_distinct"),
      min(col(idCol)).cast("long").as("min_id"),
      max(col(idCol)).cast("long").as("max_id"))
    base.crossJoin(starts)
      .select(col("n_rows"), col("n_distinct"), col("min_id"), col("max_id"),
        when(col("n_rows") === 0, lit(0L))
          .otherwise(col("max_id") - col("min_id") + 1 - col("n_distinct"))
          .as("n_missing"),
        when(col("n_rows") === 0, lit(0L)).otherwise(col("n_islands"))
          .as("n_islands"))
  }

  /** The gap ranges themselves, as (gap_start, island boundary info):
    * each row is an id present in the table whose successor id+1 is
    * absent (and which is not the global max) — i.e. the last key
    * before a hole. Pairing starts with ends into (start, end, width)
    * ranges needs an ordered zip, which IS a sort — but only over the
    * gap boundaries, in one task ([[OrderedFrame.Gaps]]). */
  def gaps(df: DataFrame, idCol: String): DataFrame = {
    val k = keys(df, idCol)
    val mx = k.agg(max(col("__id")).as("__mx"))
    // last id before each hole: id present, id+1 absent, id != max
    val ends = k.join(
        k.select((col("__id") - 1).as("__id")), Seq("__id"), "left_anti")
      .crossJoin(mx).where(col("__id") =!= col("__mx"))
      .select((col("__id") + 1).as("gap_start"))
    // first id after each hole (island starts except the global min)
    val mn = k.agg(min(col("__id")).as("__mn"))
    val starts = k.join(
        k.select((col("__id") + 1).as("__id")), Seq("__id"), "left_anti")
      .crossJoin(mn).where(col("__id") =!= col("__mn"))
      .select(col("__id").as("next_present"))
    // zip the two boundary frames in order: k-th gap start pairs
    // with k-th island resumption (both strictly increasing)
    def numbered(f: DataFrame, c: String): DataFrame =
      OrderedFrame(f, OrderedFrame.Gaps, "Continuity.gaps")(col(c)).numbered("__k")
    numbered(ends, "gap_start").join(numbered(starts, "next_present"), Seq("__k"))
      .select(col("gap_start"), (col("next_present") - 1).as("gap_end"),
        (col("next_present") - col("gap_start")).as("gap_len"))
      .orderBy("gap_start")
  }
}
