package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.Registry

/** SparkSessionExtensions hook: injects every graft function of
  * [[graft.functions.Registry]] so any session created with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can use them from plain SQL.
  * The Column helpers work on any session: each registers its own
  * function on the active session when the session lacks it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = Registry.inject(e)
}

object GraftExtensions {

  /** The one session builder: `master`, `shufflePartitions`, the configs
    * every graft session shares, and [[GraftExtensions]] — installed once
    * (skipped when `spark.sql.extensions` already names it). Callers add
    * their app name and any extra config, then `getOrCreate()`. */
  def sessionBuilder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // nested-column vectorized parquet reader is OFF by default and
      // costs ~3x on array<int> scans (BENCH.md)
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val viaConf = sys.props.get("spark.sql.extensions")
      .exists(_.split(',').map(_.trim).contains(classOf[GraftExtensions].getName))
    if (viaConf) b else b.withExtensions(new GraftExtensions)
  }
}
