package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy). A
  * suite's cached frames are released after it, so a later suite plans
  * the scans it reads, not an in-memory scan of an earlier suite's
  * fixture. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftExtensions.sessionBuilder("local[4]", 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
