package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy). A
  * suite's cached frames are released after it, so a later suite plans
  * the scans it reads, not an in-memory scan of an earlier suite's
  * fixture. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** A readable file path of the test resource `name`, also when the
    * test classpath packs the resources into a jar. */
  def fixture(name: String): String = SparkSpec.fixture(name)

  override def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}

object SparkSpec {
  private lazy val fixtureDir = {
    val d = Files.createTempDirectory("graft-fixtures")
    d.toFile.deleteOnExit()
    d
  }

  /** A resource inside a jar is copied once to a temp file at its
    * resource path, so `a/x.csv` and `b/x.csv` stay apart. */
  def fixture(name: String): String = synchronized {
    val url = getClass.getResource(s"/$name")
    require(url != null, s"no test resource $name")
    if (url.getProtocol == "file") Paths.get(url.toURI).toString
    else {
      val out = fixtureDir.resolve(name)
      if (!Files.exists(out)) {
        Files.createDirectories(out.getParent)
        Iterator.iterate(out.getParent)(_.getParent).takeWhile(_ != fixtureDir)
          .toSeq.reverse.foreach(_.toFile.deleteOnExit())
        val in = url.openStream()
        try Files.copy(in, out) finally in.close()
        out.toFile.deleteOnExit()
      }
      out.toString
    }
  }

  lazy val session: SparkSession = {
    val s = GraftExtensions.sessionBuilder("local[4]", 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
