package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (Spark re-uses the
  * active session via getOrCreate; suites run sequentially under sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  private var suiteDir: Option[Path] = None

  /** `name` under this suite's own temp directory, which is made on first
    * use and deleted when the suite ends. */
  def tmpPath(name: String): String = {
    val dir = suiteDir.getOrElse {
      val d = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      suiteDir = Some(d)
      d
    }
    dir.resolve(name).toString
  }

  override def afterAll(): Unit =
    try suiteDir.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
