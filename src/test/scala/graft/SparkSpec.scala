package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (JVM-wide, forked by sbt):
  * the drivers' session settings at 4 cores, plus a temp warehouse. */
object SharedSpark {
  lazy val spark: SparkSession = Driver.session(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

/** Each test runs inside its own [[PersistScope]], so what a test caches
  * is released when it ends and never leaks into the shared session. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  override def withFixture(test: NoArgTest): Outcome =
    PersistScope.within(super.withFixture(test))
}
