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

  /** `f`'s result and the number of Spark jobs it started, counted by
    * job group. The status tracker learns of jobs from the asynchronous
    * listener bus, so a one-task marker job in a second group is the
    * barrier: the bus delivers in order, and once the marker is visible
    * every job `f` started is too. */
  protected def jobsStarted[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    def inGroup[U](group: String)(g: => U): U = {
      sc.setJobGroup(group, group)
      try g finally sc.clearJobGroup()
    }
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val result = inGroup(group)(f)
    val marker = s"$group-marker"
    inGroup(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 30000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "the marker job never reached the status tracker")
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
