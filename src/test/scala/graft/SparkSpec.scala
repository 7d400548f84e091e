package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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

  /** Runs `body` with the session confs `kv` set, then puts back each
    * key's prior value — the session's own value for a key
    * `Driver.settings` set (e.g. `spark.sql.shuffle.partitions`), not
    * Spark's default — and unsets only keys that had none. */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f`'s result and the number of Spark jobs it started, counted by
    * job group. The status tracker learns of jobs from the asynchronous
    * listener bus, so a one-task marker job in a second group is the
    * barrier: the bus delivers in order, and once the marker is visible
    * every job `f` started is too. */
  protected def jobsStarted[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
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

  /** `f`'s result and the shuffle bytes its jobs' tasks wrote (the sum of
    * `shuffleWriteMetrics.bytesWritten`), counted by job group. */
  protected def shuffleBytesWritten[T](f: => T): (T, Long) = {
    val group = s"shuffle-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = inGroup(group)(f)
      org.apache.spark.sql.ExecutedPlans.flushListenerBus(spark)
      (result, bytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def inGroup[U](group: String)(g: => U): U = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try g finally sc.clearJobGroup()
  }
}
