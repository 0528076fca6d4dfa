package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Counts the jobs of `group`; releases `flushed` when a job of `marker`
  * ends — the listener bus delivers in order, so every earlier event has
  * been seen by then. */
private final class GroupJobs(group: String, marker: String) extends SparkListener {
  val jobs = new AtomicInteger
  val flushed = new CountDownLatch(1)
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g == group) jobs.incrementAndGet()
    else if (g == marker) markerJobs.add(e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) flushed.countDown()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it ran, counted by a
    * listener on the job group `body` runs under. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val listener = new GroupJobs(s"jobs-$id", s"flush-$id")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"jobs-$id", "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"flush-$id", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(listener.flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      (result, listener.jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
