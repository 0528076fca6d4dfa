package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it ran
    * ([[Profile.jobsOf]]). */
  def jobsOf[T](body: => T): (T, Int) = Profile.jobsOf(spark)(body)
}
