package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory, with graft's recommended settings:
  * native function extensions, AQE with skew-join handling, UTC session
  * time, nanos-parquet tolerance and no web UI (chain
  * `.config("spark.ui.enabled", "true")` to get it back).
  * `shufflePartitions` should track the cluster's total cores (locally:
  * the `local[n]` n). Every session in this repository is built here;
  * `SessionFactorySpec` fails on a builder anywhere else. */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()
}
