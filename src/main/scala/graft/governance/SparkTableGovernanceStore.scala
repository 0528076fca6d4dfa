package graft.governance

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Governance store backed by Spark-managed datasets — the Spark-native
  * analogue of the reference's Delta governance store
  * (`governance/backend/stores/delta.py:1-692`), mirroring
  * [[graft.contracts.SparkTableContractStore]]: verdicts live with the
  * data, on the same storage the cluster already reads. Three append-only
  * event logs under one root — `status/`, `links/`, `activity/` — where
  * status and links resolve latest-wins per key ((written_at, seq)
  * ordered, seq breaking same-millisecond ties) and activity replays in
  * append order. Keys are raw ids (columns, not filenames), so per-id
  * reads are exact. `format` defaults to parquet; [[DeltaGovernanceStore]]
  * binds the same log shape to Delta, whose transaction log additionally
  * makes concurrent appends atomic. */
class SparkTableGovernanceStore(spark: SparkSession, path: String,
                                format: String = "parquet") extends GovernanceStore {
  import spark.implicits._

  private def dir(sub: String) = s"$path/$sub"

  private def exists(sub: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir(sub))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def append(sub: String, df: DataFrame): Unit =
    df.withColumn("written_at", lit(System.currentTimeMillis()))
      .withColumn("seq", lit(System.nanoTime()))
      .coalesce(1).write.mode(SaveMode.Append).format(format).save(dir(sub))

  private def latestPerKey(sub: String, keys: Seq[String]): DataFrame = {
    Sources.reader(spark, format).load(dir(sub))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col("written_at").desc, col("seq").desc)))
      .filter(col("rn") === 1)
  }

  override def putStatus(datasetId: String, datasetVersion: String, json: String): Unit =
    append("status", Seq((datasetId, datasetVersion, json))
      .toDF("dataset_id", "dataset_version", "payload"))

  override def getStatus(datasetId: String, datasetVersion: String): Option[String] =
    if (!exists("status")) None
    else latestPerKey("status", Seq("dataset_id", "dataset_version"))
      .filter(col("dataset_id") === datasetId && col("dataset_version") === datasetVersion)
      .select("payload").as[String].collect().headOption

  override def listStatuses(): Seq[String] =
    if (!exists("status")) Nil
    else latestPerKey("status", Seq("dataset_id", "dataset_version"))
      .orderBy(col("dataset_id"), col("dataset_version"))
      .select("payload").as[String].collect().toSeq

  override def statusesFor(datasetId: String): Seq[String] =
    if (!exists("status")) Nil
    else latestPerKey("status", Seq("dataset_id", "dataset_version"))
      .filter(col("dataset_id") === datasetId)
      .orderBy(col("dataset_version"))
      .select("payload").as[String].collect().toSeq

  override def putLink(datasetId: String, contractId: String, contractVersion: String): Unit =
    append("links", Seq((datasetId, contractId, contractVersion))
      .toDF("dataset_id", "contract_id", "contract_version"))

  override def getLink(datasetId: String): Option[(String, String)] =
    if (!exists("links")) None
    else latestPerKey("links", Seq("dataset_id"))
      .filter(col("dataset_id") === datasetId)
      .select("contract_id", "contract_version").as[(String, String)]
      .collect().headOption

  override def linkedDatasetIds(): Seq[String] =
    if (!exists("links")) Nil
    else latestPerKey("links", Seq("dataset_id"))
      .select("dataset_id").orderBy("dataset_id").as[String].collect().toSeq

  override def appendActivity(datasetId: String, jsonLine: String): Unit =
    append("activity", Seq((datasetId, jsonLine)).toDF("dataset_id", "payload"))

  override def activityLines(datasetId: String): Seq[String] =
    if (!exists("activity")) Nil
    else Sources.reader(spark, format).load(dir("activity"))
      .filter(col("dataset_id") === datasetId)
      .orderBy(col("written_at"), col("seq"))
      .select("payload").as[String].collect().toSeq

  override def allActivityLines(): Seq[String] =
    if (!exists("activity")) Nil
    else Sources.reader(spark, format).load(dir("activity"))
      .orderBy(col("dataset_id"), col("written_at"), col("seq"))
      .select("payload").as[String].collect().toSeq
}

/** Delta binding of the governance event log — the reference's
  * `DeltaGovernanceStore` (`governance/backend/stores/delta.py`). Pure
  * runtime binding like [[graft.contracts.DeltaContractStore]]:
  * `format("delta")` resolves through Spark's DataSource registry, so
  * this compiles and ships without delta-spark on the classpath;
  * reads/writes require the Delta jars at runtime. */
final class DeltaGovernanceStore(spark: SparkSession, path: String)
  extends SparkTableGovernanceStore(spark, path, "delta")
