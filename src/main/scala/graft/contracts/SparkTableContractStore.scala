package graft.contracts

import graft.io.Sources
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Contract store backed by a Spark-managed dataset — the Spark-native
  * analogue of the reference's Delta-table store
  * (`contracts/backend/stores/delta.py`): contracts live with the data, on
  * the same storage the cluster already reads, and every `put` is an
  * append of `(contract_id, version, body, written_at)`. Readers resolve
  * the newest `written_at` per (id, version), so re-putting a version
  * supersedes it without rewrites — the same event-log shape Delta gives,
  * expressed on any Spark batch source (`format` defaults to parquet; see
  * [[DeltaContractStore]] for the Delta binding).
  */
class SparkTableContractStore(spark: SparkSession, path: String,
                              format: String = "parquet") extends ContractStore {
  import spark.implicits._

  private def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def all = {
    val base = Sources.reader(spark, format).load(path)
    // stores written before the tiebreak column existed lack `seq`
    val withSeq = if (base.columns.contains("seq")) base else base.withColumn("seq", lit(0L))
    withSeq
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("contract_id", "version")
          .orderBy(col("written_at").desc, col("seq").desc)))
      .filter(col("rn") === 1)
  }

  override def put(contract: Contract): Unit =
    // seq (per-JVM monotonic) breaks same-millisecond written_at ties so
    // supersession is deterministic under rapid re-puts
    Seq((contract.id, contract.version, ContractJson.toJson(contract),
        System.currentTimeMillis(), System.nanoTime()))
      .toDF("contract_id", "version", "body", "written_at", "seq")
      .coalesce(1).write.mode(SaveMode.Append).format(format).save(path)

  override def get(id: String, version: String): Option[Contract] =
    if (!exists) None
    else all.filter(col("contract_id") === id && col("version") === version)
      .select("body").as[String].collect().headOption.map(ContractJson.fromJson)

  override def listVersions(id: String): Seq[String] =
    if (!exists) Nil
    else all.filter(col("contract_id") === id)
      .select("version").as[String].collect().toSeq.sorted

  override def listContractIds(): Seq[String] =
    if (!exists) Nil
    else all.select("contract_id").distinct().as[String].collect().toSeq.sorted
}

/** Interface-compatible twin of the reference's primary production store
  * (`contracts/backend/stores/delta.py:23-152`): the same append +
  * latest-wins contract log, stored as a Delta table. Pure runtime
  * binding — `format("delta")` resolves through Spark's DataSource
  * registry, so this class compiles and ships without delta-spark on the
  * classpath; constructing it is free, but reads/writes require the Delta
  * jars (as the reference requires `delta-spark` at runtime). Delta's
  * transaction log additionally makes concurrent `put`s atomic, which the
  * parquet-backed default cannot promise. */
final class DeltaContractStore(spark: SparkSession, path: String)
  extends SparkTableContractStore(spark, path, "delta")
