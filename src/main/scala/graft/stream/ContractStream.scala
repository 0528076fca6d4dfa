package graft.stream

import graft.align.ApplyContract
import graft.analytics.Analytics
import graft.contracts.Contract
import graft.io.{ContractIO, Sources}
import graft.quality._
import graft.strategies.{NoOpStrategy, ViolationStrategy}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** One micro-batch's observed contract metrics + verdict. */
final case class BatchObservation(
    batchId: Long,
    metrics: Map[String, Long],
    validation: ValidationResult)

/** Contract-governed Structured Streaming — the Spark-native twin of dc43's
  * `spark/io/streaming.py` (`StreamingObservationWriter` at :96, per-batch
  * validation attach at :236).
  *
  * Metrics ride each micro-batch through `Dataset.observe` (zero extra
  * jobs — the same aggregate expressions the batch path uses), surfaced
  * per batch via a `StreamingQueryListener`. Unique/query rules need
  * distinct aggregation or arbitrary SQL, which streaming observe cannot
  * express; they are skipped here exactly like the reference's streaming
  * path skips non-incremental checks.
  */
object ContractStream {

  val ObservationName = "graft_dq"

  /** Specs whose metric is expressible as a streaming observation. */
  def observableSpecs(contract: Contract): Seq[ExpectationSpec] =
    Expectations.fromContract(contract)
      .filterNot(s => s.rule == "unique" || s.rule == "query")

  /** Attach the contract's one-pass metric observation to a (streaming or
    * batch) frame. Pass a distinct `observationName` per stream when
    * several governed streams share a SparkSession — listeners match on
    * this name, and a shared name would cross-deliver metrics. */
  def observed(df: DataFrame, contract: Contract,
               observationName: String = ObservationName): DataFrame = {
    val specs = observableSpecs(contract)
    val exprs = Metrics.aggregateExprs(specs, df.columns.toSet)
    df.observe(observationName, exprs.head, exprs.tail: _*)
  }

  /** Governed streaming read: `readStream` → observe → align. File-based
    * streams need an explicit schema: for self-describing formats
    * (parquet/orc) it is inferred once from the files present at start —
    * the contract then applies through the align *cast*, since parquet
    * scans cannot coerce physical types — while text formats (csv/json)
    * read contract-first, so drifted files surface as nulls/violations
    * instead of inference surprises. Alignment is a projection, so column
    * pruning still reaches the streaming source. */
  def read(
      spark: SparkSession,
      path: String,
      contract: Contract,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      autoCast: Boolean = true,
      observationName: String = ObservationName
  ): DataFrame = {
    val sourceSchema = format match {
      case "parquet" | "orc" =>
        scala.util.Try(Sources.reader(spark, format).options(options).load(path).schema)
          .getOrElse(ApplyContract.toStructType(contract))
      case _ => ApplyContract.toStructType(contract)
    }
    val raw = spark.readStream
      .schema(sourceSchema)
      .format(format).options(options).load(path)
    ApplyContract.align(observed(raw, contract, observationName), contract, autoCast)
  }

  /** Listener that turns every micro-batch's observed metrics into a
    * [[BatchObservation]] with a full contract verdict. Register on
    * `spark.streams.addListener`. Listeners are session-global: give
    * each governed stream its own `observationName` (matching what was
    * passed to [[observed]]) so concurrent streams on one session don't
    * deliver metrics to each other's listeners. */
  final class ValidationListener(
      contract: Contract,
      schema: Map[String, FieldSnapshot],
      onBatch: BatchObservation => Unit,
      observationName: String = ObservationName
  ) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val observed = e.progress.observedMetrics
      if (observed.containsKey(observationName)) {
        val row: Row = observed.get(observationName)
        val metrics = row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
          n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
        }.toMap
        val validation = Evaluator.evaluate(
          contract, schema, metrics.map { case (k, v) => k -> (v: Any) })
        onBatch(BatchObservation(e.progress.batchId, metrics, validation))
      }
    }
  }

  /** Governed streaming write: align, observe, and write each micro-batch
    * through the batch governance path (`foreachBatch` → [[ContractIO]]),
    * mirroring the reference's per-batch validation attach
    * (`streaming.py:236`); a batch is a static frame, so its `unique` and
    * `query` rules are measured too. Violation strategies apply per batch;
    * the intervention strategy can stop the stream (`streaming.py:82-93`),
    * and every batch verdict is published to the observation sink. */
  def write(
      df: DataFrame,
      path: String,
      contract: Contract,
      checkpointLocation: String,
      format: String = "parquet",
      strategy: ViolationStrategy = NoOpStrategy,
      autoCast: Boolean = true,
      intervention: StreamingInterventionStrategy = NoOpStreamingInterventionStrategy,
      sink: graft.obs.ObservationSink = graft.obs.LogObservationSink,
      onBatch: (Long, graft.io.WriteResult) => Unit = (_, _) => ()
  ): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val result = ContractIO.write(batch, path, contract,
          format = format, mode = "append", strategy = strategy, autoCast = autoCast)
        sink.record(contract.id, Some(batchId), result.validation.metrics, result.validation)
        onBatch(batchId, result)
        intervention.decide(StreamingInterventionContext(
          batchId, result.validation, contract.id, contract.version)).foreach { reason =>
          throw new StreamingInterventionException(reason)
        }
      }
      .start()

  /** Watermarked tumbling-window aggregation over the events schema — the
    * streaming twin of `Analytics.eventsWindow` (minus `count_distinct`,
    * which streaming state cannot hold incrementally; use
    * `approx_count_distinct` downstream if needed). */
  def eventsWindow(events: DataFrame, watermark: String = "1 hour",
                   windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Analytics.dsum(col("value"), 6).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming dedup twin of `Analytics.eventsDedup`: first event per
    * (user_id, event_type) with bounded state via the watermark. */
  def eventsDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming exact document dedup: fingerprint each document
    * (`TextOps.fingerprintCol` of `textCol`) and keep the first arrival
    * per fingerprint within the watermark — the streaming twin of
    * `TextOps.dedupExact`, with state bounded to one fingerprint hash
    * per distinct document seen inside the watermark window. The
    * fingerprint lives in an internal column dropped before returning,
    * so the output schema equals the input schema (a user `fingerprint`
    * column is untouched). */
  def dedupByFingerprint(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      watermark: String = "1 hour"
  ): DataFrame =
    docs
      .withColumn("_graft_fp",
        graft.ops.TextOps.fingerprintCol(org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_graft_fp")
      .drop("_graft_fp")
}
