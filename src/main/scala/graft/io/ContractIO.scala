package graft.io

import graft.align.ApplyContract
import graft.contracts.Contract
import graft.quality._
import graft.strategies._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Outcome of a governed read: the aligned frame plus its verdict. */
final case class ReadResult(df: DataFrame, validation: ValidationResult)

/** Outcome of a governed write: verdict + every path written. */
final case class WriteResult(validation: ValidationResult, writtenPaths: Seq[String], warnings: Seq[String])

/** Contract-governed IO — the Spark-native core of dc43's
  * `read_with_governance` / `write_with_governance`
  * (`spark/io/read.py`, `spark/io/write.py`, `spark/io/base.py:459-535`):
  * load → metrics (one pre-scan) → evaluate → align; and on write
  * observe-the-input → evaluate → plan via a violation strategy → write.
  *
  * Scale notes (100 TB posture):
  *   - A governed read runs its metric pre-scan and nothing else: 1 Spark
  *     job, 2 with `unique` rules, plus the jobs of each `query` rule's
  *     SQL. The source opens through
  *     [[Sources.reader]], which reads one parquet footer on the driver
  *     (the file Spark's inference would pick), not in a Spark job; with
  *     `mergeSchema` every footer is merged in one job, as in Spark.
  *     The frame keeps the file's physical schema, which is what
  *     `SchemaSnapshot` compares against the contract.
  *   - Observations are collected on the *input* frame, before alignment
  *     auto-casts can mask type mismatches (reference order,
  *     `spark/io/base.py:782,801`).
  *   - A write takes one of three paths, chosen by the strategy's
  *     `gatesOnVerdict` and [[Staging.supports]] alone. On the first two
  *     the metrics ride the one write of the rows
  *     ([[Metrics.observedForWrite]]): 1 Spark job, plus one shuffle stage
  *     (one job under AQE) per `unique` key, which shuffles the written
  *     rows by that key, plus the jobs of each `query` rule's SQL.
  *   - Not gated (NoOp, Flag): the planned frame is written as is.
  *   - Gated (Split, Strict), to a file format (parquet, orc, json, csv,
  *     text) on a store where rename is a metadata operation (local,
  *     HDFS, viewfs): the primary frame of the strategy's clean-verdict
  *     plan (the aligned rows; the flagged rows for Flag under Strict) is
  *     written once, `partitionBy` its composite pass flag (TRUE / FALSE
  *     / NULL), into `<path>/_graft_staging_<uuid>`, hidden from Spark
  *     reads of `path` by its `_` prefix. Then the verdict picks the
  *     plan, whose every request is a row subset ([[RowSet]]) of the
  *     staged frame, published by renaming its staged files: clean, every
  *     staged row (NULL-pass included) to `path`; violations, TRUE rows to
  *     `<path>/valid` and FALSE rows to `<path>/reject` (NULL rows to
  *     neither). `mode` applies to each published directory as
  *     `DataFrameWriter.save` would; a subset without rows is written
  *     empty through Spark (1 more job), so it stays readable. A Strict
  *     abort, a failed write or an `error`-mode clash deletes the staging
  *     directory, and the target directories the write created if
  *     nothing was published into them. A process killed mid-write leaves
  *     a hidden staging directory (invisible to readers, safe to delete);
  *     killed mid-publish, a partly published subset — as a killed
  *     `DataFrameWriter` job commit would.
  *   - Gated, to other formats or object stores (where rename is a copy):
  *     one metrics pre-scan first ([[Metrics.computeWithQueries]]): 1
  *     Spark job, 2 with `unique` rules, plus the jobs of each `query`
  *     rule's SQL, then one write per planned subset. Nothing is ever
  *     persisted: Split's valid/reject subsets are two pushed-down filter
  *     scans of the source, not a cached materialisation of the input.
  */
object ContractIO {

  def read(
      spark: SparkSession,
      path: String,
      contract: Contract,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      autoCast: Boolean = true,
      collectMetrics: Boolean = true,
      enforce: Boolean = false,
      interceptors: Seq[GovernanceInterceptor] = Nil,
      statusPolicy: Option[ReadStatusPolicy] = None
  ): ReadResult = {
    statusPolicy.foreach(_.check(contract))
    val ctx = InterceptorContext("read", None, Some(path), Some(contract))
    interceptors.foreach(_.preRead(ctx))
    val raw = Sources.reader(spark, format).options(options).load(path)
    val specs = Expectations.fromContract(contract)
    val metrics: Map[String, Any] =
      if (collectMetrics) Metrics.computeWithQueries(raw, specs, spark) else Map.empty
    val validation = Evaluator.evaluate(contract, SchemaSnapshot.of(raw).toMap, metrics)
    if (enforce && !validation.ok)
      throw new IllegalStateException(
        s"contract ${contract.id}:${contract.version} violated on read: ${validation.errors.mkString("; ")}")
    val aligned = ApplyContract.align(raw, contract, autoCast)
    ReadResult(interceptors.foldLeft(aligned)((df, i) => i.postRead(ctx, df)), validation)
  }

  /** Governed read resolving the contract from a store by version spec
    * (`None` = latest, `"==v"`/bare = exact, `">=v"` = highest satisfying)
    * — the reference's `contract_id` + `expected_contract_version` read
    * surface (`spark/io/validation.py:83-127`). */
  def readResolved(
      spark: SparkSession,
      path: String,
      store: graft.contracts.ContractStore,
      contractId: String,
      versionSpec: Option[String] = None,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      autoCast: Boolean = true,
      collectMetrics: Boolean = true,
      enforce: Boolean = false,
      interceptors: Seq[GovernanceInterceptor] = Nil,
      statusPolicy: Option[ReadStatusPolicy] = None
  ): ReadResult = {
    val contract = graft.contracts.VersionPolicy.resolve(store, contractId, versionSpec)
    read(spark, path, contract, format, options, autoCast, collectMetrics,
      enforce, interceptors, statusPolicy)
  }

  def write(
      df: DataFrame,
      path: String,
      contract: Contract,
      format: String = "parquet",
      mode: String = "error",
      options: Map[String, String] = Map.empty,
      strategy: ViolationStrategy = NoOpStrategy,
      autoCast: Boolean = true,
      interceptors: Seq[GovernanceInterceptor] = Nil
  ): WriteResult = {
    val ctx = InterceptorContext("write", None, Some(path), Some(contract))
    val df0 = interceptors.foldLeft(df)((d, i) => i.preWrite(ctx, d))
    val spark = df0.sparkSession
    val specs = Expectations.fromContract(contract)
    val schema = SchemaSnapshot.of(df0).toMap

    val written = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]
    def target(req: WriteRequest): String =
      req.pathSuffix.map(s => s"${path.stripSuffix("/")}/$s").getOrElse(path)
    def execute(plan: WritePlan): Unit = (plan.primary.toSeq ++ plan.additional).foreach { req =>
      req.df.write.format(format).options(options).mode(mode).save(target(req))
      written += target(req)
      warnings ++= req.warnings
    }

    val validation =
      if (strategy.gatesOnVerdict && !Staging.supports(spark, path, format)) {
        // one metrics pre-scan on the input, then plan against the verdict
        val (v, _, plan) = prescan(df0, contract, strategy, autoCast)
        execute(plan)
        v
      } else {
        // the metrics ride the one write of the rows: one input scan
        val queries = Metrics.queryMetrics(df0, specs, spark)
        val obs = Observation("graft_dq_" + java.util.UUID.randomUUID().toString.replace("-", ""))
        val observed = ApplyContract.align(Metrics.observedForWrite(df0, specs, obs), contract, autoCast)
        val cleanPlan = strategy.plan(observed, specs, ValidationResult(ok = true, Nil, Nil, Map.empty, schema))
        def verdict() = Evaluator.evaluate(contract, schema, Metrics.metricMap(obs.get) ++ queries)
        if (!strategy.gatesOnVerdict) {
          execute(cleanPlan)
          verdict()
        } else {
          // the clean plan's frame staged once, partitioned by its pass
          // flag; every request of the verdict's plan is a subset of it,
          // published by rename
          val saveMode = Staging.saveMode(mode)
          val withPass = cleanPlan.primary.get.df.withColumn(Staging.PassColumn, Strategies.passAll(specs))
          val staged = Staging.stage(withPass, path, format, options)
          try {
            val v = verdict()
            val plan = strategy.plan(ApplyContract.align(df0, contract, autoCast), specs, v)
            abortIfFailed(plan, v)
            val requests = plan.primary.toSeq ++ plan.additional
            staged.publish(requests.map(r => Staging.Publish(r.rows, target(r), r.df)), saveMode)
            requests.foreach { r => written += target(r); warnings ++= r.warnings }
            v
          } finally staged.discard()
        }
      }
    val result = WriteResult(validation, written.result(), validation.warnings ++ warnings.result())
    interceptors.foreach(_.postWrite(ctx, result))
    result
  }

  /** The pre-scan verdict step of a governed write: one metrics pre-scan
    * of `df`, its verdict, the aligned frame and the strategy's plan for
    * it; throws when the plan fails the write, before anything is written. */
  private[io] def prescan(df: DataFrame, contract: Contract, strategy: ViolationStrategy,
                          autoCast: Boolean): (ValidationResult, DataFrame, WritePlan) = {
    val specs = Expectations.fromContract(contract)
    val metrics = Metrics.computeWithQueries(df, specs, df.sparkSession)
    val v = Evaluator.evaluate(contract, SchemaSnapshot.of(df).toMap, metrics)
    val aligned = ApplyContract.align(df, contract, autoCast)
    val plan = strategy.plan(aligned, specs, v)
    abortIfFailed(plan, v)
    (v, aligned, plan)
  }

  // strict strategies abort before anything is published
  private def abortIfFailed(plan: WritePlan, v: ValidationResult): Unit =
    plan.failWith.foreach { msg =>
      throw new IllegalStateException(s"$msg: ${v.errors.mkString("; ")}")
    }
}
