package graft.perfbench

import graft.align.ApplyContract
import graft.contracts._
import graft.governance.{GovernanceBackend, GovernanceService}
import graft.io.{ContractVersionLocator, GovernedIO}
import graft.obs.{LogObservationSink, ObservationSink}
import graft.quality._
import graft.strategies.{FlagStrategy, SplitStrategy, ViolationStrategy}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The contracts the governed workloads write and read under. The seeded
  * generator (`gen.py`) plants violations of exactly these rules. */
object BenchContracts {
  private def rule(f: QualityRule => QualityRule) = f(QualityRule())

  val lineitem: Contract = Contract(
    id = "bench.lineitem_flagged", version = "1.0.0", status = Some("active"),
    schema = Seq(SchemaObjectDef("lineitem", Seq(
      FieldDef("l_orderkey", Some("bigint"), required = true),
      FieldDef("l_linenumber", Some("int")),
      FieldDef("l_quantity", Some("double"), quality = Seq(
        rule(_.copy(mustBeGreaterThan = Some(0))),
        rule(_.copy(mustBeLessOrEqualTo = Some(50))))),
      FieldDef("l_extendedprice", Some("double")),
      FieldDef("l_discount", Some("double"), quality = Seq(
        rule(_.copy(mustBeGreaterOrEqualTo = Some(0))),
        rule(_.copy(mustBeLessThan = Some(BigDecimal("0.11")))))),
      FieldDef("l_returnflag", Some("string"), quality = Seq(
        rule(_.copy(rule = Some("enum"), values = Seq("A", "N", "R"))))),
      FieldDef("l_partcode", Some("string"), quality = Seq(
        rule(_.copy(rule = Some("regex"), pattern = Some("^P-[0-9]{6}$"))))),
      FieldDef("l_shipdate", Some("date"))))))

  private val ordersFields = Seq(
    FieldDef("o_orderkey", Some("bigint"), required = true, unique = true),
    FieldDef("o_custkey", Some("bigint"), required = true),
    FieldDef("o_orderstatus", Some("string"), quality = Seq(
      rule(_.copy(rule = Some("enum"), values = Seq("F", "O", "P"))))),
    FieldDef("o_totalprice", Some("double"), quality = Seq(rule(_.copy(mustBeGreaterThan = Some(0))))),
    FieldDef("o_orderdate", Some("date")),
    FieldDef("o_orderpriority", Some("string"), quality = Seq(
      rule(_.copy(rule = Some("regex"), pattern = Some("^[1-5]-[A-Z]+$"))))),
    FieldDef("o_shippriority", Some("int"), quality = Seq(rule(_.copy(mustBeGreaterOrEqualTo = Some(0))))),
    FieldDef("o_clerk", Some("string")))

  val ordersRaw: Contract = Contract(
    id = "bench.orders_raw", version = "1.0.0", status = Some("active"),
    schema = Seq(SchemaObjectDef("orders", ordersFields)))

  val ordersCurated: Contract = Contract(
    id = "bench.orders_curated", version = "1.0.0", status = Some("active"),
    schema = Seq(SchemaObjectDef("orders", ordersFields :+ FieldDef("o_year", Some("int")))))

  /** The pipeline's transform step. */
  def transform(df: DataFrame): DataFrame = df.withColumn("o_year", year(col("o_orderdate")))
}

/** `write_flag` and `pipeline_split`: governed ops through `GovernedIO`,
  * each followed (or, on odd iterations, preceded) by a plain parquet op
  * on the same input. A traced run traces every other pair of iterations,
  * so traced and untraced ops interleave and their difference is the
  * tracing overhead. */
final class Governed(workload: String, seconds: Double, traced: Boolean, work: String, lake: String) {
  import BenchContracts._
  import Main.secs

  private val split = workload == "pipeline_split"
  private val source = if (split) "bench.orders_raw" else "bench.lineitem_raw"
  private val target = if (split) ordersCurated.id else lineitem.id
  private val FlagColumn = "_corrupted_data"
  private val WarmupIterations = 4

  /** A `GovernedIO` and the services it is wired with. */
  private final case class Wiring(store: ContractStore, governance: GovernanceService,
                                  sink: ObservationSink, gov: GovernedIO)

  private var spark: SparkSession = _
  private var bare: Wiring = _
  private var decorated: Option[Wiring] = None
  // the wiring of the running iteration
  private var w: Wiring = _

  private def sourcePath = s"$lake/$source/1.0.0"
  private def targetPath = s"$lake/$target/1.0.0"

  private def wire(dir: String, tracer: Option[Tracer]): Wiring = {
    val fs = new FsContractStore(s"$dir/contracts")
    val wrap = (layer: String) => tracer.fold[ContractStore](fs)(t => new TracedStore(fs, t.spans, layer))
    val store = wrap("contracts.store")
    // governance drafts into the same store, through its own decorator
    val backend = new GovernanceBackend(s"$dir/governance", Some(wrap("governance.store")))
    val governance = tracer.fold[GovernanceService](backend)(t => new TracedGovernance(backend, t.spans))
    val sink = tracer.fold[ObservationSink](LogObservationSink)(t => new TracedSink(LogObservationSink, t.spans))
    Wiring(store, governance, sink,
      GovernedIO(store, ContractVersionLocator(spark, lake), governance = Some(governance), sink = sink))
  }

  private def governedOp(): Map[String, Any] =
    if (split) {
      val read = w.gov.read(spark, source)
      val schemaOk = sameShape(read.df, ordersRaw)
      val out = w.gov.write(transform(read.df), target, strategy = SplitStrategy())
      Map("read_metrics" -> read.validation.metrics, "metrics" -> out.validation.metrics,
        "schema_ok" -> schemaOk)
    } else {
      val out = w.gov.write(spark.read.parquet(sourcePath), target, strategy = FlagStrategy(FlagColumn))
      Map("metrics" -> out.validation.metrics)
    }

  /** Names and types of the aligned read equal the contract's StructType.
    * Nullability is not compared: parquet reads are always nullable and
    * alignment casts, it does not assert. */
  private def sameShape(df: DataFrame, c: Contract): Boolean =
    df.schema.map(f => (f.name, f.dataType)) == ApplyContract.toStructType(c).map(f => (f.name, f.dataType))

  private def plainOp(): Unit = {
    val in = spark.read.parquet(sourcePath)
    val df = if (split) transform(in) else in
    df.write.mode("overwrite").parquet(s"$work/plain")
  }

  /** Reads the op's output back: what the output checks compare with the
    * generator's planted truth. */
  private def observe(): Map[String, Any] =
    if (split) {
      val counts = spark.read.parquet(s"$targetPath/valid", s"$targetPath/reject")
        .groupBy(input_file_name().contains(s"$targetPath/valid")).count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      Map("valid_rows" -> counts.getOrElse(true, 0L), "reject_rows" -> counts.getOrElse(false, 0L))
    } else {
      val out = spark.read.parquet(targetPath)
      val keys = Expectations.fromContract(lineitem).map(_.key)
      val flag = col(FlagColumn)
      val row = out.agg(count(lit(1)), count(flag) +:
        keys.map(k => sum(when(array_contains(flag, k), 1L).otherwise(0L))): _*).head()
      Map("out_rows" -> row.getLong(0), "flagged_rows" -> row.getLong(1),
        "flagged_by_rule" -> keys.zipWithIndex.map { case (k, i) => k -> row.getLong(i + 2) }.toMap)
    }

  /** One closed-loop iteration: governed op and plain op, in alternating
    * order, then the output checks (untimed). A traced iteration attaches
    * the listeners, runs the governed op through the decorated wiring and
    * under its own job group, and ends with the op's layer numbers. */
  private def iteration(i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val rec = mutable.Map[String, Any]("i" -> i, "traced" -> tracer.isDefined)
    w = tracer.fold(bare)(_ => decorated.get)
    tracer.foreach(_.attach())
    def governed(): Unit = {
      tracer.foreach(_.spans.op = s"op-$i")
      val heldBefore = Main.storageMb(spark)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val r = Main.grouped(spark, s"op-$i")(tracer.fold(governedOp())(t => t.spans("op")(governedOp())))
        rec ++= r
      } catch { case e: Exception => rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      rec("governed_s") = secs(t0)
      rec("start_ms") = startMs
      rec("end_ms") = System.currentTimeMillis()
      rec("spark.retained_mb") = Main.storageMb(spark) - heldBefore
    }
    def plain(): Unit = {
      val t0 = System.nanoTime()
      try plainOp()
      catch { case e: Exception => rec("plain_error") = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      rec("plain_s") = secs(t0)
    }
    if (i % 2 == 0) { governed(); plain() } else { plain(); governed() }
    if (!rec.contains("error"))
      try rec ++= observe()
      catch { case e: Exception => rec("error") = s"check: ${e.getMessage}" }
    tracer.foreach { t =>
      rec ++= layers(t, i, rec("start_ms").asInstanceOf[Long], rec("end_ms").asInstanceOf[Long])
      t.detach()
    }
    rec.toMap
  }

  /** The timed closed loop. With a tracer, iterations 2-3, 6-7, ... are
    * traced: each tracing state sees both orders of governed and plain
    * op, and a run holds at least two iterations of each state. */
  private def loop(tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (System.nanoTime() < deadline || (tracer.isDefined && i < 4)) {
      out += iteration(i, tracer.filter(_ => i / 2 % 2 == 1))
      i += 1
    }
    out.toSeq
  }

  /** Set-up (session, contract store, governance directory, warm-up
    * iterations), then the timed loop. The first iterations run several
    * times slower than later ones (class loading, JIT); the warm-up keeps
    * the steepest part of that trend out of the timed loop. */
  def run(): Map[String, Any] = {
    spark = Main.session(work)
    bare = wire(s"$work/lake-services", None)
    (if (split) Seq(ordersRaw, ordersCurated) else Seq(lineitem)).foreach(bare.store.put)
    val warm = (1 to WarmupIterations).map(k => iteration(-k, None))
    val tracer = if (traced) Some(new Tracer(spark)) else None
    // the decorated wiring shares the bare one's store and governance directory
    decorated = tracer.map(t => wire(s"$work/lake-services", Some(t)))
    val timedStartMs = System.currentTimeMillis()
    Main.counted(spark) {
      val t0 = System.nanoTime()
      val (tracedOps, ops) = loop(tracer).partition(_("traced") == true)
      val record = Map("warmup_ops" -> warm, "timed_start_ms" -> timedStartMs, "loop_s" -> secs(t0),
        "ops" -> ops)
      tracer.fold(record)(t => record ++ Map("traced_ops" -> tracedOps, "spans" -> t.spanRecords))
    }
  }

  /** Per-layer numbers of traced op `i`: Spark numbers of the op itself,
    * then a replay of the op through the public layer calls in
    * `ContractIO`'s order, then differential noop-sink actions. */
  private def layers(t: Tracer, i: Int, startMs: Long, endMs: Long): Map[String, Any] = {
    t.spans.op = s"replay-$i"
    val replayT0 = System.nanoTime()
    val (requests, casts) = t.spans("replay")(if (split) replaySplit(t) else replayFlag(t))
    val replayS = secs(replayT0)
    val diff = t.spans("diff")(differential(t))
    t.jobs.drain()
    val op = t.jobs.group(s"op-$i")
    val plans = t.plans.within(startMs, endMs)
    def groupOf(step: String) = t.jobs.group(s"replay-$i/$step")
    Map[String, Any](
      "replay_s" -> replayS,
      "io.source_scans_per_op" -> plans.count(_.sources.exists(_.contains(source))),
      "io.jobs_per_op" -> op.jobs,
      "io.bytes_written_mb" -> op.bytesWritten / (1024.0 * 1024.0),
      "io.records_written" -> op.recordsWritten,
      "strategies.write_requests" -> requests,
      "align.casts" -> casts,
      "align.scan_s" -> (diff("aligned") - diff("raw")),
      "strategies.flag_s" -> (diff("flagged") - diff("aligned")),
      "quality.prescan_s" -> diff("prescan"),
      "quality.observe_cpu_s" ->
        (groupOf("diff.observed").cpuNs - groupOf("diff.aligned").cpuNs) / 1e9,
      "quality.specs" -> Expectations.fromContract(if (split) ordersCurated else lineitem).size
    ) ++ t.sparkLayer(s"op-$i", startMs, endMs, Main.Cores)
  }

  private def replayFlag(t: Tracer): (Int, Int) = {
    val contract = t.step("contracts.resolve")(GovernedIO.resolveContract(w.store, target))
    t.step("io.locate")(ContractVersionLocator(spark, lake).forWrite(target, Some(contract)))
    val df = t.step("io.load")(spark.read.parquet(sourcePath))
    val specs = t.step("quality.specs")(Expectations.fromContract(contract))
    val schema = t.step("quality.schema")(SchemaSnapshot.of(df).toMap)
    val obs = Observation("bench_replay_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val observed = t.step("quality.observe_build") {
      val exprs = Metrics.aggregateExprs(specs, df.columns.toSet)
      df.observe(obs, exprs.head, exprs.tail: _*)
    }
    val aligned = t.step("align.build")(ApplyContract.align(observed, contract))
    val strategy: ViolationStrategy = FlagStrategy(FlagColumn)
    val plan = t.step("strategies.plan")(
      strategy.plan(aligned, specs, ValidationResult(ok = true, Nil, Nil, Map.empty, schema)))
    t.step("io.write")((plan.primary ++ plan.additional).foreach(r =>
      r.df.write.mode("overwrite").parquet(s"$work/replay/${r.pathSuffix.getOrElse("")}")))
    val metrics: Map[String, Any] = t.step("quality.observe_get")(obs.get.map {
      case (k, v: Number) => k -> (v.longValue: Any)
      case (k, v) => k -> v
    })
    val v = t.step("quality.evaluate")(Evaluator.evaluate(contract, schema, metrics))
    record(t, contract, v)
    ((plan.primary ++ plan.additional).size, casts(df, contract))
  }

  private def replaySplit(t: Tracer): (Int, Int) = {
    val rc = t.step("contracts.resolve_read")(GovernedIO.resolveContract(w.store, source))
    val path = t.step("io.locate_read")(
      ContractVersionLocator(spark, lake).forRead(source, Some(rc)).path.get)
    t.step("governance.assert_readable")(w.gov.assertReadable(source, rc.version))
    val raw = t.step("io.load")(spark.read.format("parquet").load(path))
    val rspecs = t.step("quality.specs_read")(Expectations.fromContract(rc))
    val rmetrics = t.step("quality.prescan_read")(Metrics.compute(raw, rspecs))
    t.step("quality.evaluate_read")(Evaluator.evaluate(rc, SchemaSnapshot.of(raw).toMap, rmetrics))
    val aligned = t.step("align.build_read")(ApplyContract.align(raw, rc))
    val df = t.step("transform")(transform(aligned))
    val wc = t.step("contracts.resolve_write")(GovernedIO.resolveContract(w.store, target))
    t.step("io.locate_write")(ContractVersionLocator(spark, lake).forWrite(target, Some(wc)))
    val specs = t.step("quality.specs_write")(Expectations.fromContract(wc))
    val schema = SchemaSnapshot.of(df).toMap
    val metrics = t.step("quality.prescan_write")(Metrics.compute(df, specs))
    val v = t.step("quality.evaluate_write")(Evaluator.evaluate(wc, schema, metrics))
    val walign = t.step("align.build_write")(ApplyContract.align(df, wc))
    val plan = t.step("strategies.plan")(SplitStrategy().plan(walign, specs, v))
    val requests = plan.primary ++ plan.additional
    t.step("io.write")(requests.foreach(r =>
      r.df.write.mode("overwrite").parquet(s"$work/replay/${r.pathSuffix.getOrElse("")}")))
    record(t, wc, v)
    (requests.size, casts(raw, rc))
  }

  private def record(t: Tracer, contract: Contract, v: ValidationResult): Unit = {
    t.step("governance.record") {
      w.governance.record(target, contract.version, contract, v)
      w.governance.linkDatasetContract(target, contract.id, contract.version, contract.version)
    }
    t.step("obs.record")(w.sink.record(target, None, v.metrics, v))
  }

  /** Contract columns whose source type differs from the declared one, or
    * that the source lacks: the casts and typed nulls alignment adds. */
  private def casts(df: DataFrame, c: Contract): Int = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    ApplyContract.toStructType(c).count(f => !have.get(f.name).contains(f.dataType))
  }

  /** Noop-sink actions whose differences price one layer's executor work:
    * alignment (aligned minus raw), the flag projection (flagged minus
    * aligned), the observe aggregation (observed minus aligned), and a
    * standalone metrics pre-scan of the op input. */
  private def differential(t: Tracer): Map[String, Double] = {
    val contract = if (split) ordersRaw else lineitem
    def noop(name: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      t.step(s"diff.$name")(df.write.format("noop").mode("overwrite").save())
      name -> secs(t0)
    }
    def raw = spark.read.parquet(sourcePath)
    val specs = Expectations.fromContract(contract)
    val base = Seq(
      noop("raw")(raw),
      noop("aligned")(ApplyContract.align(raw, contract)))
    // flag and observe prices are taken on both workloads: pipeline_split
    // runs neither, so there they say what the other branch would cost
    val flagOnly = Seq(
      noop("flagged")(ApplyContract.align(raw, contract)
        .withColumn(FlagColumn, graft.strategies.Strategies.failedExpectationsColumn(specs))),
      noop("observed") {
        // observe cannot count distinct: unique rules stay in the pre-scan
        val exprs = Metrics.aggregateExprs(specs.filterNot(_.rule == "unique"), raw.columns.toSet)
        val obs = Observation("bench_diff_" + java.util.UUID.randomUUID().toString.replace("-", ""))
        ApplyContract.align(raw.observe(obs, exprs.head, exprs.tail: _*), contract)
      })
    val t0 = System.nanoTime()
    t.step("quality.prescan")(Metrics.compute(raw, specs))
    (base ++ flagOnly :+ ("prescan" -> secs(t0))).toMap
  }
}
