package graft.quality

import graft.{SparkSpec, T}
import graft.contracts._
import graft.io.{ContractIO, Sources}
import graft.strategies.{FlagStrategy, NoOpStrategy, SplitStrategy, StrictStrategy}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Spark jobs per metric pre-scan, per governed read and write, and per
  * parquet load, counted by [[SparkSpec.jobsOf]]. */
class MetricsJobsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("code", StringType), StructField("v", DoubleType)))

  /** A parquet source with a duplicated id, a NULL id and a negative v. */
  private lazy val sourcePath = {
    val path = tmpDir("graft_jobs_src") + "/src"
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a", 1.0), Row(2L, "b", -1.0), Row(2L, "c", 2.0), Row(null, "a", 3.0), Row(4L, "a", 4.0)), 2), schema)
      .write.parquet(path)
    path
  }
  private lazy val source = spark.read.parquet(sourcePath)

  private def contract(uniques: String*): Contract = Contract(id = "t.jobs", version = "1.0.0",
    schema = Seq(SchemaObjectDef("t", Seq(
      FieldDef("id", Some("bigint"), required = true, unique = uniques.contains("id")),
      FieldDef("code", Some("string"), unique = uniques.contains("code"),
        quality = Seq(QualityRule(rule = Some("enum"), values = Seq("a", "b")))),
      FieldDef("v", Some("double"), quality = Seq(QualityRule(mustBeGreaterThan = Some(BigDecimal(0)))))))))

  private def specs(uniques: String*) = Expectations.fromContract(contract(uniques: _*))

  test("a metrics pre-scan is one job, two with unique rules") {
    val df = source
    assert(jobsOf(Metrics.compute(df, specs()))._2 == 1)
    assert(jobsOf(Metrics.computeWithObservations(df, specs()))._2 == 1)
    assert(jobsOf(Metrics.compute(df, specs("id")))._2 == 2)
    assert(jobsOf(Metrics.computeWithObservations(df, specs("id")))._2 == 2)
    val (two, jobs) = jobsOf(Metrics.compute(df, specs("id", "code")))
    assert(jobs == 2)
    assert(two("violations.unique_id") == 1L && two("violations.unique_code") == 2L)
  }

  test("a violating Split write is one job, two with unique") {
    val (res, jobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_split"), contract("id"),
      mode = "overwrite", strategy = SplitStrategy()))
    assert(!res.validation.ok && res.writtenPaths.size == 2)
    assert(res.validation.metrics("violations.unique_id") == 1L)
    assert(jobs == 2)
    val (plain, plainJobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_split"), contract(),
      mode = "overwrite", strategy = SplitStrategy()))
    assert(!plain.validation.ok && plain.writtenPaths.size == 2)
    assert(plainJobs == 1)
  }

  /** The source's rows that pass every rule, with distinct ids. */
  private def cleanSource = source.filter("id IS NOT NULL AND v > 0 AND code IN ('a', 'b')")

  test("a clean Split write with a unique rule is two jobs") {
    val (res, jobs) = jobsOf(ContractIO.write(cleanSource, tmpDir("graft_jobs_clean"), contract("id"),
      mode = "overwrite", strategy = SplitStrategy()))
    assert(res.validation.ok && res.writtenPaths.size == 1)
    assert(jobs == 2)
  }

  test("a Strict write is one job, clean or violated") {
    val (res, jobs) = jobsOf(ContractIO.write(cleanSource, tmpDir("graft_jobs_strict"), contract(),
      mode = "overwrite", strategy = StrictStrategy()))
    assert(res.validation.ok && jobs == 1)
    val (failed, failedJobs) = jobsOf(intercept[IllegalStateException](ContractIO.write(source,
      tmpDir("graft_jobs_strict"), contract(), mode = "overwrite", strategy = StrictStrategy())))
    assert(failed.getMessage.contains("violations") && failedJobs == 1)
  }

  test("a NoOp write observes the write itself: one job") {
    val (res, jobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_noop"), contract(),
      mode = "overwrite", strategy = NoOpStrategy))
    assert(res.validation.metrics("violations.gt_v") == 1L)
    assert(jobs == 1)
  }

  /** `c` with an object-level `query` rule counting the rows with v > 3. */
  private def withQuery(c: Contract): Contract = c.copy(schema = c.schema.map(_.copy(quality = Seq(
    QualityRule(rule = Some("query"), name = Some("big_v"),
      query = Some(s"SELECT count(*) FROM ${Metrics.QueryViewAlias} WHERE v > 3"))))))

  test("a NoOp write with a unique rule observes it on the write: two jobs") {
    val (res, jobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_noop_unique"), contract("id"),
      mode = "overwrite", strategy = NoOpStrategy))
    assert(res.validation.metrics("violations.unique_id") == 1L)
    assert(jobs == 2)
  }

  test("a Flag write with a unique rule observes it on the write: two jobs") {
    val (res, jobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_flag_unique"), contract("id"),
      mode = "overwrite", strategy = FlagStrategy()))
    assert(res.validation.metrics("violations.unique_id") == 1L)
    assert(jobs == 2)
  }

  test("a NoOp write with a query rule is its query's jobs plus the write") {
    val (res, jobs) = jobsOf(ContractIO.write(source, tmpDir("graft_jobs_noop_query"), withQuery(contract()),
      mode = "overwrite", strategy = NoOpStrategy))
    assert(res.validation.metrics("big_v") == 1L && res.validation.metrics("violations.gt_v") == 1L)
    assert(jobs == 3)
  }

  test("a clean Strict over Flag write is one job") {
    val (res, jobs) = jobsOf(ContractIO.write(cleanSource, tmpDir("graft_jobs_strict_flag"), contract(),
      mode = "overwrite", strategy = StrictStrategy(FlagStrategy())))
    assert(res.validation.ok && res.writtenPaths.size == 1)
    assert(jobs == 1)
  }

  test("a governed parquet read runs only its metric pre-scan") {
    val (plain, jobs) = jobsOf(ContractIO.read(spark, sourcePath, contract()))
    assert(plain.validation.metrics("violations.gt_v") == 1L)
    assert(jobs == 1)
    val (unique, uniqueJobs) = jobsOf(ContractIO.read(spark, sourcePath, contract("id")))
    assert(unique.validation.metrics("violations.unique_id") == 1L)
    assert(uniqueJobs == 2)
  }

  test("opening a parquet dataset runs no Spark job") {
    val (df, jobs) = jobsOf(Sources.parquet(spark, sourcePath))
    assert(df.columns.toSeq == Seq("id", "code", "v") && jobs == 0)
    val dir = tmpDir("graft_jobs_tables")
    source.write.parquet(s"$dir/orders.parquet")
    val (table, tableJobs) = jobsOf(T.load(spark, dir, "orders"))
    assert(table.schema == source.schema && tableJobs == 0)
  }
}
