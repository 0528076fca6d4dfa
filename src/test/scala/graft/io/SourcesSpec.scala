package graft.io

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame, DataFrameReader}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** [[Sources.parquet]] reads the schema footer on the driver; everything a
  * caller can see must still equal Spark's own parquet read: the schema,
  * the canonicalized analyzed plan, the rows and the errors. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", " ", "]")
      case v => String.valueOf(v)
    }.mkString(",")).toSeq.sorted

  /** `load` through [[Sources]] equals it through Spark's parquet source,
    * and opening the frame ran `schemaJobs` Spark jobs. */
  private def assertSame(load: DataFrameReader => DataFrame, schemaJobs: Int = 0): DataFrame = {
    val (ours, jobs) = jobsOf(load(Sources.reader(spark)))
    val spark0 = load(spark.read.format("parquet"))
    assert(ours.schema == spark0.schema)
    val (plan, plan0) = (ours.queryExecution.analyzed.canonicalized,
      spark0.queryExecution.analyzed.canonicalized)
    // hashed plan lookups (Caching.ensureCachedAll's distinctBy) need both
    assert(plan == plan0 && plan.hashCode == plan0.hashCode)
    assert(rows(ours) == rows(spark0))
    assert(jobs == schemaJobs, "without mergeSchema the footer must be read on the driver")
    ours
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The one data file Spark wrote under `dir`. */
  private def partFile(dir: String): java.nio.file.Path =
    Files.list(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()

  /** A parquet file of `df` at `target` (any name), written by Spark. */
  private def writeFileAs(df: DataFrame, target: String): Unit = {
    val staging = tmpDir("graft_sources_stage") + "/d"
    df.coalesce(1).write.parquet(staging)
    Files.copy(partFile(staging), Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a multi-file directory reads like Spark's, with no Spark job") {
    val dir = tmpDir("graft_sources_multi") + "/t"
    (0 until 40).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "s", "v")
      .repartition(4).write.parquet(dir)
    val df = assertSame(_.load(dir))
    assert(df.columns.toSeq == Seq("id", "s", "v") && df.count() == 40)
    // a plan over the driver read still matches a cached Spark read
    val cached = spark.read.parquet(dir).cache()
    try assert(Sources.parquet(spark, dir).queryExecution.withCachedData.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    finally cached.unpersist(blocking = true)
  }

  test("pyarrow-written tables") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists(), s"$sfDir not generated")
    for (t <- Seq("documents", "lineitem", "events")) assertSame(_.load(s"$sfDir/$t.parquet"))
  }

  test("a k=v partitioned directory keeps its partition columns") {
    val dir = tmpDir("graft_sources_part") + "/t"
    (0 until 30).map(i => (i.toLong, i % 3, s"r$i")).toDF("id", "k", "s")
      .write.partitionBy("k").parquet(dir)
    val df = assertSame(_.load(dir))
    assert(df.columns.toSeq == Seq("id", "s", "k"))
    assertSame(_.load(s"$dir/k=1"))
    assertSame(_.option("basePath", dir).load(s"$dir/k=1", s"$dir/k=2"))
  }

  test("summary files win: _common_metadata, else _metadata; _SUCCESS is ignored") {
    val dir = tmpDir("graft_sources_summary") + "/t"
    (0 until 10).map(i => (i.toLong, s"s$i")).toDF("id", "s").write.parquet(dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    // summary footers with schemas of their own, so the pick shows
    writeFileAs(Seq((1L, "a", 1.0)).toDF("id", "s", "from_metadata"), s"$dir/_metadata")
    assert(assertSame(_.load(dir)).columns.last == "from_metadata")
    writeFileAs(Seq((1L, "a", 1)).toDF("id", "s", "from_common"), s"$dir/_common_metadata")
    assert(assertSame(_.load(dir)).columns.last == "from_common")
  }

  test("files with different columns: the first file's schema, or the merged one") {
    val dir = tmpDir("graft_sources_drift")
    writeFileAs(Seq((1L, "a")).toDF("id", "first"), s"$dir/a.parquet")
    writeFileAs(Seq((2L, 2.0)).toDF("id", "last"), s"$dir/b.parquet")
    assert(assertSame(_.load(dir)).columns.toSeq == Seq("id", "first"))
    // merging every footer is still Spark's one job
    val merged = assertSame(_.option("mergeSchema", "true").load(dir), schemaJobs = 1)
    assert(merged.columns.toSeq == Seq("id", "first", "last"))
  }

  test("footers without a Spark schema: binaryAsString, and nanos timestamps") {
    val dir = tmpDir("graft_sources_plain")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary b; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new HPath(s"$dir/plain.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(groups.newGroup().append("id", i.toLong).append("b", Binary.fromString(s"v$i"))
        .append("ts", i * 1000000001L))
    } finally writer.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (asString <- Seq("false", "true")) withConf("spark.sql.parquet.binaryAsString", asString) {
      val df = assertSame(_.load(dir))
      assert(df.schema("b").dataType.typeName == (if (asString == "true") "string" else "binary"))
      assert(df.schema("ts").dataType.typeName == "long")
    }
    // without nanosAsLong neither read accepts the nanos column
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val errors = Seq(spark.read.format("parquet"), Sources.reader(spark))
        .map(r => intercept[AnalysisException](r.load(dir)).getCondition)
      assert(errors.distinct.size == 1, errors)
    }
  }

  test("error parity: an empty directory cannot infer a schema") {
    val dir = tmpDir("graft_sources_empty")
    for (read <- Seq[DataFrameReader](spark.read.format("parquet"), Sources.reader(spark))) {
      val e = intercept[AnalysisException](read.load(dir))
      assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA")
    }
  }

  test("error parity: a corrupt footer fails, or is skipped with ignoreCorruptFiles") {
    val good = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val corruptFirst = tmpDir("graft_sources_corrupt1")
    Files.write(Paths.get(s"$corruptFirst/a.parquet"), "not a parquet file".getBytes)
    writeFileAs(good, s"$corruptFirst/b.parquet")
    def message(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // off: both name the footer they could not read
    val errors = Seq(spark.read.format("parquet"), Sources.reader(spark))
      .map(r => intercept[SparkException](r.load(corruptFirst)))
    errors.foreach { e =>
      assert(message(e).contains("CANNOT_READ_FILE_FOOTER") && message(e).contains("a.parquet"))
    }
    // on: the corrupt first file is skipped, which leaves no schema
    for (read <- Seq(spark.read.format("parquet"), Sources.reader(spark))) {
      val e = intercept[AnalysisException](read.option("ignoreCorruptFiles", "true").load(corruptFirst))
      assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA")
    }
    // on, corrupt file last: the schema and rows come from the good one
    val corruptLast = tmpDir("graft_sources_corrupt2")
    writeFileAs(good, s"$corruptLast/a.parquet")
    Files.write(Paths.get(s"$corruptLast/b.parquet"), "not a parquet file".getBytes)
    val df = assertSame(_.option("ignoreCorruptFiles", "true").load(corruptLast))
    assert(df.count() == 2)
  }
}
