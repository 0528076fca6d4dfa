package graft.io

import graft.SparkSpec
import graft.align.ApplyContract
import graft.contracts._
import graft.quality.{Expectations, Metrics, ValidationResult}
import graft.strategies._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** The local filesystem under a scheme of its own, `prescan`. */
class PrescanFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("prescan:///")
  override def getScheme: String = "prescan"
}

/** A verdict-gated write on a file format stages every row once and
  * publishes by rename; the same write to a store [[Staging.supports]]
  * does not know runs a metrics pre-scan and one filtered write per
  * subset. Both must leave the same verdict, `WriteResult`, rows, schemas
  * and directory tree (part-file names aside). */
class StagedWriteSpec extends SparkSpec {
  import StagedWriteSpec.Outcome

  // `Staging.supports` does not list the scheme of [[PrescanFileSystem]],
  // so writes there take the pre-scan branch against local directories
  private lazy val prescanScheme = {
    spark.sparkContext.hadoopConfiguration.set("fs.prescan.impl", classOf[PrescanFileSystem].getName)
    "prescan"
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("code", StringType), StructField("v", DoubleType)))

  private def frame(rows: Row*): DataFrame = partitioned(3, rows)
  private def partitioned(partitions: Int, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  private val cleanRows = Seq(Row(1L, "a", 1.0), Row(2L, "b", 2.0), Row(3L, "a", 3.0), Row(4L, "b", 4.0))
  private val clean = frame(cleanRows: _*)
  // a NULL id (not_null), an enum miss, a non-positive v, a duplicated id
  // and code; `code` NULL and `v` NULL make the composite predicate NULL
  private val violatingRows = cleanRows ++ Seq(Row(null, "a", 5.0), Row(6L, "z", 6.0), Row(7L, "b", -7.0),
    Row(1L, "b", 8.0), Row(9L, null, 9.0), Row(10L, "a", null))
  private val violating = frame(violatingRows: _*)

  private def contract(uniques: Seq[String] = Seq("id"), vType: String = "double",
                       query: Boolean = false): Contract =
    Contract(id = "t.staged", version = "1.0.0", schema = Seq(SchemaObjectDef("t", Seq(
      FieldDef("id", Some("bigint"), required = true, unique = uniques.contains("id")),
      FieldDef("code", Some("string"), unique = uniques.contains("code"),
        quality = Seq(QualityRule(rule = Some("enum"), values = Seq("a", "b")))),
      FieldDef("v", Some(vType), quality = Seq(QualityRule(mustBeGreaterThan = Some(BigDecimal(0)))))),
      quality = if (!query) Nil else Seq(QualityRule(rule = Some("query"), name = Some("big_v"),
        query = Some(s"SELECT count(*) FROM ${Metrics.QueryViewAlias} WHERE v > 3"))))))

  /** Every directory under `dir` (relative), with its file names other
    * than part files and checksums, and whether it holds part files. */
  private def tree(dir: File): Set[(String, Seq[String], Boolean)] = {
    def walk(d: File, rel: String): Seq[(String, Seq[String], Boolean)] = {
      val (dirs, files) = d.listFiles().toSeq.partition(_.isDirectory)
      val names = files.map(_.getName).filterNot(n => n.startsWith("part-") || n.startsWith("."))
      (rel, names.sorted, files.exists(_.getName.startsWith("part-"))) +:
        dirs.flatMap(c => walk(c, s"$rel/${c.getName}"))
    }
    if (dir.exists()) walk(dir, "").toSet else Set.empty
  }

  /** Schema and sorted rows of every directory holding part files, read
    * from its own files only. */
  private def data(dir: File): Map[String, (StructType, Seq[String])] =
    tree(dir).collect { case (rel, _, true) =>
      val parts = new File(dir, rel).listFiles().map(_.getPath).filter(p => new File(p).getName.startsWith("part-"))
      val df = spark.read.parquet(parts.toSeq: _*)
      rel -> (df.schema, df.collect().map(_.toString).toSeq.sorted)
    }.toMap

  /** Runs `writes` (frame, mode) in order against a fresh target under
    * each branch and returns, per branch, every outcome then the final
    * tree and data. */
  private def both(strategy: ViolationStrategy, c: Contract, writes: (DataFrame, String)*) = {
    def branch(scheme: String) = {
      val dir = new File(tmpDir("graft_staged"), "t")
      val root = s"$scheme://${dir.getPath}"
      val outcomes = writes.map { case (df, mode) =>
        try {
          val r = ContractIO.write(df, root, c, mode = mode, strategy = strategy)
          Outcome(Some(r.validation), r.writtenPaths.map(_.replace(root, "<root>")), r.warnings, None)
        } catch {
          case e: Exception =>
            val msg = e.getMessage.replaceAll(s"[a-z]+:/*${dir.getPath}", "<root>")
            Outcome(None, Nil, Nil, Some(s"${e.getClass.getName}: $msg"))
        }
      }
      (outcomes, tree(dir), data(dir))
    }
    val staged = branch("file")
    val prescanned = branch(prescanScheme)
    assert(staged._1 == prescanned._1)
    assert(staged._2 == prescanned._2)
    assert(staged._3 == prescanned._3)
    staged
  }

  private def rowsOf(d: Map[String, (StructType, Seq[String])], rel: String): Int = d(rel)._2.size

  test("local parquet stages; an unknown scheme or format does not") {
    assert(Staging.supports(spark, "/tmp/x", "parquet") && Staging.supports(spark, "file:/tmp/x", "CSV"))
    assert(!Staging.supports(spark, s"$prescanScheme:///tmp/x", "parquet"))
    assert(!Staging.supports(spark, "/tmp/x", "noop"))
  }

  test("Split: clean and violating writes match the pre-scan branch") {
    val (cleanOut, cleanTree, cleanData) = both(SplitStrategy(), contract(), clean -> "overwrite")
    assert(cleanOut.head.written == Seq("<root>") && cleanOut.head.validation.get.ok)
    assert(cleanTree.map(_._1) == Set("") && rowsOf(cleanData, "") == 4)
    val (out, t, d) = both(SplitStrategy(), contract(), violating -> "overwrite")
    assert(out.head.written == Seq("<root>/valid", "<root>/reject"))
    assert(out.head.validation.get.metrics("violations.unique_id") == 1L)
    assert(t.map(_._1) == Set("", "/valid", "/reject"))
    // the two NULL-predicate rows land in neither subset
    assert(rowsOf(d, "/valid") == 5 && rowsOf(d, "/reject") == 3)
  }

  test("Split: includeValid, includeReject and writePrimaryOnViolation") {
    val (_, noValid, _) = both(SplitStrategy(includeValid = false), contract(), violating -> "overwrite")
    assert(noValid.map(_._1) == Set("", "/reject"))
    val (_, noReject, _) = both(SplitStrategy(includeReject = false), contract(), violating -> "overwrite")
    assert(noReject.map(_._1) == Set("", "/valid"))
    val (none, noneTree, _) = both(SplitStrategy(includeValid = false, includeReject = false), contract(),
      violating -> "overwrite")
    assert(none.head.written.isEmpty && noneTree.isEmpty)
    val (_, _, d) = both(SplitStrategy(writePrimaryOnViolation = true, validSuffix = "ok", rejectSuffix = "bad"),
      contract(), violating -> "overwrite")
    assert(rowsOf(d, "") == 10 && rowsOf(d, "/ok") == 5 && rowsOf(d, "/bad") == 3)
  }

  test("Split: schema errors alone publish an empty, readable reject") {
    val (out, _, d) = both(SplitStrategy(), contract(vType = "int"), clean -> "overwrite")
    assert(out.head.validation.get.errors.exists(_.contains("type mismatch for v")))
    assert(rowsOf(d, "/valid") == 4 && rowsOf(d, "/reject") == 0)
    assert(d("/reject")._1.fieldNames.toSeq == Seq("id", "code", "v"))
  }

  test("Split: two unique keys and a query rule, as the pre-scan") {
    val (out, _, _) = both(SplitStrategy(), contract(uniques = Seq("id", "code"), query = true),
      violating -> "overwrite")
    val m = out.head.validation.get.metrics
    assert(m("violations.unique_id") == 1L && m("violations.unique_code") == 6L && m("big_v") == 5L)
    assert(m("row_count") == 10L)
  }

  test("Split: an empty input publishes an empty dataset") {
    val (out, t, d) = both(SplitStrategy(), contract(), frame() -> "overwrite")
    assert(out.head.validation.get.metrics("row_count") == 0L)
    assert(t.map(_._1) == Set("") && rowsOf(d, "") == 0)
  }

  test("Split: clean, violating, clean under each mode; two appends") {
    for (mode <- Seq("error", "overwrite", "append", "ignore")) {
      val (out, t, _) = both(SplitStrategy(), contract(), clean -> mode, violating -> mode, clean -> mode)
      if (mode == "error") assert(out.last.failure.exists(_.contains("PATH_ALREADY_EXISTS")))
      if (mode == "overwrite") assert(t.map(_._1) == Set(""))
    }
    val (_, _, d) = both(SplitStrategy(), contract(), violating -> "append", violating -> "append")
    assert(rowsOf(d, "/valid") == 10 && rowsOf(d, "/reject") == 6)
  }

  test("Strict: a clean write publishes, a violated one leaves nothing") {
    val (cleanOut, cleanTree, _) = both(StrictStrategy(), contract(), clean -> "error")
    assert(cleanOut.head.written == Seq("<root>") && cleanTree.map(_._1) == Set(""))
    val (out, t, _) = both(StrictStrategy(SplitStrategy()), contract(), violating -> "error")
    assert(out.head.failure.exists(_.contains("IllegalStateException")) && t.isEmpty)
    // an existing target keeps its data and gains no staging directory
    val (again, kept, _) = both(StrictStrategy(), contract(), clean -> "overwrite", violating -> "overwrite")
    assert(again.last.failure.nonEmpty && kept.map(_._1) == Set(""))
  }

  test("Strict over Flag stages the flagged frame; violated, it leaves nothing") {
    val (out, _, d) = both(StrictStrategy(FlagStrategy()), contract(), clean -> "overwrite")
    assert(out.head.validation.get.ok && d("")._1.fieldNames.contains("_corrupted_data"))
    val (failed, t, _) = both(StrictStrategy(FlagStrategy()), contract(), violating -> "error")
    assert(failed.head.failure.exists(_.contains("IllegalStateException")) && t.isEmpty)
    val (again, kept, _) = both(StrictStrategy(FlagStrategy()), contract(),
      clean -> "overwrite", violating -> "overwrite")
    assert(again.last.failure.nonEmpty && kept.map(_._1) == Set(""))
  }

  test("NoOp and Flag observe the write: the pre-scan's metrics, the planned rows") {
    val c = contract(uniques = Seq("id", "code"), query = true)
    val specs = Expectations.fromContract(c)
    val aligned = ApplyContract.align(violating, c)
    val flagged = aligned.withColumn("_corrupted_data", Strategies.failedExpectationsColumn(specs))
    for ((strategy, planned) <- Seq(NoOpStrategy -> aligned, FlagStrategy() -> flagged)) {
      val dir = new File(tmpDir("graft_observed"), "t")
      val r = ContractIO.write(violating, dir.getPath, c, strategy = strategy)
      assert(r.validation.metrics == Metrics.computeWithQueries(violating, specs, spark))
      assert(r.writtenPaths == Seq(dir.getPath))
      val (written, rows) = data(dir)("")
      assert(written.map(f => f.name -> f.dataType) == planned.schema.map(f => f.name -> f.dataType))
      assert(rows == planned.collect().map(_.toString).toSeq.sorted)
    }
  }

  test("NoOp and Flag under ignore onto an existing target measure the input and write nothing") {
    val c = contract(uniques = Seq("id", "code"), query = true)
    val specs = Expectations.fromContract(c)
    for (strategy <- Seq(NoOpStrategy, FlagStrategy())) {
      val dir = new File(tmpDir("graft_ignore"), "t")
      ContractIO.write(violating, dir.getPath, c, strategy = strategy)
      val before = data(dir)
      val r = ContractIO.write(violating, dir.getPath, c, mode = "ignore", strategy = strategy)
      assert(r.validation.metrics == Metrics.computeWithQueries(violating, specs, spark), strategy)
      assert(r.validation.metrics("violations.unique_id") == 1L && r.writtenPaths == Seq(dir.getPath))
      assert(data(dir) == before)
    }
  }

  test("staged and observed writes give one answer for any partitioning") {
    val c = contract(uniques = Seq("id", "code"))
    val conf = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(conf)
    def run(strategy: ViolationStrategy, shufflePartitions: Int, inputPartitions: Int) = {
      spark.conf.set(conf, shufflePartitions.toString)
      val dir = new File(tmpDir("graft_determinism"), "t")
      val r = ContractIO.write(partitioned(inputPartitions, violatingRows), dir.getPath, c, strategy = strategy)
      (r.validation.metrics, data(dir))
    }
    try {
      for (strategy <- Seq(SplitStrategy(), NoOpStrategy)) {
        val outcomes = for (shuffle <- Seq(1, 7); input <- Seq(1, 5)) yield run(strategy, shuffle, input)
        assert(outcomes.head._1("violations.unique_id") == 1L)
        outcomes.tail.foreach(o => assert(o == outcomes.head))
      }
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a write failing mid-job leaves no published or staged output") {
    val boom = udf((v: Double) => if (v > 7.5) throw new IllegalStateException("boom") else v)
    val failing = violating.withColumn("v", boom(col("v")))
    val dir = new File(tmpDir("graft_staged_fail"), "t")
    intercept[Exception](ContractIO.write(failing, dir.getPath, contract(), mode = "overwrite",
      strategy = SplitStrategy()))
    assert(!dir.exists())
    val existing = new File(tmpDir("graft_staged_fail"), "t")
    ContractIO.write(clean, existing.getPath, contract(), strategy = SplitStrategy())
    val before = tree(existing)
    intercept[Exception](ContractIO.write(failing, existing.getPath, contract(), mode = "overwrite",
      strategy = SplitStrategy()))
    assert(tree(existing) == before)
  }
}

object StagedWriteSpec {
  /** What one governed write left: its result or failure, with the
    * target's root spelled `<root>`. */
  private final case class Outcome(validation: Option[ValidationResult], written: Seq[String],
                                   warnings: Seq[String], failure: Option[String])
}
