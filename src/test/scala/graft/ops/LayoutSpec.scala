package graft.ops

import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave on the JVM. */
  private def morton(qs: Seq[Long], bits: Int): Long = {
    val n = qs.size
    var z = 0L
    for (i <- 0 until bits; j <- 0 until n)
      z |= ((qs(j) >> i) & 1L) << (i * n + (n - 1 - j))
    z
  }

  test("z-values match a reference Morton interleave") {
    val df = (0 until 1000)
      .map(i => (i.toLong, (i * 48271L) % 997, (i * 16807L) % 997))
      .toDF("id", "a", "b")
    val got = Layout.withZValue(df, Seq("a", "b"), bits = 8)
      .select("id", "a", "b", "zval").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // quantization reference: ((v - min) * 2^bits) / (range+1), exact
    val aMin = 0L; val aMax = 996L; val bMin = 0L; val bMax = 996L
    got.foreach { case (_, (a, b, z)) =>
      val qa = (BigInt(256) * BigInt(a - aMin) / BigInt(aMax - aMin + 1)).toLong
      val qb = (BigInt(256) * BigInt(b - bMin) / BigInt(bMax - bMin + 1)).toLong
      assert(z === morton(Seq(qa, qb), 8))
    }
  }

  test("quantization is monotone and full-range") {
    val df = (0L to 255L).map(v => (v, v)).toDF("a", "b")
    val zs = Layout.withZValue(df, Seq("a", "b"), bits = 8)
      .orderBy("a").select("zval").collect().map(_.getLong(0))
    // equal coordinates on the diagonal: z strictly increases
    assert(zs.toSeq === zs.sorted.toSeq)
    assert(zs.head === 0L)
    // max maps to all bits set: (2^16 - 1) for two 8-bit columns
    assert(zs.last === (1L << 16) - 1)
  }

  test("three-column interleave stays within budget and is exact") {
    val rows = Seq((7L, 0L, 5L), (0L, 7L, 2L), (3L, 3L, 4L))
    val df = rows.toDF("a", "b", "c")
    val got = Layout.withZValue(df, Seq("a", "b", "c"), bits = 3)
      .select("a", "b", "c", "zval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // quantization reference against each column's OBSERVED min/max
    def quant(v: Long, lo: Long, hi: Long): Long =
      (BigInt(8) * BigInt(v - lo) / BigInt(hi - lo + 1)).toLong
    got.foreach { case ((a, b, c), z) =>
      assert(z === morton(Seq(quant(a, 0, 7), quant(b, 0, 7), quant(c, 2, 5)), 3))
    }
  }

  test("guards: fewer than two columns, bit overflow, non-integral columns") {
    val df = Seq((1L, 2L, 0.5)).toDF("a", "b", "f")
    intercept[IllegalArgumentException](Layout.withZValue(df, Seq("a")))
    intercept[IllegalArgumentException](Layout.withZValue(df, Seq("a", "b"), bits = 32))
    intercept[IllegalArgumentException](Layout.withZValue(df, Seq("a", "f")))
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = finalPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }
    assert(scans.nonEmpty, "no parquet scan in the plan")
    scans.sum
  }

  test("z-ordered layout skips row groups a linear sort cannot") {
    val n = 60000
    val df = (0 until n)
      .map(i => (i.toLong, (i * 48271L) % 10007, (i * 16807L) % 10007))
      .toDF("id", "a", "b")
    val zDir = tmpDir("layout_z")
    val linDir = tmpDir("layout_lin")
    Layout.writeZordered(df, zDir, Seq("a", "b"), numFiles = 16)
    // the linear strawman: same file count, clustered by id only
    df.repartitionByRange(16, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(linDir)
    val box = (d: DataFrame) =>
      d.filter(col("a") < 1000 && col("b") < 1000)
    val zRows = scanRows(box(spark.read.parquet(zDir)))
    val linRows = scanRows(box(spark.read.parquet(linDir)))
    val kept = box(spark.read.parquet(zDir)).count()
    assert(kept === box(spark.read.parquet(linDir)).count())
    // selectivity ~1%: the linear layout's files all span the full (a, b)
    // domain so its scan reads ~everything; the z-ordered files carry
    // tight min/max on BOTH columns and the scan skips most of them
    assert(linRows > (n * 8) / 10, s"strawman unexpectedly pruned: $linRows")
    assert(zRows < linRows / 2,
      s"z-order skipped too little: z=$zRows linear=$linRows (kept=$kept)")
  }

  test("stats manifest + pruned read: skips files, never changes results") {
    val n = 60000
    val df = (0 until n)
      .map(i => (i.toLong, (i * 48271L) % 10007, (i * 16807L) % 10007))
      .toDF("id", "a", "b")
    val dir = tmpDir("layout_manifest")
    Layout.writeZordered(df, dir, Seq("a", "b"), numFiles = 16)
    Layout.writeManifest(spark, dir, Seq("a", "b"))
    val manifest = spark.read.parquet(Layout.manifestPath(dir))
    // one manifest row per data file, masses conserved
    assert(manifest.count() === 16)
    assert(manifest.agg(sum(col("rows"))).head.getLong(0) === n.toLong)
    // the manifest dir is underscore-hidden: data reads don't see it
    assert(spark.read.parquet(dir).count() === n.toLong)
    val bounds = Seq(("a", 0L, 999L), ("b", 0L, 999L))
    val pruned = Layout.prunedRead(spark, dir, bounds)
      .filter(col("a") < 1000 && col("b") < 1000)
    val full = spark.read.parquet(dir)
      .filter(col("a") < 1000 && col("b") < 1000)
    // correctness: identical result set through the pruned scan
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ===
      full.select("id").as[Long].collect().sorted.toSeq)
    // effect: the z-ordered layout concentrates the 1% box in a strict
    // minority of files, and the manifest proves the skipping happened
    // BEFORE the scan (file count, not just row groups)
    val selected = pruned.select(col("_metadata.file_path")).distinct().count()
    assert(selected < 8, s"manifest pruning selected $selected of 16 files")
    // empty intersection: schema-preserving empty frame
    val none = Layout.prunedRead(spark, dir, Seq(("a", 100000L, 200000L)))
    assert(none.columns.toSeq === Seq("id", "a", "b"))
    assert(none.count() === 0L)
  }

  test("updateManifest grows incrementally and equals a full rebuild") {
    val df1 = (0 until 4000)
      .map(i => (i.toLong, (i * 7L) % 997, (i * 13L) % 997)).toDF("id", "a", "b")
    val dir = tmpDir("layout_grow")
    Layout.writeZordered(df1, dir, Seq("a", "b"), numFiles = 8)
    Layout.writeManifest(spark, dir, Seq("a", "b"))
    // append a second wave of files (ids and values disjoint-ish)
    val df2 = (4000 until 5000)
      .map(i => (i.toLong, 2000L + i % 50, 3000L + i % 50)).toDF("id", "a", "b")
    df2.repartition(4).write.mode("append").parquet(dir)
    val scanned = Layout.updateManifest(spark, dir, Seq("a", "b"))
    assert(scanned === 4L, s"must scan only the appended files, got $scanned")
    val updated = spark.read.parquet(Layout.manifestPath(dir))
    assert(updated.count() === 12)
    assert(updated.agg(sum(col("rows"))).head.getLong(0) === 5000L)
    // the grown manifest equals a from-scratch rebuild (modulo row order)
    def canon(d: DataFrame) = d.orderBy("file").collect().toSeq
    assert(canon(updated) === canon(Layout.statsManifest(spark, dir, Seq("a", "b"))))
    // a second refresh with nothing new is a no-op
    assert(Layout.updateManifest(spark, dir, Seq("a", "b")) === 0L)
    // pruning through the grown manifest still sees both waves
    val hit = Layout.prunedRead(spark, dir, Seq(("a", 2000L, 3000L)))
    assert(hit.select(col("_metadata.file_path")).distinct().count() <= 4)
    assert(hit.filter(col("a") >= 2000L).count() === 1000L)
  }

  test("compactionPlan: FFD groups small files toward the target, leaves big ones alone") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    // many tiny files: one row per file via repartition on a distinct key
    (0 until 12).map(i => (i.toLong, s"payload_$i" * 50)).toDF("id", "s")
      .repartition(12, col("id")).write.mode("overwrite").parquet(dir)
    val sizes = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.length())
    val maxSz = sizes.max
    // target = 3 typical files => groups of ~3; nothing reaches the
    // big-file bar so everything is plannable
    val plan = Layout.compactionPlan(spark, dir, targetBytes = maxSz * 3)
    assert(plan.nonEmpty)
    assert(plan.forall(_.size > 1), "singleton groups must be dropped")
    assert(plan.forall(_.map(_._2).sum <= maxSz * 3), "bins must respect the target")
    val planned = plan.flatten.map(_._1).toSet
    assert(planned.size == plan.flatten.size, "a file appears in exactly one group")

    // execute: one distributed rewrite, rows preserved, far fewer files
    val outDir = java.nio.file.Files.createTempDirectory("compact_out").toString
    val (in, out) = Layout.compactSmallFiles(spark, plan, outDir, maxSz * 3,
      sortCols = Seq("id"))
    assert(in == planned.size && out < in)
    val rows = spark.read.parquet(outDir)
    assert(rows.count() == spark.read.parquet(planned.toSeq: _*).count())

    // a big-file bar below every file size plans nothing
    assert(Layout.compactionPlan(spark, dir, targetBytes = 10,
      bigFileFraction = 0.01).isEmpty)
  }

  test("compactionPlan: hive-partitioned tables plan recursively, never across partitions") {
    val dir = java.nio.file.Files.createTempDirectory("compact_hive").toString
    // 2 partitions x 6 tiny files each, under k=v subdirectories
    (0 until 12).map(i => (i.toLong, i % 2, s"payload_$i" * 50))
      .toDF("id", "part", "s")
      .repartition(12, col("id")).write.mode("overwrite")
      .partitionBy("part").parquet(dir)
    val sizes = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.length())
    assert(sizes.length >= 6, s"fixture: expected >=6 leaf files, got ${sizes.length}")
    val plan = Layout.compactionPlan(spark, dir, targetBytes = sizes.max * 6)
    assert(plan.nonEmpty, "a flat listing would have planned nothing here")
    // no group mixes partition directories
    def parent(f: String) = f.substring(0, f.lastIndexOf('/'))
    assert(plan.forall(g => g.map(x => parent(x._1)).distinct.size == 1),
      s"groups must stay inside one partition: $plan")
    // both partitions are covered
    assert(plan.flatMap(g => g.map(x => parent(x._1))).distinct.size == 2)
    // hidden directories (manifest/_temporary litter) are skipped whole
    val hiddenDir = new java.io.File(dir, "_manifest"); hiddenDir.mkdir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(hiddenDir.toString, "junk.parquet"),
      Array.fill[Byte](8)(1))
    assert(Layout.compactionPlan(spark, dir, targetBytes = sizes.max * 6)
      .flatten.forall(!_._1.contains("_manifest")))
  }

  test("compactSmallFiles keeps the hive partition layout (and refuses silent flattening)") {
    val dir = java.nio.file.Files.createTempDirectory("compact_hive2").toString
    (0 until 12).map(i => (i.toLong, i % 2, s"payload_$i" * 50))
      .toDF("id", "part", "s")
      .repartition(12, col("id")).write.mode("overwrite")
      .partitionBy("part").parquet(dir)
    val sizes = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.length())
    val plan = Layout.compactionPlan(spark, dir, targetBytes = sizes.max * 6)
    assert(plan.nonEmpty)
    // a partitioned plan without basePath would drop every partition
    // value into a flat rewrite — rejected loudly, not silently
    val outDir = java.nio.file.Files.createTempDirectory("compact_hive2_out").toString
    intercept[IllegalArgumentException] {
      Layout.compactSmallFiles(spark, plan, outDir, sizes.max * 6)
    }
    // with basePath the rewrite keeps the k=v layout and the values
    Layout.compactSmallFiles(spark, plan, outDir, sizes.max * 6,
      basePath = Some(dir))
    assert(new java.io.File(outDir).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("part=")), "k=v dirs must survive")
    val out = spark.read.parquet(outDir)
    val planned = spark.read.option("basePath", dir)
      .parquet(plan.flatten.map(_._1): _*)
    assert(out.count() == planned.count())
    // per-partition row multiset preserved (ids per part value)
    val a = out.groupBy("part").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = planned.groupBy("part").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b, s"per-partition counts: $a vs $b")
  }

  test("zOrderBy preserves rows and drops the internal column") {
    val df = (0 until 500)
      .map(i => (i.toLong, (i * 7L) % 101, (i * 13L) % 101)).toDF("id", "a", "b")
    val out = Layout.zOrderBy(df, Seq("a", "b"), numFiles = 4)
    assert(out.columns.toSeq === Seq("id", "a", "b"))
    assert(out.count() === 500)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 500L))
  }

  test("compactSmallFiles rejects a non-Hive plan spanning directories (no silent flattening)") {
    val root = java.nio.file.Files.createTempDirectory("compact_nested").toString
    // date-named subdirectories with NO k=v segments: structure Spark
    // cannot re-derive from the rows
    for (d <- Seq("2026-01-01", "2026-01-02")) {
      (0 until 6).map(i => (i.toLong, s"payload_$i" * 30)).toDF("id", "s")
        .repartition(6, col("id")).write.mode("overwrite")
        .parquet(s"$root/$d")
    }
    val sizes = new java.io.File(root).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.length())
    val plan = Layout.compactionPlan(spark, root, targetBytes = sizes.max * 4)
    assert(plan.size >= 2, s"expected per-directory groups, got ${plan.size}")
    val outDir = java.nio.file.Files.createTempDirectory("compact_nested_out").toString
    intercept[IllegalArgumentException] {
      Layout.compactSmallFiles(spark, plan, outDir, sizes.max * 4)
    }
    // the documented recovery: one call per directory, each with its own
    // outPath under the new root, preserves the layout and the rows
    val byDir = plan.groupBy(g => {
      val f = g.head._1; f.substring(0, f.lastIndexOf('/'))
    })
    for ((dir, groups) <- byDir) {
      val leaf = dir.substring(dir.lastIndexOf('/') + 1)
      Layout.compactSmallFiles(spark, groups, s"$outDir/$leaf", sizes.max * 4)
    }
    for (d <- Seq("2026-01-01", "2026-01-02"))
      assert(spark.read.parquet(s"$outDir/$d").count() == 6L, s"rows under $d")
  }

  /** `body`'s result and the WARN-or-worse messages Spark's `DataSource`
    * logged while it ran. */
  private def dataSourceWarnings[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender(s"capture-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try (body, seen.asScala.toSeq)
    finally { logger.removeAppender(capture); capture.stop() }
  }

  test("readManifest reads the hidden manifest without Spark's ignored-paths warning") {
    val df = (0 until 2000).map(i => (i.toLong, (i * 7L) % 997)).toDF("id", "a")
    val dir = tmpDir("layout_read_manifest")
    Layout.writeZordered(df, dir, Seq("id", "a"), numFiles = 4)
    Layout.writeManifest(spark, dir, Seq("a"))
    def canon(d: DataFrame) = d.orderBy("file").collect().toSeq
    // naming the hidden directory warns: the capture sees Spark's message
    val (direct, directWarnings) =
      dataSourceWarnings(canon(spark.read.parquet(Layout.manifestPath(dir))))
    assert(directWarnings.exists(_.contains("All paths were ignored")))
    val (read, warnings) = dataSourceWarnings {
      val rows = canon(Layout.readManifest(spark, dir))
      Layout.prunedRead(spark, dir, Seq(("a", 0L, 100L))).count()
      Layout.updateManifest(spark, dir, Seq("a"))
      rows
    }
    assert(read.size == 4 && read == direct)
    assert(!warnings.exists(_.contains("All paths were ignored")), warnings.mkString("; "))
  }
}
