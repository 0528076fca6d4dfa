package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * data-skipping scans.
  *
  * The 100 TB problem this solves: a corpus sorted by one key prunes
  * scans on THAT key only — parquet row-group min/max stats on every
  * other column span the whole domain, so a filter on (partkey AND
  * suppkey) still reads everything when the files are laid out by
  * orderkey. Interleaving the bits of several quantized columns into
  * one sort key clusters rows so that EVERY interleaved column has
  * tight min/max per file/row-group, and a conjunctive range filter
  * skips most of the corpus at the scan (the `OPTIMIZE ZORDER BY`
  * capability, expressed as plain open Spark: quantize → interleave →
  * `repartitionByRange` → `sortWithinPartitions` → write).
  * `LayoutSpec` pins the skipping effect by comparing the parquet
  * scan's output-row metric between a z-ordered and a linearly-sorted
  * copy of the same data under the same box filter.
  *
  * Determinism: quantization is exact integer arithmetic — bucket =
  * ((v − min) × 2^bits) div (range + 1) over DECIMAL(38,0), integral
  * `div` — and the bit interleave is a static shift/mask expression
  * tree (codegen'd, no lambda), so any engine reproduces the z-values
  * bit-for-bit; the gate replays them in DuckDB. File ASSIGNMENT
  * (which range split a row lands in) is Spark-internal sampling and
  * deliberately not part of any gated result.
  */
object Layout {

  /** Z-value of already-quantized bucket columns (each in [0, 2^bits)):
    * stride-n bit interleave, column 0 taking the most significant
    * position of each group. Static shift/mask tree — stays inside
    * whole-stage codegen. */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.size
    require(n >= 2, "interleave needs at least two columns")
    require(n * bits <= 63, s"$n columns x $bits bits overflow a signed long")
    val terms = for {
      i <- 0 until bits
      (b, j) <- buckets.zipWithIndex
    } yield {
      // bit i of column j lands at position i*n + (n-1-j)
      val pos = i * n + (n - 1 - j)
      (shiftright(b, i).bitwiseAND(lit(1L))) * lit(1L << pos)
    }
    terms.reduce(_ + _)
  }

  /** Append `zCol` — the z-value over `cols` quantized to `bits` bits
    * each against their OBSERVED min/max (one aggregation, broadcast
    * back; no driver-side collect, no extra job before the plan runs).
    * Non-integral inputs are rejected: float quantization buckets
    * would depend on rounding mode and break the exactness contract —
    * pre-bucket floats explicitly (e.g. cast fixed-point) first. */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 16,
                 zCol: String = "zval"): DataFrame = {
    require(cols.size >= 2, "z-order needs at least two columns")
    require(cols.size * bits <= 63, "z-value must fit a signed long")
    cols.foreach { c =>
      val ok = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"z-order column $c must be integral, got " +
        df.schema(c).dataType.simpleString)
    }
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast(LongType).as(s"_z_min_$c"),
        max(col(c)).cast(LongType).as(s"_z_max_$c"))
    }
    val mm = df.agg(aggs.head, aggs.tail: _*)
    val withStats = df.crossJoin(broadcast(mm))
    val buckets = cols.map { c =>
      // ((v - min) * 2^bits) div (range + 1): exact DECIMAL(38,0)
      // integral division, monotone, max ↦ 2^bits - 1
      expr(s"(CAST(${1L << bits} AS DECIMAL(38,0)) * " +
        s"CAST((CAST(`$c` AS BIGINT) - `_z_min_$c`) AS DECIMAL(38,0))) div " +
        s"CAST((`_z_max_$c` - `_z_min_$c` + 1) AS DECIMAL(38,0))")
    }
    withStats
      .withColumn(zCol, interleave(buckets, bits))
      .drop(cols.flatMap(c => Seq(s"_z_min_$c", s"_z_max_$c")): _*)
  }

  /** Cluster `df` by the z-value over `cols`: range-partition into
    * `numFiles` splits and sort inside each — every interleaved column
    * gets tight per-file (and per-row-group) min/max stats. The z
    * column itself is dropped from the output rows; it exists to
    * arrange them. */
  def zOrderBy(df: DataFrame, cols: Seq[String], numFiles: Int,
               bits: Int = 16): DataFrame = {
    require(numFiles > 0, "numFiles must be positive")
    withZValue(df, cols, bits, zCol = "_z_order")
      .repartitionByRange(numFiles, col("_z_order"))
      .sortWithinPartitions(col("_z_order"))
      .drop("_z_order")
  }

  /** [[zOrderBy]] + parquet write — the materialised layout. */
  def writeZordered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bits: Int = 16): Unit =
    zOrderBy(df, cols, numFiles, bits).write.mode("overwrite").parquet(path)

  /** Where [[writeManifest]] parks the stats manifest for `path`. The
    * leading underscore hides it from data scans of `path`. */
  def manifestPath(path: String): String = s"$path/_graft_manifest"

  /** The stats manifest of `path`, read from its part files: naming the
    * hidden manifest directory itself makes Spark log that all paths were
    * ignored. */
  def readManifest(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(manifestPath(path))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sources.parquet(spark,
      dataFileNames(fs, dir).sorted.map(n => s"${manifestPath(path)}/$n").toIndexedSeq: _*)
  }

  /** Names of the data files directly under `dir`: no directories, no
    * `_`- or `.`-prefixed side files. */
  private def dataFileNames(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path): Array[String] =
    fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))

  /** Per-FILE min/max stats manifest over `statsCols` of the parquet
    * dataset at `path`: one row per data file —
    * `(file, rows, min_<c>, max_<c>, ...)`. This is the explicit
    * file-pruning layer the table formats (Delta/Iceberg) keep in their
    * transaction log, expressed as plain open Spark: parquet row-group
    * stats skip WITHIN a file the scan already opened; a manifest skips
    * the FILE — at 100 TB that is the difference between listing+footer
    * work on a million files and a manifest-sized join. Built with ONE
    * distributed scan grouped by `_metadata.file_path` (no driver-side
    * footer reads); the manifest is files-sized, the natural partner of
    * [[writeZordered]] (z-order makes per-file stats TIGHT, the
    * manifest makes them ACTIONABLE before the scan). */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    statsCols: Seq[String]): DataFrame = {
    require(statsCols.nonEmpty, "statsCols must not be empty")
    manifestOf(Sources.parquet(spark, path), statsCols)
  }

  /** The manifest aggregation over an already-opened parquet frame —
    * shared by the full build and the incremental refresh so the two
    * can never drift in schema or stats spelling. */
  private def manifestOf(df: DataFrame, statsCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("rows") +: statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.select(col("_metadata.file_path").as("file") +: statsCols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental manifest refresh — the artifact family's grow path:
    * after an APPEND to `path`, scan ONLY the data files the stored
    * manifest has not seen (file listing is a filesystem metadata
    * operation; known-file detection is by file name, unique within a
    * directory) and union their stats in. Cost is O(new files), never
    * O(corpus) — daily ingest touches the day's files while the
    * manifest keeps covering the whole table. Returns the number of
    * newly scanned files; with no manifest present it falls back to a
    * full [[writeManifest]] build. Concurrent-writer coordination is
    * out of scope (that is what the table formats' transaction logs
    * add on top of exactly this stats layout). */
  def updateManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                     statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, "statsCols must not be empty")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(manifestPath(path))
    if (!fs.exists(mPath)) {
      writeManifest(spark, path, statsCols)
      return readManifest(spark, path).count()
    }
    val dataFiles = dataFileNames(fs, hPath)
    // manifest rows are files-sized: materialise before the overwrite
    // below (self-overwrite of a lazily-read path is illegal) and for
    // the known-name set
    val existing = readManifest(spark, path).localCheckpoint(true)
    val known = existing.select(col("file")).collect()
      .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1))
      .toSet
    val newNames = dataFiles.filterNot(known)
    if (newNames.isEmpty) return 0L
    val newStats = manifestOf(
      Sources.parquet(spark, newNames.map(n => s"$path/$n").toIndexedSeq: _*), statsCols)
    existing.unionByName(newStats).coalesce(1)
      .write.mode("overwrite").parquet(manifestPath(path))
    newNames.length.toLong
  }

  /** Materialise [[statsManifest]] under `path/_graft_manifest` (one
    * coalesced file — the manifest is files-sized by construction). */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    statsCols: Seq[String]): Unit =
    statsManifest(spark, path, statsCols).coalesce(1)
      .write.mode("overwrite").parquet(manifestPath(path))

  /** Data-skipping read: only the files whose `[min, max]` interval
    * intersects `[lo, hi]` for EVERY `(col, lo, hi)` bound — a file
    * outside any bound provably holds no matching row, so skipping it
    * cannot change any downstream result (the correctness contract the
    * gated query pins end to end: pruned + filter ≡ full scan +
    * filter). The caller still applies the row-level filter; pruning
    * only shrinks the file set the scan opens.
    *
    * Driver-side work is ONE collect of the SELECTED file paths —
    * bounded by the file count, the same metadata-sized-collect budget
    * as the centroid/codebook artifacts (and the reason this composes
    * with z-order: tight stats make the selected set small). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
                 bounds: Seq[(String, Long, Long)],
                 manifest: Option[DataFrame] = None): DataFrame =
    prunedReadCols(spark, path,
      bounds.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) }, manifest)

  /** [[prunedRead]] with STRING interval bounds — the variant ordered
    * key layouts over text keys need. Same correctness contract: a file
    * whose interval misses a bound provably holds no matching row. */
  def prunedReadStrings(spark: org.apache.spark.sql.SparkSession, path: String,
                        bounds: Seq[(String, String, String)],
                        manifest: Option[DataFrame] = None): DataFrame =
    prunedReadCols(spark, path,
      bounds.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) }, manifest)

  /** PREFIX pruning over a string-keyed layout: only the files whose
    * `[min, max]` interval can hold a key starting with `prefix` — the
    * SURT-prefix scan over the CDX index ("all captures under
    * `com,example,`"). The interval test is EXACT without successor
    * arithmetic: the prefix's key set is `[prefix, successor(prefix))`,
    * and `min < successor(prefix)` ⟺ `min ≤ prefix ∨ min.startsWith
    * (prefix)` — deliberately NOT spelled `min ≤ prefix + "￿"`,
    * which silently drops files whose min carries a supplementary
    * (non-BMP) character: those sort ABOVE U+FFFF in the UTF-8 byte
    * order Spark compares strings by, and real crawl urlkeys contain
    * them (IRI paths with emoji/CJK-extension codepoints). */
  def prunedReadPrefix(spark: org.apache.spark.sql.SparkSession, path: String,
                       c: String, prefix: String,
                       manifest: Option[DataFrame] = None): DataFrame = {
    require(prefix.nonEmpty, "prefix must not be empty")
    val m = manifest.getOrElse(readManifest(spark, path))
    readKept(spark, path, m.filter(col(s"max_$c") >= prefix &&
      (col(s"min_$c") <= prefix || col(s"min_$c").startsWith(prefix))))
  }

  private def prunedReadCols(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             bounds: Seq[(String, Column, Column)],
                             manifest: Option[DataFrame]): DataFrame = {
    require(bounds.nonEmpty, "bounds must not be empty")
    val m = manifest.getOrElse(readManifest(spark, path))
    val keep = bounds.foldLeft(m) { case (acc, (c, lo, hi)) =>
      acc.filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
    }
    readKept(spark, path, keep)
  }

  private def readKept(spark: org.apache.spark.sql.SparkSession, path: String,
                       keep: DataFrame): DataFrame = {
    val files = keep.select(col("file")).collect().map(_.getString(0))
    if (files.isEmpty)
      // schema-preserving empty frame: footer-only read, no data scan
      Sources.parquet(spark, path).limit(0)
    else Sources.parquet(spark, files.toIndexedSeq: _*)
  }

  /** Small-file compaction plan: first-fit-decreasing bin packing of the
    * table's under-sized data files into merge groups of ≈`targetBytes`
    * — the OPTIMIZE planner (Delta/Iceberg's maintenance idea as plain
    * open Spark over this module's manifest/layout machinery). PLANNING
    * is a filesystem-metadata operation: one directory listing, zero
    * data scanned — on a million-file table the plan costs what the
    * listing costs. Files at or above `targetBytes * bigFileFraction`
    * are left alone (rewriting them buys nothing); singleton groups are
    * dropped (a lone small file merges with nothing). Deterministic:
    * FFD over (size DESC, name ASC).
    *
    * The listing is RECURSIVE, so Hive-partitioned tables (data files
    * under `k=v/` subdirectories) are planned too — a flat listing
    * would silently return an empty plan that reads as "nothing to
    * compact". Hidden directories (`_`/`.` prefixed — `_manifest`,
    * `_temporary`, checkpoint litter) are skipped whole. NOTE: groups
    * never mix directories — merging rows across Hive partitions would
    * corrupt partition pruning — so bin packing runs per parent
    * directory.
    *
    * CALLER CONTRACT (also returned, not just documented): after
    * [[compactSmallFiles]] succeeds, the INPUT files in the plan must
    * be deleted (or the directory swapped) by the caller — the rewrite
    * writes merged copies to `outPath` and leaves inputs in place, so
    * reading both locations double-counts rows. */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetBytes: Long,
                     bigFileFraction: Double = 0.5): Seq[Seq[(String, Long)]] = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(bigFileFraction > 0 && bigFileFraction <= 1,
      "bigFileFraction must be in (0, 1]")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    // recursive listing that prunes hidden SUBTREES (listFiles(recursive)
    // would descend into _manifest/_temporary and only lets us filter
    // leaf names, not whole directories)
    def walk(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        if (hidden(s.getPath.getName)) Nil
        else if (s.isDirectory) walk(s.getPath)
        else Seq(s)
      }
    val small = walk(p)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
      .filter(_._2 < (targetBytes * bigFileFraction).toLong)
    // per-directory packing: never merge across Hive partitions
    small.groupBy { case (name, _) => name.substring(0, name.lastIndexOf('/') + 1) }
      .toSeq.sortBy(_._1)
      .flatMap { case (_, inDir) =>
        val ordered = inDir.sortBy { case (name, size) => (-size, name) }
        val bins = scala.collection.mutable.ArrayBuffer
          .empty[(scala.collection.mutable.ArrayBuffer[(String, Long)], Long)]
        for ((f, sz) <- ordered) {
          bins.indexWhere { case (_, used) => used + sz <= targetBytes } match {
            case -1 => bins += ((scala.collection.mutable.ArrayBuffer((f, sz)), sz))
            case i  => bins(i) = ((bins(i)._1 += ((f, sz))), bins(i)._2 + sz)
          }
        }
        bins.map(_._1.toSeq).filter(_.size > 1).toSeq
      }
  }

  /** Execute a compaction: rewrite the planned groups' rows into
    * ≈target-sized files at `outPath`, optionally range-sorted by
    * `sortCols` so an existing clustering (z-order) survives the
    * rewrite. ONE distributed job over the union of the planned files —
    * no per-group driver loop; file count = ceil(bytes / target).
    * Files outside the plan are untouched (the caller's big files keep
    * their layout). Returns (files in, files out).
    *
    * CALLER CONTRACT: the input files (the paths in `plan` — the
    * caller already holds the exact list) are NOT deleted; after this
    * returns successfully the caller must delete them or swap the
    * directory, or reading both locations double-counts every
    * compacted row. Kept out of this method so a crash mid-rewrite
    * never loses data (write-then-swap, the [[graft.io.MergeIO]]
    * posture).
    *
    * HIVE-PARTITIONED tables need `basePath` (the table root the plan
    * was built from): the leaf files are then read with Spark's
    * `basePath` option so the partition columns survive as data, and
    * the rewrite `partitionBy`s them back out — `outPath` gets the same
    * `k=v/` layout and partition pruning keeps working. Without it,
    * reading bare leaf files would silently DROP every partition-column
    * value and flatten the table, so a plan whose files carry `k=v`
    * segments is REJECTED (loudly) when `basePath` is absent. Still one
    * distributed job: rows co-partition by the partition columns, so
    * each output partition writes ~one merged file. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
                        plan: Seq[Seq[(String, Long)]], outPath: String,
                        targetBytes: Long,
                        sortCols: Seq[String] = Nil,
                        basePath: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = plan.flatten.map(_._1)
    if (files.isEmpty) return (0, 0)
    // partition keys from the k=v path segments (directory parts only)
    def partKeys(f: String): Seq[String] = f.split('/').dropRight(1).toSeq
      .filter(seg => seg.contains('=') && !seg.startsWith("=")).map(_.takeWhile(_ != '='))
    val partCols = files.flatMap(partKeys).distinct
    require(partCols.isEmpty || basePath.nonEmpty,
      s"plan contains Hive-partitioned files (columns ${partCols.mkString(", ")}) — " +
        "pass basePath=<table root> or the rewrite would drop their partition values")
    // non-Hive NESTED layouts (date-named subdirectories without k=v)
    // carry structure the single-outPath rewrite cannot reproduce: the
    // partition columns that would partitionBy it back out don't exist
    // as data. Pooling such a plan into one flat directory would
    // silently discard the layout compactionPlan's per-directory
    // binning preserved — reject loudly (the missing-basePath posture);
    // compact each directory's groups with its own outPath instead.
    val parentDirs = files.map(f => f.substring(0, f.lastIndexOf('/') + 1)).distinct
    require(partCols.nonEmpty || parentDirs.size <= 1,
      s"plan spans ${parentDirs.size} directories with no Hive k=v segments — a " +
        "single-outPath rewrite would flatten the directory structure; run " +
        "compactSmallFiles once per directory (compactionPlan groups never cross " +
        "directories, so filter the plan by parent path)")
    val totalBytes = plan.flatten.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val reader = basePath.fold(Sources.reader(spark))(Sources.reader(spark).option("basePath", _))
    val df = reader.load(files: _*)
    val shapeCols = (partCols ++ sortCols).map(col)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, shapeCols: _*)
          .sortWithinPartitions(shapeCols: _*)
      else if (partCols.nonEmpty) df.repartition(nOut, shapeCols: _*)
      else df.repartition(nOut)
    val writer = shaped.write.mode("overwrite")
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(outPath)
    (files.size, nOut)
  }
}
