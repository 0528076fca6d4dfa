package graft.io

import graft.strategies.RowSet
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import java.util.Locale

/** Filesystem steps of governed writes that land data by rename: the
  * staged write of `ContractIO.write` (stage every row once, partitioned
  * by its pass flag, then publish each planned subset) and `MergeIO`'s
  * snapshot swap. */
private[io] object Staging {

  // Hadoop FileSystem.rename reports failure by RETURNING FALSE, not by
  // throwing — every rename must be checked, or a failed promote could
  // fall through to a cleanup that deletes the only remaining copy
  def renameOrFail(fs: FileSystem, from: Path, to: Path, what: String): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"$what failed: rename($from -> $to) returned false")

  private val FileFormats = Set("parquet", "orc", "json", "csv", "text")
  // stores whose rename is a metadata operation; object stores copy
  private val RenameSchemes = Set("file", "hdfs", "viewfs")

  /** Whether a write of `format` to `path` can stage and publish by
    * rename: a built-in file format, on a store where rename is a
    * metadata operation. */
  def supports(spark: SparkSession, path: String, format: String): Boolean =
    FileFormats(format.toLowerCase(Locale.ROOT)) &&
      RenameSchemes(fsOf(spark, path).getUri.getScheme)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The partition column of a staged write: the row's composite pass
    * predicate, TRUE, FALSE or NULL. */
  val PassColumn = "_graft_pass"

  /** The Spark spelling of a write mode, as `DataFrameWriter.mode` reads it. */
  def saveMode(mode: String): SaveMode = mode.toLowerCase(Locale.ROOT) match {
    case "overwrite" => SaveMode.Overwrite
    case "append" => SaveMode.Append
    case "ignore" => SaveMode.Ignore
    case "error" | "errorifexists" | "default" => SaveMode.ErrorIfExists
    case other => throw new IllegalArgumentException(s"unknown save mode: $other")
  }

  /** One planned subset to publish: its rows, its target directory, and the
    * planned frame (written empty when no staged row belongs to it). */
  final case class Publish(rows: RowSet, target: String, frame: DataFrame)

  /** Writes `df` once, partitioned by its [[PassColumn]], into a hidden
    * directory `<path>/_graft_staging_<uuid>` (the `_` prefix keeps it out
    * of every Spark read of `path`). A failed write leaves nothing behind. */
  def stage(df: DataFrame, path: String, format: String, options: Map[String, String]): Staged = {
    val fs = fsOf(df.sparkSession, path)
    val root = fs.makeQualified(new Path(path))
    val staged = new Staged(fs, root,
      new Path(root, "_graft_staging_" + java.util.UUID.randomUUID().toString.replace("-", "")), format, options)
    try {
      df.write.format(format).options(options).partitionBy(PassColumn).mode(SaveMode.ErrorIfExists)
        .save(staged.dir.toString)
      staged
    } catch {
      case e: Throwable =>
        staged.discard()
        throw e
    }
  }

  /** The staged rows of one write. [[publish]] moves them into the
    * planned targets; [[discard]] removes the staging directory, and the
    * target directories it created when nothing was published into them. */
  final class Staged private[Staging] (fs: FileSystem, root: Path, val dir: Path,
                                      format: String, options: Map[String, String]) {
    // the target and its missing ancestors, the first existing one excluded
    private val created: Seq[Path] =
      Iterator.iterate(root)(_.getParent).takeWhile(p => p != null && !fs.exists(p)).toSeq
    private val rootExisted = created.isEmpty
    // the staged partition directories, by pass flag; none for a flag no row has
    private lazy val partitions: Map[Option[Boolean], Path] =
      Map(Some(true) -> "true", Some(false) -> "false", None -> ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        .map { case (pass, value) => pass -> new Path(dir, s"$PassColumn=$value") }
        .filter { case (_, p) => fs.exists(p) }

    private def partitionsOf(rows: RowSet): Seq[Option[Boolean]] = (rows match {
      case RowSet.All => Seq(Some(true), Some(false), None)
      case RowSet.Passing => Seq(Some(true))
      case RowSet.Failing => Seq(Some(false))
    }).filter(partitions.contains)

    /** Publishes each request in order, as `DataFrameWriter.save(target)`
      * with `mode` would write it: `error` throws on an existing target,
      * `ignore` skips it, `overwrite` replaces it, `append` adds to it. The
      * staged root itself counts as existing only if it did before the
      * stage. A staged file moves to the last request that holds its rows
      * and is copied to the earlier ones. A request without staged rows is
      * its frame written empty, through Spark. */
    def publish(requests: Seq[Publish], mode: SaveMode): Unit = {
      // with no staged row at all, every target is written empty through
      // Spark: remove the staging first so the root is as before
      if (partitions.isEmpty) discard()
      requests.zipWithIndex.foreach { case (req, i) =>
        val sources = partitionsOf(req.rows)
        val target = fs.makeQualified(new Path(req.target))
        val exists = if (target == root) rootExisted else fs.exists(target)
        if (sources.isEmpty) req.frame.limit(0).write.format(format).options(options).mode(mode).save(req.target)
        else mode match {
          case SaveMode.ErrorIfExists if exists =>
            throw new AnalysisException("PATH_ALREADY_EXISTS", Map("outputPath" -> target.toString))
          case SaveMode.Ignore if exists =>
          case _ =>
            if (mode == SaveMode.Overwrite && exists) clear(target)
            fs.mkdirs(target)
            val later = requests.drop(i + 1).flatMap(r => partitionsOf(r.rows)).toSet
            sources.foreach { p =>
              val tag = p.fold("n")(b => if (b) "t" else "f")
              fs.listStatus(partitions(p)).map(_.getPath).foreach { f =>
                val to = new Path(target,
                  if (sources.size == 1) f.getName else s"part-$tag-${f.getName.stripPrefix("part-")}")
                if (later(p)) FileUtil.copy(fs, f, fs, to, false, fs.getConf)
                else renameOrFail(fs, f, to, s"publishing $target")
              }
            }
            fs.create(new Path(target, "_SUCCESS"), true).close()
        }
      }
    }

    /** Overwrite's delete: the whole target, or every entry of the staged
      * root but the staging directory. */
    private def clear(target: Path): Unit =
      if (target == root) fs.listStatus(root).map(_.getPath).filter(_ != dir).foreach(fs.delete(_, true))
      else fs.delete(target, true)

    /** Removes the staging directory, then each directory this write
      * created that is still empty. Idempotent. */
    def discard(): Unit = {
      if (fs.exists(dir)) fs.delete(dir, true)
      created.iterator.takeWhile(p => fs.exists(p) && fs.listStatus(p).isEmpty).foreach(fs.delete(_, false))
    }
  }
}
