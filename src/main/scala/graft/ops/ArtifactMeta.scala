package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.util.control.NonFatal

/** The metadata format of the build-once/probe-many artifact family: the
  * one small JSON file each artifact keeps beside its parquet data, which
  * pins the parameters its readers must probe with.
  *
  * | artifact | file | holds |
  * | --- | --- | --- |
  * | [[BmIndex]] | `meta.json` | nDocs, sumDl, nTerms |
  * | [[BpeIndex]] | `meta.json` | nMerges, nWordTypes |
  * | [[HammingIndex]] | `meta.json` | kind, bits, maxHamming |
  * | [[IvfIndex]] | `centroids.json` | `[{cid, cv, cn}]` |
  * | [[LineIndex]] | `meta.json` | version, kind, sep or size |
  * | [[LmIndex]] | `meta.json` | minCount, nBigrams, cuts, per-order layers, version |
  * | [[LmIndex.buildPerLang]] | `langs.json` | langs, minCount |
  * | [[MinhashIndex]] | `meta.json` | k, mode |
  * | [[PqIndex]] | `codebooks.json` | m, k, dim, books |
  * | [[SketchIndex]] | `meta.json` | kind plus k or d/w, salt, mode (strings) |
  * | [[UnigramIndex]] | `meta.json` | vocabSize, maxPieceLen, emIters, maxTypes, nWordTypes |
  * | [[ArtifactProvenance]] (any artifact) | `provenance.json` | who built it, from which corpus |
  *
  * [[write]] renders a case class, a list of them or a `ListMap` of fields
  * as compact JSON at `<dir>/<file>`, through the artifact's Hadoop
  * `FileSystem`. [[readAs]] and [[read]] parse it back on the driver the
  * same way: no Spark job. Damaged metadata fails loudly: a missing file,
  * text that is not JSON, or a required field that is missing or of the
  * wrong type throws `IllegalArgumentException` naming `<dir>/<file>` and
  * the key. A default in its place would probe with the wrong parameters
  * and return wrong answers without an error.
  */
object ArtifactMeta {

  // strict: a missing array, or an Option field of the wrong type, fails
  // the extraction instead of reading as empty or None
  private implicit val formats: Formats = DefaultFormats.strict.disallowNull

  /** Write `value` as JSON to `<dir>/<file>`, replacing any previous file.
    * Case-class fields become keys in constructor order; `None` fields and
    * map entries are left out. */
  def write(spark: SparkSession, dir: String, file: String, value: Any): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(Extraction.decompose(value)))
      .getBytes("UTF-8")
    val path = new Path(s"$dir/$file")
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(bytes) finally out.close()
  }

  /** `<dir>/<file>` extracted as `A`: a case class whose fields are the
    * keys (`Option` fields may be absent), or a list of them. */
  def readAs[A: Manifest](spark: SparkSession, dir: String, file: String): A =
    try parse(spark, dir, file).extract[A]
    catch {
      case e: MappingException => throw new IllegalArgumentException(
        s"$dir/$file: ${e.getMessage.replace('\n', ' ')}", e)
    }

  /** `<dir>/<file>` as a JSON object with typed field accessors. */
  def read(spark: SparkSession, dir: String, file: String): Fields =
    parse(spark, dir, file) match {
      case JObject(fields) => new Fields(s"$dir/$file", fields.toMap)
      case _ => throw new IllegalArgumentException(s"$dir/$file is not a JSON object")
    }

  /** The fields of one metadata object. Required accessors throw when the
    * key is missing or holds the wrong type; `*Opt` accessors read an
    * absent key as `None` and still throw on the wrong type. */
  final class Fields private[ArtifactMeta] (where: String, fields: Map[String, JValue]) {
    def str(key: String): String = required(key, strOpt(key))
    def strOpt(key: String): Option[String] = typed(key, "a string") { case JString(s) => s }
    def int(key: String): Int = required(key, typed(key, "an int") {
      case JInt(v) if v.isValidInt => v.toInt
    })
    def long(key: String): Long = required(key, longOpt(key))
    def longOpt(key: String): Option[Long] = typed(key, "a long") {
      case JInt(v) if v.isValidLong => v.toLong
    }
    def doubleOpt(key: String): Option[Double] = typed(key, "a number") {
      case JDouble(v) => v
      case JInt(v) => v.toDouble
    }

    private def required[A](key: String, value: Option[A]): A = value.getOrElse(
      throw new IllegalArgumentException(s"$where: required field '$key' is missing"))

    private def typed[A](key: String, what: String)(pf: PartialFunction[JValue, A]): Option[A] =
      fields.get(key).map(v => pf.applyOrElse(v, (_: JValue) =>
        throw new IllegalArgumentException(
          s"$where: field '$key' must be $what, got ${JsonMethods.compact(JsonMethods.render(v))}")))
  }

  private def parse(spark: SparkSession, dir: String, file: String): JValue = {
    val path = new Path(s"$dir/$file")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"$dir/$file does not exist: $dir is not a built artifact")
    val in = fs.open(path)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    try JsonMethods.parse(text)
    catch {
      case NonFatal(e) => throw new IllegalArgumentException(s"$dir/$file is not valid JSON", e)
    }
  }
}
