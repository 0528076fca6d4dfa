package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The artifact metadata codec: round trips on the driver, fails loudly on
  * damaged metadata (every artifact kind, every required key), still reads
  * what earlier builds wrote, and is the only json4s user in `graft.ops`. */
class ArtifactMetaSpec extends SparkSpec {
  import ArtifactMetaSpec.Sample
  import spark.implicits._

  private def writeText(dir: String, file: String, text: String): Unit = {
    Files.write(Paths.get(dir, file), text.getBytes("UTF-8"))
    // drop the local-FS checksum sidecar an out-of-band edit invalidates
    Files.deleteIfExists(Paths.get(dir, s".$file.crc"))
  }

  /** `f` throws an IllegalArgumentException naming `<dir>/<file>` and `key`. */
  private def assertNames(dir: String, file: String, key: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    val where = s"$dir/$file"
    assert(e.getMessage.contains(where), s"$key: ${e.getMessage}")
    val rest = e.getMessage.replace(where, "")
    assert(s"(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(key)}(?![A-Za-z0-9_])".r
      .findFirstIn(rest).isDefined, s"$key not named: ${e.getMessage}")
  }

  test("json4s is referenced only by ArtifactMeta inside graft.ops") {
    val json4s = "\\borg\\.json4s\\b".r
    val files = Using.resource(Files.walk(Paths.get("src/main/scala/graft/ops")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val users = files.filter(p =>
      json4s.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString)
    // the pattern must see the codec's own use, or the scan proves nothing
    assert(users.contains("ArtifactMeta.scala"), "the pattern no longer matches ArtifactMeta")
    assert(users == List("ArtifactMeta.scala"),
      s"read and write artifact metadata through ArtifactMeta, not: ${users.mkString(", ")}")
  }

  test("write and read round trip on the driver, no Spark job") {
    val dir = tmpDir("am_roundtrip")
    val s = Sample(1L << 40, "a\"b", List(0.5, -1.0))
    ArtifactMeta.write(spark, dir, "meta.json", s)
    assert(new String(Files.readAllBytes(Paths.get(dir, "meta.json")), "UTF-8") ==
      """{"n":1099511627776,"name":"a\"b","xs":[0.5,-1.0]}""")
    val (back, jobs) = jobsOf(ArtifactMeta.readAs[Sample](spark, dir, "meta.json"))
    assert(back == s && jobs == 0)
    ArtifactMeta.write(spark, dir, "fields.json",
      ListMap("b" -> 2, "a" -> "x", "gone" -> None, "c" -> Some(1.5)))
    assert(new String(Files.readAllBytes(Paths.get(dir, "fields.json")), "UTF-8") ==
      """{"b":2,"a":"x","c":1.5}""")
    val f = ArtifactMeta.read(spark, dir, "fields.json")
    assert(f.int("b") == 2 && f.long("b") == 2L && f.str("a") == "x")
    assert(f.doubleOpt("c").contains(1.5) && f.doubleOpt("b").contains(2.0))
    assert(f.strOpt("gone").isEmpty && f.longOpt("gone").isEmpty)
  }

  test("a missing file, bad JSON, or a missing or mistyped field names the file and key") {
    val dir = tmpDir("am_damage")
    assertNames(dir, "meta.json", "exist") { ArtifactMeta.read(spark, dir, "meta.json") }
    writeText(dir, "meta.json", "{trunc")
    assertNames(dir, "meta.json", "JSON") { ArtifactMeta.read(spark, dir, "meta.json") }
    writeText(dir, "meta.json", "[1, 2]")
    assertNames(dir, "meta.json", "object") { ArtifactMeta.read(spark, dir, "meta.json") }
    writeText(dir, "meta.json", """{"n": "x", "name": "a", "xs": [1.0], "opt": "y"}""")
    val f = ArtifactMeta.read(spark, dir, "meta.json")
    assertNames(dir, "meta.json", "n") { f.long("n") }
    assertNames(dir, "meta.json", "n") { f.longOpt("n") }
    assertNames(dir, "meta.json", "name") { f.int("name") }
    assertNames(dir, "meta.json", "missing") { f.str("missing") }
    assertNames(dir, "meta.json", "n") { ArtifactMeta.readAs[Sample](spark, dir, "meta.json") }
    writeText(dir, "meta.json", """{"n": 1, "name": "a", "xs": [1.0], "opt": "y"}""")
    assertNames(dir, "meta.json", "opt") { ArtifactMeta.readAs[Sample](spark, dir, "meta.json") }
    writeText(dir, "meta.json", """{"n": 1, "name": "a", "xs": [1.0, "z"]}""")
    assertNames(dir, "meta.json", "xs") { ArtifactMeta.readAs[Sample](spark, dir, "meta.json") }
    for (key <- Seq("n", "name", "xs")) {
      val fields = ListMap("n" -> 1, "name" -> "a", "xs" -> List(1.0)) - key
      ArtifactMeta.write(spark, dir, "meta.json", fields)
      assertNames(dir, "meta.json", key) { ArtifactMeta.readAs[Sample](spark, dir, "meta.json") }
    }
    writeText(dir, "meta.json", """{"n": 1, "name": "a", "xs": []}""")
    assert(ArtifactMeta.readAs[Sample](spark, dir, "meta.json") == Sample(1L, "a", Nil))
  }

  // --- every artifact kind: one tiny build, each required key removed ---

  private def docs = Seq((1L, "the cat sat on the mat today"),
    (2L, "the dog sat on the log today"),
    (3L, "the cat sat on the log again today")).toDF("doc_id", "text")

  private def emb = (0 until 12).map { i =>
    (i.toLong, s"d$i", Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toDouble + 0.5))
  }.toDF("vec_id", "label", "embedding")

  private def pairs = Seq(("g", "x"), ("g", "y"), ("h", "x")).toDF("g", "v")

  /** A kind: its build, its metadata file, the keys every build writes and
    * a reader that decodes the whole file. */
  private final case class Kind(name: String, file: String, keys: Seq[String],
                                build: String => Unit, read: String => Any)

  private def kinds = Seq(
    Kind("bm", "meta.json", Seq("nDocs", "sumDl", "nTerms"),
      BmIndex.build(docs, _), BmIndex.meta(spark, _)),
    Kind("bpe", "meta.json", Seq("nMerges", "nWordTypes"),
      BpeIndex.build(docs, _, nMerges = 2), BpeIndex.readMeta(spark, _)),
    Kind("unigram", "meta.json",
      Seq("vocabSize", "maxPieceLen", "emIters", "maxTypes", "nWordTypes"),
      UnigramIndex.build(docs, _, vocabSize = 20), UnigramIndex.readMeta(spark, _)),
    Kind("minhash", "meta.json", Seq("k", "mode"),
      MinhashIndex.build(docs, _, mode = HashMode.Portable, numFiles = 1),
      MinhashIndex.meta(spark, _)),
    Kind("hamming", "meta.json", Seq("kind", "bits", "maxHamming"),
      HammingIndex.build((0L until 6L).map(i => (i, i << 8)).toDF("doc_id", "fp"), _,
        maxHamming = 2, kind = "test-fp", hashCol = "fp", numFiles = 1),
      HammingIndex.meta(spark, _)),
    Kind("ivf", "centroids.json", Seq("cid", "cv", "cn"),
      IvfIndex.build(emb, _, nCentroids = 2), IvfIndex.centroids(spark, _)),
    Kind("pq", "codebooks.json", Seq("m", "k", "dim", "books"),
      PqIndex.build(emb, _, m = 2, k = 2, numFiles = 1), PqIndex.meta(spark, _)),
    Kind("line-windows", "meta.json", Seq("kind", "size"),
      LineIndex.build(docs, _, LineIndex.Kind.Windows(3), numFiles = 1),
      LineIndex.meta(spark, _)),
    Kind("line-lines", "meta.json", Seq("sep"),
      LineIndex.build(docs, _, LineIndex.Kind.Lines(), numFiles = 1),
      LineIndex.meta(spark, _)),
    Kind("lm", "meta.json", Seq("minCount", "nBigrams"),
      LmIndex.build(docs, _, minCount = 1, numFiles = 1), LmIndex.meta(spark, _)),
    Kind("lm-langs", "langs.json", Seq("langs", "minCount"),
      LmIndex.buildPerLang(docs.withColumn("predicted_lang", lit("aa")), _,
        minCount = 1, numFiles = 1),
      LmIndex.langs(spark, _)),
    Kind("sketch-kmv", "meta.json", Seq("kind", "k", "mode", "salt"),
      SketchIndex.buildKmv(pairs, "g", "v", _, k = 4), SketchIndex.params(spark, _, "kmv")),
    Kind("sketch-cm", "meta.json", Seq("kind", "d", "w", "mode", "salt"),
      SketchIndex.buildCm(pairs, "v", _, d = 2, w = 8), SketchIndex.params(spark, _, "cm")))

  /** `json` without `key` — for a list, from its first element. */
  private def without(json: JValue, key: String): JValue = json match {
    case JArray(first :: rest) => JArray(first.removeField(_._1 == key) :: rest)
    case other => other.removeField(_._1 == key)
  }

  test("damaged metadata fails loudly: every kind, every required key") {
    for (k <- kinds) {
      val dir = tmpDir(s"am_${k.name}_")
      k.build(dir)
      k.read(dir) // the intact file reads
      val intact = new String(Files.readAllBytes(Paths.get(dir, k.file)), "UTF-8")
      for (key <- k.keys) {
        val json = JsonMethods.parse(intact)
        assert(json \\ key != JNothing, s"${k.name}: the build writes no '$key'")
        writeText(dir, k.file, JsonMethods.compact(JsonMethods.render(without(json, key))))
        withClue(s"${k.name} without '$key': ") {
          assertNames(dir, k.file, key)(k.read(dir))
        }
      }
    }
  }

  // --- metadata as the previous release wrote it, one literal per file kind ---

  private def parentRead[A](file: String, text: String)(read: String => A): A = {
    val dir = tmpDir("am_parent_")
    writeText(dir, file, text)
    read(dir)
  }

  test("metadata written by the previous release reads back to the same values") {
    assert(parentRead("meta.json", """{"nDocs":4,"sumDl":29,"nTerms":11}""")(
      BmIndex.meta(spark, _)) == ((4L, 29L, 11L)))
    assert(parentRead("meta.json", """{"nMerges":4,"nWordTypes":11}""")(
      BpeIndex.readMeta(spark, _)) == BpeIndex.Meta(4, 11L))
    assert(parentRead("meta.json",
      """{"vocabSize":48,"maxPieceLen":4,"emIters":2,"maxTypes":100,"nWordTypes":11}""")(
      UnigramIndex.readMeta(spark, _)) == UnigramIndex.Meta(48, 4, 2, 100, 11L))
    assert(parentRead("meta.json", """{"k":3,"mode":"portable"}""")(
      MinhashIndex.meta(spark, _)) == ((3, HashMode.Portable)))
    assert(parentRead("meta.json", """{"kind":"test-fp","bits":64,"maxHamming":3}""")(
      HammingIndex.meta(spark, _)) == (("test-fp", 64, 3)))
    val cents = parentRead("centroids.json",
      """[{"cid":0,"cv":[-5.5,1.5,-4.5,2.5,-3.5,3.5,-2.5,4.5],"cn":10.488088481701515},""" +
        """{"cid":1,"cv":[-0.5,6.5,0.5,-5.5,1.5,-4.5,2.5,-3.5],"cn":10.677078252031311}]""")(
      IvfIndex.centroids(spark, _))
    assert(cents.map(c => (c.cid, c.cv.toSeq, c.cn)) == Seq(
      (0L, Seq(-5.5, 1.5, -4.5, 2.5, -3.5, 3.5, -2.5, 4.5), 10.488088481701515),
      (1L, Seq(-0.5, 6.5, 0.5, -5.5, 1.5, -4.5, 2.5, -3.5), 10.677078252031311)))
    val pq = """{"m":2,"k":2,"dim":4,"books":[[[-5.166666666666667,1.8333333333333333],""" +
      """[-1.0,6.0]],[[-4.7,2.3],[1.5,-4.5]]]}"""
    assert(parentRead("codebooks.json", pq)(PqIndex.meta(spark, _)) == ((2, 2, 4)))
    assert(parentRead("codebooks.json", pq)(PqIndex.codebooks(spark, _))
      .map(_.map(_.toSeq).toSeq).toSeq == Seq(
      Seq(Seq(-5.166666666666667, 1.8333333333333333), Seq(-1.0, 6.0)),
      Seq(Seq(-4.7, 2.3), Seq(1.5, -4.5))))
    assert(parentRead("meta.json", """{"version":1,"kind":"lines","sep":"|"}""")(
      LineIndex.meta(spark, _)) == LineIndex.Kind.Lines("|"))
    assert(parentRead("meta.json", """{"version":1,"kind":"windows","size":3}""")(
      LineIndex.meta(spark, _)) == LineIndex.Kind.Windows(3))
    assert(parentRead("meta.json", """{"version":1,"kind":"shingles","size":2}""")(
      LineIndex.meta(spark, _)) == LineIndex.Kind.Shingles(2))
    assert(parentRead("meta.json", """{"minCount":1,"nBigrams":15}""")(
      LmIndex.metaOf(spark, _)) == LmIndex.Meta(1L, 15L, None))
    assert(parentRead("meta.json",
      """{"minCount":1,"nBigrams":15,"version":2,"minCount3":1,"nTrigrams":14}""")(
      LmIndex.metaOf(spark, _)) == LmIndex.Meta(1L, 15L, None, Some(1L), Some(14L)))
    assert(parentRead("meta.json",
      """{"minCount":1,"nBigrams":15,"p25":-0.561994,"p75":-0.423795,""" +
        """"p25_3":-0.277259,"p75_3":-0.265707,"p25_5":-0.375455,"p75_5":-0.231049,""" +
        """"version":3,"minCount3":1,"nTrigrams":14,"minCount4":1,"n4grams":13,""" +
        """"minCount5":1,"n5grams":12}""")(LmIndex.metaOf(spark, _)) ==
      LmIndex.Meta(1L, 15L, Some((-0.561994, -0.423795)), Some(1L), Some(14L),
        Some((-0.277259, -0.265707)), Some(1L), Some(13L), Some(1L), Some(12L),
        Some((-0.375455, -0.231049))))
    assert(parentRead("langs.json", """{"langs":["aa","bb"],"minCount":1}""")(
      LmIndex.langsMeta(spark, _)) == LmIndex.Langs(List("aa", "bb"), 1L))
    assert(parentRead("meta.json", """{"kind":"kmv","k":"16","mode":"portable","salt":"kmv"}""")(
      SketchIndex.params(spark, _, "kmv")) ==
      Map("k" -> "16", "mode" -> "portable", "salt" -> "kmv"))
    assert(parentRead("meta.json", """{"kind":"quantile","k":"8","mode":"default","salt":"qs"}""")(
      SketchIndex.params(spark, _, "quantile")) ==
      Map("k" -> "8", "mode" -> "default", "salt" -> "qs"))
    assert(parentRead("meta.json",
      """{"kind":"cm","d":"3","mode":"portable","salt":"cm","w":"16"}""")(
      SketchIndex.params(spark, _, "cm")) ==
      Map("d" -> "3", "mode" -> "portable", "salt" -> "cm", "w" -> "16"))
    assert(parentRead("provenance.json",
      """{"artifactKind":"minhash-index","datasetId":"corpus.docs",""" +
        """"datasetVersion":"1.0.0","operation":"build","builtAt":1792425560117}""")(
      ArtifactProvenance.read(spark, _)).contains(ArtifactProvenance.Provenance(
      "minhash-index", "corpus.docs", "1.0.0", "build", 1792425560117L)))
  }
}

object ArtifactMetaSpec {
  final case class Sample(n: Long, name: String, xs: List[Double], opt: Option[Int] = None)
}
