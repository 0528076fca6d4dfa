package graft.ops

import graft.SparkSpec
import java.nio.file.Files

class BpeIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("bpe_index").toString

  private val corpusA = Seq(
    (1L, "low low low lower"), (2L, "newest newest widest"))
  private val corpusB = Seq(
    (3L, "newest newest newest lowest"), (4L, "low wide wide"))

  private def mergeTable(docs: Seq[(Long, String)], n: Int): Seq[(Int, String, String, Long)] =
    Bpe.trainMerges(docs.toDF("doc_id", "text"), n)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq

  test("build persists the trained merges and vocabulary metadata") {
    val dir = tmp()
    BpeIndex.build(corpusA.toDF("doc_id", "text"), dir, nMerges = 3)
    val stored = spark.read.parquet(s"$dir/merges")
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(stored == mergeTable(corpusA, 3))
    val m = BpeIndex.readMeta(spark, dir)
    assert(m.nMerges == 3 && m.nWordTypes == 4) // low lower newest widest
    assert(BpeIndex.loadMerges(spark, dir) == stored.map(r => (r._2, r._3)))
  }

  test("merge folds a new corpus exactly: equals build on the concatenation") {
    val a = tmp(); val ab = tmp(); val direct = tmp()
    BpeIndex.build(corpusA.toDF("doc_id", "text"), a, nMerges = 4)
    BpeIndex.merge(spark, a, corpusB.toDF("doc_id", "text"), ab)
    BpeIndex.build((corpusA ++ corpusB).toDF("doc_id", "text"), direct, nMerges = 4)
    val merged = spark.read.parquet(s"$ab/merges")
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    val full = spark.read.parquet(s"$direct/merges")
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(merged == full, s"incremental $merged vs direct $full")
    // vocabulary counts summed exactly
    val v = spark.read.parquet(s"$ab/vocab").as[(String, Long)].collect().toMap
    assert(v("newest") == 5L && v("low") == 4L, s"vocab: $v")
  }

  test("extend continues training: extend(n, k) == build(n + k)") {
    val short = tmp(); val extended = tmp(); val direct = tmp()
    BpeIndex.build(corpusA.toDF("doc_id", "text"), short, nMerges = 2)
    BpeIndex.extend(spark, short, extended, extraMerges = 2)
    BpeIndex.build(corpusA.toDF("doc_id", "text"), direct, nMerges = 4)
    val ext = spark.read.parquet(s"$extended/merges")
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    val full = spark.read.parquet(s"$direct/merges")
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(ext == full, s"extended $ext vs direct $full")
    assert(BpeIndex.readMeta(spark, extended).nMerges == 4)
  }

  test("segmentCounts through the artifact matches the direct operator") {
    val dir = tmp()
    val docs = corpusA.toDF("doc_id", "text")
    BpeIndex.build(docs, dir, nMerges = 3)
    val viaIndex = BpeIndex.segmentCounts(spark, dir, docs)
      .as[(Long, Long)].collect().toMap
    val direct = Bpe.segmentCounts(docs, BpeIndex.loadMerges(spark, dir))
      .as[(Long, Long)].collect().toMap
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("segmentTokens through the artifact: ordered join equals the counts") {
    val dir = tmp()
    val docs = corpusA.toDF("doc_id", "text")
    BpeIndex.build(docs, dir, nMerges = 3)
    val toks = BpeIndex.segmentTokens(spark, dir, docs)
      .select($"doc_id", $"tokens", $"n_tokens")
      .as[(Long, Seq[String], Long)].collect().toSeq
    val counts = BpeIndex.segmentCounts(spark, dir, docs).as[(Long, Long)].collect().toMap
    assert(toks.nonEmpty && toks.forall { case (id, ts, n) =>
      ts.length.toLong == n && counts(id) == n })
    // the sequence re-joins to the folded text: no token is lost or reordered
    val m = BpeIndex.loadMerges(spark, dir)
    val folded = { (w: String) =>
      m.foldLeft(w.toSeq.mkString(" ") + " </w>") { case (s, (p, g)) => s.replace(p, g) } }
    for ((id, ts, _) <- toks) {
      val text = corpusA.toMap.apply(id)
      val expect = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(folded).mkString(" ")
      assert(ts.mkString(" ") == expect, s"doc $id: ${ts.mkString(" ")} vs $expect")
    }
  }

  test("in-place merge is rejected before any write") {
    val dir = tmp()
    BpeIndex.build(corpusA.toDF("doc_id", "text"), dir, nMerges = 2)
    intercept[IllegalArgumentException] {
      BpeIndex.merge(spark, dir, corpusB.toDF("doc_id", "text"), dir)
    }
    // artifact untouched
    assert(BpeIndex.loadMerges(spark, dir).size == 2)
  }

  test("readMeta reads meta.json on the driver: no Spark job") {
    val dir = tmp()
    BpeIndex.build(corpusA.toDF("doc_id", "text"), dir, nMerges = 3)
    val (m, jobs) = jobsOf(BpeIndex.readMeta(spark, dir))
    assert(m == BpeIndex.Meta(3, 4L))
    assert(jobs == 0)
  }
}
