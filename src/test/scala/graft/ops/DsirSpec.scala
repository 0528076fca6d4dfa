package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  // target domain: cat sentences; background: dog sentences
  private def corpus = (
    (1L to 4L).map(i => (i, "the cat sat", "tgt")) ++
    (11L to 14L).map(i => (i, "dogs run very fast", "bg")) :+
    ((21L, "the cat sat", "bg")) :+   // target-looking doc in the background
    ((22L, "solo", "bg"))             // sub-bigram
  ).toDF("doc_id", "text", "source")

  test("target-like docs score positive log_ratio, background negative, sub-bigram zero") {
    val target = TextOps.bigramLm(corpus.filter(col("source") === "tgt"), minCount = 2)
    val raw = TextOps.bigramLm(corpus, minCount = 2)
    val out = TextOps.dsirScore(corpus, target, raw)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // "the cat"/"cat sat" have p=1 under the target model; under raw they
    // compete with nothing (disjoint vocab) so p=1 too -> ratio 0... but
    // dog bigrams are UNKNOWN to the target (-10 each) and known to raw
    val catDoc = out(21L)
    val dogDoc = out(11L)
    assert(catDoc._5 == 0.0 && catDoc._3 == 0.0,
      s"cat doc reads like the target and like the corpus: $catDoc")
    assert(dogDoc._5 < 0, s"dog doc must score below the target model: $dogDoc")
    assert(dogDoc._3 == -10.0, "all dog bigrams unknown to the target model")
    assert(out(22L) == ((22L, 0L, 0.0, 0.0, 0.0)), "sub-bigram doc zeros")
    // log_ratio is exactly the difference of the two means
    out.values.foreach { r =>
      assert(math.abs(r._5 - BigDecimal(r._3 - r._4)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }

  test("dsirModels equals two independent bigramLm trainings (one tokenisation)") {
    val tgtPred = org.apache.spark.sql.functions.col("source") === "tgt"
    val (tgt, raw) = TextOps.dsirModels(corpus, tgtPred,
      minCountTarget = 2, minCountRaw = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Double)].collect().toSet
    assert(rows(tgt) == rows(TextOps.bigramLm(corpus.filter(tgtPred), minCount = 2)))
    assert(rows(raw) == rows(TextOps.bigramLm(corpus, minCount = 2)))
  }

  test("trainNaiveBayes separates target-like from background docs via scoreLinear") {
    val train = (
      (1L to 20L).map(i => (i, "alpha beta gamma delta epsilon", true)) ++
      (21L to 40L).map(i => (i, "zeta eta theta iota kappa", false))
    ).toDF("doc_id", "text", "is_target")
    val (w, bias) = TextOps.trainNaiveBayes(train,
      org.apache.spark.sql.functions.col("is_target"), buckets = 64)
    assert(w.size == 64)
    assert(bias == 0.0, "balanced classes -> zero prior")
    val scored = TextOps.scoreLinear(
      Seq((100L, "alpha beta gamma"), (101L, "zeta eta theta"))
        .toDF("doc_id", "text"), w, bias)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(scored(100L) > 0, s"target-vocab doc must score positive: $scored")
    assert(scored(101L) < 0, s"background-vocab doc must score negative: $scored")
    // training is deterministic: a re-run yields identical weights
    val (w2, b2) = TextOps.trainNaiveBayes(train,
      org.apache.spark.sql.functions.col("is_target"), buckets = 64)
    assert(w2 == w && b2 == bias)
    // one-class corpora are rejected, not silently degenerate
    assertThrows[IllegalArgumentException] {
      TextOps.trainNaiveBayes(train.filter(org.apache.spark.sql.functions.col("is_target")),
        org.apache.spark.sql.functions.col("is_target"))
    }
  }

  test("dsirScore streams with the lmScoreWith contract (sub-bigram docs absent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val target = TextOps.bigramLm(corpus.filter(col("source") === "tgt"), minCount = 2)
    val raw = TextOps.bigramLm(corpus, minCount = 2)
    val mem = MemoryStream[(Long, String)](spark)
    val q = TextOps.dsirScore(mem.toDF().toDF("doc_id", "text"), target, raw)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("complete").start()
    try {
      mem.addData((21L, "the cat sat"), (11L, "dogs run very fast"), (22L, "solo"))
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream")
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      val batch = TextOps.dsirScore(
        Seq((21L, "the cat sat"), (11L, "dogs run very fast"), (22L, "solo"))
          .toDF("doc_id", "text"), target, raw)
        .filter(col("n_bigrams") > 0)
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      assert(streamed == batch)
      assert(!streamed.exists(_._1 == 22L))
    } finally q.stop()
  }

  test("dsirModels3's four models equal stats over separately counted target and raw corpora") {
    val tgtPred = col("source") === "tgt"
    val (tt, tb, rt, rb) = TextOps.dsirModels3(corpus, tgtPred)
    def stats(docs: DataFrame, k: Int, minCount: Long) =
      TextOps.ngramStatsFromCounts(TextOps.ngramCounts(docs, Seq(k)), k, minCount)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val target = corpus.filter(tgtPred)
    // the operator defaults: target prunes 2/2, raw prunes 3/5
    assert(rows(tt) == rows(stats(target, 3, 2)))
    assert(rows(tb) == rows(stats(target, 2, 2)))
    assert(rows(rt) == rows(stats(corpus, 3, 3)))
    assert(rows(rb) == rows(stats(corpus, 2, 5)))
    assert(Seq(tt, tb, rt, rb).forall(_.count() > 0), "every model must carry rows")
  }

  test("dsirScore3 streams: batch rows for every document with at least 3 tokens") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (tt, tb, rt, rb) = TextOps.dsirModels3(corpus, col("source") === "tgt")
    val probes = Seq((21L, "the cat sat"), (11L, "dogs run very fast"),
      (23L, "a the cat"), // trigram unknown to both sides: the bigram hop
      (24L, "the cat"), (22L, "solo")) // sub-trigram: absent from the stream
    val mem = MemoryStream[(Long, String)](spark)
    val q = TextOps.dsirScore3(mem.toDF().toDF("doc_id", "text"), tt, tb, rt, rb)
      .writeStream.format("memory").queryName("dsir3_stream")
      .outputMode("complete").start()
    try {
      mem.addData(probes: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir3_stream")
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      val batch = TextOps.dsirScore3(probes.toDF("doc_id", "text"), tt, tb, rt, rb)
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      assert(streamed == batch.filter(_._2 >= 1))
      assert(streamed.map(_._1) == Set(21L, 11L, 23L))
      assert(batch.filter(_._2 == 0).map(_._1) == Set(24L, 22L))
    } finally q.stop()
  }
}
