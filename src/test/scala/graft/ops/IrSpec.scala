package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PMI collocations + BM25 retrieval. */
class IrSpec extends SparkSpec {
  import spark.implicits._

  test("pmiCollocations: bound pair scores high, frequent-with-frequent ~0") {
    // "new york" always co-occurs; "the cat"/"the dog" mix freely
    val docs = (1 to 20).map { i =>
      val filler = if (i % 2 == 0) "the cat sat" else "the dog ran"
      (i.toLong, s"new york $filler the cat the dog")
    }.toDF("doc_id", "text")
    val bySet = TextOps.pmiCollocations(docs, minCount = 5)
      .select("w1", "w2", "pmi").as[(String, String, Double)].collect()
      .map(r => Set(r._1, r._2) -> r._3).toMap
    // "new york": "new" is only ever followed by "york" — tightly bound
    val ny = bySet(Set("new", "york"))
    assert(ny > 2.0, s"bound pair must score high: $ny")
    // "the cat": "the" is followed by cat/dog both — lower association
    val tc = bySet(Set("the", "cat"))
    assert(tc < ny, s"free pair must score below bound pair: $tc vs $ny")
  }

  test("pmiCollocations: minCount prunes singleton bigrams") {
    val docs = Seq((1L, "alpha beta alpha beta alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs, minCount = 3)
    val pairs = out.select("w1", "w2").as[(String, String)].collect().toSet
    assert(pairs == Set(("alpha", "beta")), s"got $pairs")
  }

  test("bm25Rank: term-matching docs rank ahead; shorter docs beat longer at equal tf") {
    val docs = Seq(
      (1L, "hash join hash join hash"),                  // high tf, short
      (2L, "hash join " + Seq.fill(50)("filler").mkString(" ")), // same terms, long
      (3L, "scan filter merge sort window"),             // no query terms
      (4L, "hash")                                       // one term only
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Rank(docs, Seq("hash", "join"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val ranked = out.map(_._1).toSeq
    assert(!ranked.contains(3L), "doc without query terms must not appear")
    assert(ranked.head == 1L, s"high-tf short doc must rank first: $ranked")
    val score = out.toMap
    assert(score(1L) > score(2L), "length normalisation must discount the long doc")
    // doc 4 (1 token, far under avgdl) legitimately outscores the
    // 52-token doc 2 — BM25's length prior at work; both must appear
    assert(score.keySet == Set(1L, 2L, 4L))
  }

  test("bm25Rank: topK bounds output and ties break by doc_id") {
    val docs = (1 to 30).map(i => (i.toLong, "hash"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25Rank(docs, Seq("hash"), topK = 5)
      .select("doc_id").as[Long].collect().toSeq
    // identical docs -> identical scores -> lowest 5 ids win
    assert(out.sorted == Seq(1L, 2L, 3L, 4L, 5L), s"got $out")
  }

  test("bm25Rank rejects empty or duplicate query terms") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.bm25Rank(docs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextOps.bm25Rank(docs, Seq("Hash", "hash"))
    }
  }

  /** The two-pass BM25 that `bm25Rank` replaced: a token explode filtered
    * to the query terms, a (doc_id, token) tf shuffle, and a doc_id join
    * back to the lengths (which it also cached; caching changes no row).
    * Kept as the reference the one-pass form must reproduce, order
    * included. */
  private def referenceBm25(docs: DataFrame, queryTerms: Seq[String], topK: Int = 20,
                            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lens = docs.select(col("doc_id"),
      TextOps.tokenCount(TextOps.normText(col("text"))).as("_dl"))
    val corpus = lens.agg(count(lit(1)).as("_nd"), sum(col("_dl")).as("_sl"))
      .select(col("_nd"),
        (col("_sl").cast(DoubleType) / col("_nd")).as("_avgdl"))
    val terms = queryTerms.map(t => lit(t.trim.toLowerCase))
    val tf = docs
      .select(col("doc_id"),
        explode(split(TextOps.normText(col("text")), " ")).as("_tok"))
      .filter(col("_tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("_tok")).agg(count(lit(1)).as("_tf"))
    val df9 = tf.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    val idf = df9.crossJoin(broadcast(corpus))
      .select(col("_tok"), col("_nd"), col("_avgdl"),
        round(log((col("_nd").cast(DoubleType) - col("_df") + lit(0.5)) /
          (col("_df") + lit(0.5)) + lit(1.0)), 9).as("_idf"))
    val termScore = tf.join(broadcast(idf), Seq("_tok")).join(lens, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("_dl").cast(DoubleType) / col("_avgdl"))), 9)
          .cast(DecimalType(28, 9)).as("_s"))
    termScore.groupBy(col("doc_id"))
      .agg(round(sum(col("_s")).cast(DoubleType), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** 60 documents over a small vocabulary: tf 0 to 4 per term, lengths 1
    * to 12, and equal (tf, length) pairs, so equal scores, across doc_ids. */
  private def mixedCorpus: DataFrame = {
    val vocab = Seq("hash", "join", "spark", "scan", "sort", "merge", "window")
    (1 to 60).map { i =>
      val n = 1 + (i * 7) % 12
      (i.toLong, (0 until n).map(j => vocab((i * 3 + j * j) % vocab.size)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** `bm25Rank` against the reference: the same rows in the same order. */
  private def assertMatchesReference(docs: DataFrame, terms: Seq[String], topK: Int = 20,
                                     k1: Double = 1.2): Seq[(Long, Double)] = {
    def rows(df: DataFrame) = df.as[(Long, Double)].collect().toSeq
    val got = rows(TextOps.bm25Rank(docs, terms, topK, k1))
    val want = rows(referenceBm25(docs, terms, topK, k1))
    assert(got == want, s"terms $terms: one-pass $got vs reference $want")
    got
  }

  test("bm25Rank equals the two-pass reference on an empty corpus and with no match") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(assertMatchesReference(empty, Seq("hash")).isEmpty)
    assert(assertMatchesReference(mixedCorpus, Seq("absent", "nowhere")).isEmpty)
  }

  test("bm25Rank equals the two-pass reference on NULL, empty and whitespace-only text") {
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "hash join"), (5L, "join"),
      (6L, "spark hash hash")).toDF("doc_id", "text")
    assert(assertMatchesReference(docs, Seq("hash", "join")).map(_._1).toSet ==
      Set(4L, 5L, 6L))
  }

  test("bm25Rank equals the two-pass reference across tabs, newlines and case") {
    val docs = Seq(
      (1L, "hash\tjoin\nhash"), (2L, "  HASH\r\n\tspark  "), (3L, "join\n\n\njoin"),
      (4L, "scan\tsort")).toDF("doc_id", "text")
    assert(assertMatchesReference(docs, Seq("hash", "join", "spark")).size == 3)
  }

  test("bm25Rank equals the two-pass reference for a term in every document and repeated terms") {
    val docs = Seq((1L, "hash"), (2L, "hash hash hash hash"), (3L, "join hash hash"),
      (4L, "hash join join join join join")).toDF("doc_id", "text")
    assert(assertMatchesReference(docs, Seq("hash", "join")).size == 4)
    assert(assertMatchesReference(mixedCorpus, Seq("hash", "sort", "window")).size == 20)
    // k1 = 0 (binary tf): a term a document lacks adds exactly 0, not 0/0
    assert(assertMatchesReference(mixedCorpus, Seq("hash", "merge"), k1 = 0.0).nonEmpty)
  }

  test("bm25Rank equals the two-pass reference for punctuation and regex metacharacters") {
    val docs = Seq((1L, "hash, join."), (2L, "hash hash,"), (3L, "c++ and a.b"),
      (4L, "axb c+ cc+ c++c"), (5L, "a.b a.b c++")).toDF("doc_id", "text")
    val hashes = assertMatchesReference(docs, Seq("hash", "hash,"))
    assert(hashes.map(_._1).toSet == Set(1L, 2L))
    val meta = assertMatchesReference(docs, Seq("c++", "a.b"))
    assert(meta.map(_._1).toSet == Set(3L, 5L), s"metacharacters matched literally: $meta")
  }

  test("bm25Rank equals the two-pass reference when topK exceeds the matches") {
    assert(assertMatchesReference(mixedCorpus, Seq("merge", "spark"), topK = 1000).size < 60)
  }

  test("bm25Rank equals the two-pass reference for 1 and 5 input partitions " +
    "under 1 and 7 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val results = try {
      for (shuffle <- Seq(1, 7); inputs <- Seq(1, 5)) yield {
        spark.conf.set(key, shuffle.toString)
        assertMatchesReference(mixedCorpus.repartition(inputs), Seq("hash", "join", "spark"))
      }
    } finally spark.conf.set(key, saved)
    assert(spark.conf.get(key) == saved)
    assert(results.distinct.size == 1 && results.head.size == 20)
  }

  test("bm25Rank rejects a query term that is empty or holds whitespace") {
    val docs = Seq((1L, "hash join")).toDF("doc_id", "text")
    for (bad <- Seq(Seq("hash join"), Seq("hash", "  "), Seq("a\tb")))
      intercept[IllegalArgumentException](TextOps.bm25Rank(docs, bad))
  }

  test("bm25Rank scores each row on its own: a repeated doc_id is not merged") {
    val dup = Seq((1L, "hash join"), (1L, "hash hash"), (2L, "join scan"))
      .toDF("doc_id", "text")
    val distinct = Seq((1L, "hash join"), (3L, "hash hash"), (2L, "join scan"))
      .toDF("doc_id", "text")
    def scores(df: DataFrame) = TextOps.bm25Rank(df, Seq("hash", "join"))
      .as[(Long, Double)].collect().toSeq
    val byRow = scores(distinct)
    assert(byRow.size == 3)
    assert(scores(dup) == byRow.map { case (id, s) => (if (id == 3L) 1L else id, s) })
  }

  test("bm25Rank builds with no job, runs 5 jobs and leaves no cache behind") {
    val path = tmpDir("bm25_docs") + "/documents.parquet"
    mixedCorpus.coalesce(1).write.parquet(path)
    val docs = spark.read.parquet(path)
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (ranked, built) = jobsOf(TextOps.bm25Rank(docs, Seq("hash", "join", "spark")))
    assert(built == 0, "building bm25Rank must run no Spark job")
    val (_, ran) = jobsOf(ranked.write.format("noop").mode("overwrite").save())
    assert(ran == 5, s"the noop action ran $ran jobs")
    assert(sc.getPersistentRDDs.keys.count(!before(_)) == 0, "bm25Rank persisted an RDD")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "bm25Rank left a CacheManager entry")
  }
}
