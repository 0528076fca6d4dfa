package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def merges(texts: Seq[String], n: Int): Seq[(Int, String, String, Long)] =
    Bpe.trainMerges(texts.toDF("text"), n)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq

  test("learns the classic low/lower/newest/widest merges") {
    // Sennrich et al.'s worked example as a corpus: 5×low, 2×lower,
    // 6×newest, 3×widest. First merges: (e s, 9) from newest+widest,
    // then (es t, 9), then (est </w>, 9), then l o (7 = low+lower)
    val corpus =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val m = merges(Seq(corpus.mkString(" ")), 4)
    assert(m.map(r => (r._2, r._4)) ==
      Seq(("e s", 9L), ("es t", 9L), ("est </w>", 9L), ("l o", 7L)),
      s"merge table: $m")
    assert(m.map(_._3) == Seq("es", "est", "est</w>", "lo"))
  }

  test("ties break lexicographically ascending on the pair string") {
    // "ab" and "cd" each occur once: pairs (a b), (b </w>), (c d),
    // (d </w>) all count 1 — the winner must be the smallest string,
    // "a b"
    val m = merges(Seq("ab cd"), 1)
    assert(m.head._2 == "a b" && m.head._4 == 1L, s"tie-break wrong: $m")
  }

  test("overlapping runs merge left-to-right non-overlapping") {
    // word "aaaa": chars a a a a </w>; pair (a a) counts 3 occurrences
    // (overlap-counted by adjacency); after the merge the word is
    // aa aa </w> — replace consumed pairs greedily left-to-right
    val df = Seq("aaaa").toDF("text")
    val m = merges(Seq("aaaa"), 1)
    assert(m.head._2 == "a a" && m.head._4 == 3L)
    val seg = Bpe.segmentCounts(
      df.withColumn("doc_id", lit(1L)), Seq(("a a", "aa")))
      .as[(Long, Long)].collect().toMap
    // aa aa </w> = 3 units
    assert(seg(1L) == 3L, s"segmented units: $seg")
  }

  test("segmentCounts folds merges in order and sums per document") {
    val docs = Seq((1L, "low lower"), (2L, "newest"), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val learned = Seq(("l o", "lo"), ("lo w", "low"))
    val seg = Bpe.segmentCounts(docs, learned)
      .as[(Long, Long)].collect().toMap
    // doc 1: "low" -> low </w> (2 units); "lower" -> low e r </w> (4)
    // doc 2: "newest" -> 6 chars + </w> = 7 units (no merge applies)
    assert(seg == Map(1L -> 6L, 2L -> 7L), s"counts: $seg")
  }

  test("segmentCounts runs on a stream with frozen merges, matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val learned = Seq(("l o", "lo"), ("lo w", "low"))
    val data = Seq((1L, "low lower"), (2L, "newest"))
    val batch = Bpe.segmentCounts(data.toDF("doc_id", "text"), learned)
      .as[(Long, Long)].collect().toMap
    val mem = MemoryStream[(Long, String)](spark)
    val out = Bpe.segmentCounts(mem.toDF().toDF("doc_id", "text"), learned)
    val q = out.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("bpe_stream")
        .as[(Long, Long)].collect().toMap
      assert(rows == batch, s"stream $rows vs batch $batch")
    } finally q.stop()
  }

  test("segmentTokens runs on a stream with frozen merges: append-mode, matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val learned = Seq(("l o", "lo"), ("lo w", "low"))
    val data = Seq((1L, "low lower"), (2L, "newest"))
    val batch = Bpe.segmentTokens(data.toDF("doc_id", "text"), learned)
      .as[(Long, Seq[String], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val mem = MemoryStream[(Long, String)](spark)
    // stateless projection -> append mode, no aggregation state at all
    val q = Bpe.segmentTokens(mem.toDF().toDF("doc_id", "text"), learned)
      .writeStream.format("memory").queryName("bpe_tok_stream")
      .outputMode("append").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("bpe_tok_stream")
        .as[(Long, Seq[String], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows == batch, s"stream $rows vs batch $batch")
    } finally q.stop()
  }

  test("word-type weighting: repeated words count once per occurrence") {
    // "to to to" vs "to": every pair of the single word type "to"
    // must be weighted by corpus frequency (4), not by word-type
    // count (1); (o </w>) and (t o) tie at 4 and 'o' < 't' wins
    val m = merges(Seq("to to to", "to"), 1)
    assert(m.head._2 == "o </w>" && m.head._4 == 4L, s"weighting wrong: $m")
  }

  /** The per-round Spark SQL trainer, kept as an independent reference:
    * each round sums adjacent-pair counts over the word types
    * (explode/groupBy), picks the (count DESC, pair ASC) winner with a
    * top-1 collect, and rewrites the word types with a literal SQL
    * `replace`. Returns (step, pair, merged, cnt), stopping early when
    * no pair is left. */
  private def referenceMerges(vocab: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    var w = vocab.select(
      concat(trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" </w>")).as("s"),
      col("cnt"))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var drained = false
    while (step <= nMerges && !drained) {
      val top = w.withColumn("u", split(col("s"), " "))
        .filter(size(col("u")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(u) - 1), " +
            "i -> concat(element_at(u, i), ' ', element_at(u, i + 1)))")).as("pair"),
          col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) drained = true
      else {
        val pair = top.head.getString(0)
        val merged = pair.replace(" ", "")
        out += ((step, pair, merged, top.head.getLong(1)))
        w = w.select(replace(col("s"), lit(pair), lit(merged)).as("s"), col("cnt"))
        step += 1
      }
    }
    out.result()
  }

  private def rows(merges: DataFrame): Seq[(Int, String, String, Long)] =
    merges.orderBy(col("step"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private def vocabOf(texts: Seq[String]): DataFrame =
    Bpe.wordVocab(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))

  test("trainMergesLocal equals the distributed trainer, including adversarial vocabs") {
    def check(texts: Seq[String], n: Int, what: String): Seq[(Int, String, String, Long)] = {
      val vocab = vocabOf(texts)
      val ref = referenceMerges(vocab, n)
      val fromVocab = rows(Bpe.trainMergesFromVocab(vocab, n))
      val local = rows(Bpe.trainMergesLocal(vocab, n, maxTypes = 0))
      assert(fromVocab == ref, s"$what: trainer $fromVocab vs reference $ref (texts=$texts)")
      assert(local == ref, s"$what: trainMergesLocal $local vs reference $ref (texts=$texts)")
      ref
    }
    // ordinary corpus
    check(Seq("low lower lowest", "new newer newest", "wide wider"), 12, "ordinary")
    // adversarial: overlapping runs ("a a a" greedy L-to-R) and the
    // cross-unit substring hazard ("ab b" contains "b b") — the driver
    // loop must replicate the stringy SQL replace semantics exactly
    check(Seq("aaa aa aaaa", "ab b bb abb"), 8, "adversarial")
    // non-BMP tie-break: after ("a </w>", 2) merges, the pairs
    // ("� a</w>") and ("😀 a</w>") tie at 1. Spark/DuckDB compare
    // UTF-8 bytes (� = EF BF BD < F0 9F 98 80 = 😀) while Java
    // String '<' compares UTF-16 units (\uD83D < �) — the driver
    // loop must follow the engines' byte order or the chains diverge
    val tie = check(Seq("😀a �a"), 2, "non-BMP tie")
    assert(tie(1)._2 == "� a</w>", s"UTF-8 order must win the tie: $tie")
    // deterministic seeded fuzz across random small vocabs
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val texts = Seq.fill(8)(Seq.fill(1 + rnd.nextInt(5))(
        Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(3)).toChar).mkString).mkString(" "))
      check(texts, 6, s"fuzz trial $trial")
    }
  }

  test("priorMerges resumes training: n then k more equals n + k") {
    val vocab = vocabOf(Seq("low lower lowest", "new newer newest", "wide wider"))
    val (n, k) = (4, 5)
    val all = rows(Bpe.trainMergesFromVocab(vocab, n + k))
    assert(all.size == n + k, s"corpus drained early: $all")
    val prior = all.take(n).map(r => (r._2, r._3))
    val resumed = rows(Bpe.trainMergesFromVocab(vocab, k, prior))
    assert(resumed == all.drop(n), s"resumed $resumed vs ${all.drop(n)}")
  }

  test("a vocabulary that drains before nMerges returns the reference's shorter table") {
    // "ab" and "c" have 3 pairs between them, merged away in 3 steps
    val vocab = vocabOf(Seq("ab ab c"))
    val ref = referenceMerges(vocab, 10)
    assert(ref.size == 3, s"reference: $ref")
    assert(rows(Bpe.trainMergesFromVocab(vocab, 10)) == ref)
    assert(rows(Bpe.trainMergesLocal(vocab, 10, maxTypes = 0)) == ref)
  }

  test("training runs the same Spark jobs for 1 merge as for 16") {
    val docs = Seq((1L, "low lower lowest newest widest"), (2L, "new newer wide wider"))
      .toDF("doc_id", "text")
    // training is eager: every job runs while the merge frame is built
    val (one, jobsOne) = jobsOf(Bpe.trainMerges(docs, 1))
    val (many, jobsMany) = jobsOf(Bpe.trainMerges(docs, 16))
    assert(rows(one).size == 1 && rows(many).size == 16)
    assert(jobsOne == jobsMany, s"1 merge: $jobsOne jobs, 16 merges: $jobsMany jobs")
  }

  test("segmentTokens: ordered sequences, zero shuffle, counts consistent") {
    val docs = Seq((1L, Some("low lower")), (2L, Some("  ")), (3L, Some("newest")),
      (4L, None)).toDF("doc_id", "text")
    // frozen merges: e+s, es+t — "newest" -> n e w est </w>
    val m = Seq(("e s", "es"), ("es t", "est"))
    val out = Bpe.segmentTokens(docs, m).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
    assert(out(0) == ((1L, List("l", "o", "w", "</w>", "l", "o", "w", "e", "r", "</w>"), 10L)),
      s"doc1: ${out(0)}")
    // whitespace-only doc keeps its row with an empty sequence
    assert(out(1) == ((2L, Nil, 0L)), s"doc2: ${out(1)}")
    assert(out(2) == ((3L, List("n", "e", "w", "est", "</w>"), 5L)), s"doc3: ${out(2)}")
    // null text keeps its row with an empty sequence too
    assert(out(3) == ((4L, Nil, 0L)), s"doc4: ${out(3)}")
    // counts agree with segmentCounts on every non-empty doc
    val counts = Bpe.segmentCounts(docs, m).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.filter(_._3 > 0).forall(o => counts(o._1) == o._3))
    // tokenisation stays shuffle-free apart from the size-gated fan-out:
    // the ONLY Exchange allowed is Parallel.fan's RoundRobinPartitioning
    // micro-shuffle (r16); any hash/range exchange is a real regression
    val plan = Bpe.segmentTokens(docs, m).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("RoundRobinPartitioning")) &&
      exchanges.size <= 1, s"unexpected shuffle:\n$plan")
  }

  test("trainMergesLocal maxTypes cap is deterministic and drains gracefully") {
    val docs = Seq((1L, "aa aa aa bb bb c")).toDF("doc_id", "text")
    val vocab = Bpe.wordVocab(docs)
    // cap to the 2 most frequent types: 'aa' (3) and 'bb' (2) survive;
    // merge 1 ties (a a) vs (a </w>) at 3 and '<' sorts below 'a', so
    // the end-marker pair wins lexicographically
    val m = Bpe.trainMergesLocal(vocab, 2, maxTypes = 2)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(m == Seq(("a </w>", 3L), ("a a</w>", 3L)), s"capped: $m")
    // asking for more merges than pairs exist: stops early, no throw
    val tiny = Bpe.trainMergesLocal(
      Seq(("a", 1L)).toDF("word", "cnt"), 10, maxTypes = 0).collect()
    assert(tiny.length <= 10 && tiny.nonEmpty)
  }
}
