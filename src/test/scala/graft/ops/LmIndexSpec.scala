package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LmIndexSpec extends SparkSpec {
  import spark.implicits._

  private def reference = ((1L to 6L).map(i => (i, "the cat sat")) :+
    (7L, "the cat ran home")).toDF("doc_id", "text")

  test("build → score equals the in-memory lmScoreWith; meta records count") {
    val dir = tmpDir("lm_idx")
    LmIndex.build(reference, dir, minCount = 5, numFiles = 2)
    val stats = TextOps.bigramLm(reference, minCount = 5)
    assert(LmIndex.meta(spark, dir) == (5L, stats.count()))

    val arrivals = Seq((100L, "the cat sat"), (101L, "zz unseen junk"),
      (102L, "x")).toDF("doc_id", "text")
    val fromIndex = LmIndex.score(spark, dir, arrivals)
      .as[(Long, Long, Double)].collect().toSet
    val inMemory = TextOps.lmScoreWith(arrivals, stats)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == inMemory)
    // "the cat" 7/7 -> ln 1 = 0; "cat sat" 6/7 -> ln rounds to -0.15415;
    // mean of the two rounds to -0.077075
    assert(fromIndex.contains((100L, 2L, -0.077075)))
  }

  test("vocabulary-sized artifact broadcasts the scoring join; huge cap disables it") {
    val dir = tmpDir("lm_idx_bc")
    LmIndex.build(reference, dir, minCount = 5)
    val arrivals = Seq((100L, "the cat sat")).toDF("doc_id", "text")
    val hinted = LmIndex.score(spark, dir, arrivals)
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-sized stats must broadcast:\n$plan")
    val unhinted = LmIndex.score(spark, dir, arrivals, broadcastMaxRows = 0L)
    val plan2 = unhinted.queryExecution.optimizedPlan.toString
    assert(!plan2.contains("ResolvedHint"), "cap 0 must not hint broadcast")
    // same answers either way
    assert(hinted.as[(Long, Long, Double)].collect().toSet ==
      unhinted.as[(Long, Long, Double)].collect().toSet)
  }

  test("merge folds new docs in exactly: equals a build on the concatenated corpus") {
    val oldDocs = (1L to 6L).map(i => (i, "the cat sat")).toDF("doc_id", "text")
    val newDocs = Seq((7L, "the cat ran home"), (8L, "the cat sat")).toDF("doc_id", "text")
    val dirOld = tmpDir("lm_m_old"); val dirMerged = tmpDir("lm_m_out")
    val dirFull = tmpDir("lm_m_full")
    LmIndex.build(oldDocs, dirOld, minCount = 5)
    LmIndex.merge(spark, dirOld, newDocs, dirMerged)
    LmIndex.build(oldDocs.unionByName(newDocs), dirFull, minCount = 5)
    assert(LmIndex.meta(spark, dirMerged) == LmIndex.meta(spark, dirFull))
    val probes = Seq((100L, "the cat sat"), (101L, "zz junk here")).toDF("doc_id", "text")
    val merged = LmIndex.score(spark, dirMerged, probes)
      .as[(Long, Long, Double)].collect().toSet
    val full = LmIndex.score(spark, dirFull, probes)
      .as[(Long, Long, Double)].collect().toSet
    assert(merged == full)
    // and the merged stats themselves are identical
    assert(LmIndex.load(spark, dirMerged).as[(String, String, Long, Double)]
      .collect().toSet ==
      LmIndex.load(spark, dirFull).as[(String, String, Long, Double)]
        .collect().toSet)
    // in-place merge refused: overwrite would delete the input counts
    // before the lazy union plan reads them (also under path respelling)
    val e = intercept[IllegalArgumentException] {
      LmIndex.merge(spark, dirOld, newDocs, dirOld)
    }
    assert(e.getMessage.contains("in place"))
    intercept[IllegalArgumentException] {
      LmIndex.merge(spark, dirOld, newDocs, s"file:$dirOld")
    }
  }

  test("recorded cuts reproduce perplexityBuckets when self-calibrated; fixed cuts for new data") {
    val corpus = ((1L to 6L).map(i => (i, "the cat sat")) ++ Seq(
      (7L, "the cat sat on the mat"),
      (8L, "zz qq totally unseen words"),
      (9L, "solo"))).toDF("doc_id", "text")
    val dir = tmpDir("lm_idx_cuts")
    LmIndex.build(corpus, dir, minCount = 5)
    assert(LmIndex.cuts(spark, dir).isEmpty)
    assertThrows[IllegalStateException] {
      LmIndex.bucket(spark, dir, corpus)
    }
    LmIndex.recordCuts(spark, dir, corpus)
    assert(LmIndex.cuts(spark, dir).nonEmpty)
    // self-calibrated artifact == the corpus-percentile operator
    val fromIndex = LmIndex.bucket(spark, dir, corpus)
      .as[(Long, Long, Double, String)].collect().toSet
    val direct = TextOps.perplexityBuckets(corpus, minCount = 5)
      .as[(Long, Long, Double, String)].collect().toSet
    assert(fromIndex == direct)
    assert(fromIndex.exists(_._4 == "unscored"))
    // cuts stay FROZEN: bucketing different data does not move them
    val junk = Seq((100L, "aa bb cc dd")).toDF("doc_id", "text")
    val b = LmIndex.bucket(spark, dir, junk)
      .as[(Long, Long, Double, String)].collect().head
    assert(b._4 == "tail" && b._3 == -10.0)
    assert(LmIndex.meta(spark, dir)._1 == 5L, "recordCuts must preserve meta")
  }

  test("artifact feeds a STREAM without retraining (stream-static scoring join)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpDir("lm_idx_stream")
    LmIndex.build(reference, dir, minCount = 5)
    val mem = MemoryStream[(Long, String)](spark)
    val q = LmIndex.score(spark, dir, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lm_idx_stream")
      .outputMode("complete").start()
    try {
      mem.addData((100L, "the cat sat"), (101L, "zz unseen junk"))
      q.processAllAvailable()
      val out = spark.table("lm_idx_stream")
        .as[(Long, Long, Double)].collect().toSet
      assert(out == Set((100L, 2L, -0.077075), (101L, 2L, -10.0)))
    } finally q.stop()
  }

  test("v2 trigram layer: build/score3, merge equals fresh concatenated build, v1 loud") {
    val oldDocs = (1L to 5L).map(i => (i, "the cat sat on mats"))
      .toDF("doc_id", "text")
    val newDocs = Seq((7L, "the cat sat for hours"),
      (8L, "zz unseen junk")).toDF("doc_id", "text")
    val all = oldDocs.unionByName(newDocs)
    val dirOld = tmpDir("lm3_old"); val dirMerged = tmpDir("lm3_out")
    val dirFull = tmpDir("lm3_full")
    LmIndex.buildWithTrigrams(oldDocs, dirOld, minCount = 5, minCount3 = 3)
    LmIndex.merge(spark, dirOld, newDocs, dirMerged)
    LmIndex.buildWithTrigrams(all, dirFull, minCount = 5, minCount3 = 3)
    // both layers' metadata and stats agree merge vs fresh build
    assert(LmIndex.meta(spark, dirMerged) == LmIndex.meta(spark, dirFull))
    assert(LmIndex.meta3(spark, dirMerged) == LmIndex.meta3(spark, dirFull))
    assert(LmIndex.meta3(spark, dirMerged).exists(_._2 > 0),
      "fixture must carry surviving trigrams (non-vacuous)")
    assert(LmIndex.load3(spark, dirMerged)
      .as[(String, String, String, Long, Double)].collect().toSet ==
      LmIndex.load3(spark, dirFull)
        .as[(String, String, String, Long, Double)].collect().toSet)
    assert(LmIndex.load(spark, dirMerged)
      .as[(String, String, Long, Double)].collect().toSet ==
      LmIndex.load(spark, dirFull)
        .as[(String, String, Long, Double)].collect().toSet)
    // score3 against the artifact equals the in-memory backoff scorer
    // over the same reference stats — all three term classes exercised:
    // trigram hit, bigram backoff, unk
    val probes = Seq((100L, "the cat sat on mats"), // trigram hits
      (101L, "hours the cat"),                      // "the cat" bigram backoff
      (102L, "zz qq ww"),                           // unk
      (103L, "x y")).toDF("doc_id", "text")         // sub-trigram → 0 over 0
    val fromIndex = LmIndex.score3(spark, dirMerged, probes)
      .as[(Long, Long, Double)].collect().toSet
    val inMemory = TextOps.lmScore3With(probes,
      TextOps.trigramLm(all, minCount = 3), TextOps.bigramLm(all, minCount = 5))
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == inMemory)
    assert(fromIndex.exists(r => r._1 == 100L && r._3 > -1.0),
      "trigram hits must score near ln(1)")
    val backoff = fromIndex.find(_._1 == 101L).get
    assert(backoff._3 < -0.5 && backoff._3 > -10.0,
      s"bigram backoff must carry the ln(0.4·p2) discount, got $backoff")
    assert(fromIndex.contains((102L, 1L, -10.0)), "unk trigram takes the penalty")
    assert(fromIndex.contains((103L, 0L, 0.0)), "sub-trigram doc is a 0-score row")
    // the v2 scoring joins stay vocabulary-sized broadcasts
    val plan = LmIndex.score3(spark, dirMerged, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-sized v2 stats must broadcast:\n$plan")
    // recordCuts must preserve the trigram metadata it rewrites around
    LmIndex.recordCuts(spark, dirMerged, all)
    assert(LmIndex.meta3(spark, dirMerged) == LmIndex.meta3(spark, dirFull),
      "recordCuts must not drop the v2 layer")
    // v1 artifacts: score keeps working, the trigram entry points are loud
    val dirV1 = tmpDir("lm3_v1")
    LmIndex.build(oldDocs, dirV1, minCount = 5)
    assert(LmIndex.meta3(spark, dirV1).isEmpty)
    val e = intercept[IllegalArgumentException] {
      LmIndex.load3(spark, dirV1)
    }
    assert(e.getMessage.contains("no trigram layer"))
    // and a v1 merge stays v1 (no half-built trigram layer appears)
    val dirV1m = tmpDir("lm3_v1m")
    LmIndex.merge(spark, dirV1, newDocs, dirV1m)
    assert(LmIndex.meta3(spark, dirV1m).isEmpty)
    assert(LmIndex.score(spark, dirV1m, probes).count() == 4)
  }

  test("v3 order-5 layers: build/score5, merge equals fresh concatenated build, pre-v3 loud") {
    val oldDocs = (1L to 5L).map(i => (i, "the cat sat on mats"))
      .toDF("doc_id", "text")
    val newDocs = Seq((7L, "the cat sat on rugs today"),
      (8L, "zz unseen junk")).toDF("doc_id", "text")
    val all = oldDocs.unionByName(newDocs)
    val dirOld = tmpDir("lm5_old"); val dirMerged = tmpDir("lm5_out")
    val dirFull = tmpDir("lm5_full")
    LmIndex.buildWithOrders(oldDocs, dirOld)
    LmIndex.merge(spark, dirOld, newDocs, dirMerged)
    LmIndex.buildWithOrders(all, dirFull)
    // every layer's metadata and stats agree merge vs fresh build
    assert(LmIndex.meta(spark, dirMerged) == LmIndex.meta(spark, dirFull))
    assert(LmIndex.meta3(spark, dirMerged) == LmIndex.meta3(spark, dirFull))
    assert(LmIndex.meta5(spark, dirMerged) == LmIndex.meta5(spark, dirFull))
    assert(LmIndex.meta5(spark, dirMerged).exists(_._4 > 0),
      "fixture must carry surviving 5-grams (non-vacuous)")
    for (k <- Seq(4, 5)) {
      def rows(dir: String) = (if (k == 4) LmIndex.load4(spark, dir)
        else LmIndex.load5(spark, dir)).collect()
        .map(_.toSeq).toSet
      assert(rows(dirMerged) == rows(dirFull), s"order-$k stats must agree")
    }
    // score5 against the artifact equals the self-scored operator over
    // the same corpus at the same prunes — every term class exercised:
    // 5-gram hit, 4/3/2-gram backoff hops, unk, sub-5-gram
    val probes = Seq((100L, "the cat sat on mats"), // 5-gram hit (p5 = 5/6)
      (101L, "big the cat sat on"),                 // 4-gram hop: α·1.0
      (102L, "aa bb cat sat on"),                   // 3-gram hop: α²·1.0
      (103L, "aa bb cc sat on"),                    // 2-gram hop: α³·1.0
      (104L, "zz qq ww yy xx"),                     // unk
      (105L, "x y z w")).toDF("doc_id", "text")     // sub-5-gram → 0 over 0
    val fromIndex = LmIndex.score5(spark, dirMerged, probes)
      .as[(Long, Long, Double)].collect().toSet
    val inMemory = TextOps.lmScore5With(probes,
      LmIndex.load5(spark, dirFull), LmIndex.load4(spark, dirFull),
      LmIndex.load3(spark, dirFull), LmIndex.load(spark, dirFull))
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == inMemory)
    def r9ln(x: Double) = math.round(math.log(x) * 1e9) / 1e9
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(fromIndex.contains((100L, 1L, r6(r9ln(5.0 / 6)))),
      "the surviving 5-gram must score ln(5/6)")
    assert(fromIndex.contains((101L, 1L, r6(r9ln(0.4)))),
      "one backoff hop on a p=1 4-gram must score exactly ln(α·1)")
    assert(fromIndex.contains((102L, 1L, r6(r9ln(0.4 * (0.4 * 1.0))))),
      "two hops must compound the discount (α·(α·p3))")
    assert(fromIndex.contains((103L, 1L, r6(r9ln(0.4 * (0.4 * (0.4 * 1.0)))))),
      "three hops must reach the bigram floor (α·(α·(α·p2)))")
    assert(fromIndex.contains((104L, 1L, -10.0)), "unk takes the penalty")
    assert(fromIndex.contains((105L, 0L, 0.0)), "sub-5-gram doc is a 0-score row")
    // vocab-sized v3 layers broadcast; the cap-0 path stays unhinted
    val plan = LmIndex.score5(spark, dirMerged, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-sized v3 stats must broadcast:\n$plan")
    // pre-v3 artifacts: the order-5 entry points are loud, merge stays v2
    val dirV2 = tmpDir("lm5_v2")
    LmIndex.buildWithTrigrams(oldDocs, dirV2, minCount = 5, minCount3 = 3)
    assert(LmIndex.meta5(spark, dirV2).isEmpty)
    val e = intercept[IllegalArgumentException] { LmIndex.load5(spark, dirV2) }
    assert(e.getMessage.contains("no order-5 layer"))
    val dirV2m = tmpDir("lm5_v2m")
    LmIndex.merge(spark, dirV2, newDocs, dirV2m)
    assert(LmIndex.meta5(spark, dirV2m).isEmpty &&
      LmIndex.meta3(spark, dirV2m).nonEmpty,
      "a v2 merge must stay exactly v2")
  }

  test("meta emits a layer's keys iff the layer exists (no phantom zero-valued layers)") {
    def metaText(dir: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "meta.json")),
      "UTF-8")
    val v1 = tmpDir("lm_meta_v1"); val v2 = tmpDir("lm_meta_v2")
    val v3 = tmpDir("lm_meta_v3")
    LmIndex.build(reference, v1, minCount = 5)
    LmIndex.buildWithTrigrams(reference, v2, minCount = 5, minCount3 = 3)
    LmIndex.buildWithOrders(reference, v3)
    assert(!metaText(v1).contains("version") && !metaText(v1).contains("minCount3"))
    assert(metaText(v2).contains("\"version\":2") &&
      metaText(v2).contains("minCount3") && !metaText(v2).contains("minCount4"),
      "a v2 artifact must not carry zero-valued order-4/5 keys")
    assert(metaText(v3).contains("\"version\":3") &&
      metaText(v3).contains("minCount4") && metaText(v3).contains("minCount5"))
  }

  test("meta.json of every format version, built, calibrated or merged, is pinned byte for byte") {
    def metaText(dir: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "meta.json")),
      "UTF-8")
    val corpus = ((1L to 5L).map(i => (i, "the cat sat on mats")) ++ Seq(
      (7L, "the cat sat on mats for hours and hours on end"),
      (8L, "the dog sat on logs for hours"),
      (9L, "x y"))).toDF("doc_id", "text")
    val v1 = tmpDir("lm_bytes_v1"); val v2 = tmpDir("lm_bytes_v2")
    val v3 = tmpDir("lm_bytes_v3"); val v3m = tmpDir("lm_bytes_v3m")
    LmIndex.build(corpus, v1, minCount = 2)
    LmIndex.recordCuts(spark, v1, corpus)
    LmIndex.buildWithTrigrams(corpus, v2, minCount = 2, minCount3 = 2)
    LmIndex.recordCuts3(spark, v2, corpus)
    LmIndex.buildWithOrders(corpus, v3)
    LmIndex.recordCuts(spark, v3, corpus)
    LmIndex.recordCuts3(spark, v3, corpus)
    LmIndex.recordCuts5(spark, v3, corpus)
    LmIndex.merge(spark, v3, corpus.filter(col("doc_id") > 6), v3m)
    assert(Seq(v1, v2, v3, v3m).map(metaText) == Seq(
      """{"minCount":2,"nBigrams":5,"p25":-5.449804,"p75":-0.110458}""",
      """{"minCount":2,"nBigrams":5,"p25_3":-2.862939,"p75_3":-0.051384,""" +
        """"version":2,"minCount3":2,"nTrigrams":3}""",
      """{"minCount":5,"nBigrams":4,"p25":-6.616471,"p75":-0.110458,""" +
        """"p25_3":-3.36759,"p75_3":-0.051384,"p25_5":-4.285715,"p75_5":0.0,""" +
        """"version":3,"minCount3":3,"nTrigrams":3,"minCount4":2,"n4grams":2,""" +
        """"minCount5":2,"n5grams":1}""",
      // a merge keeps the layers and prunes and drops every recorded cut
      """{"minCount":5,"nBigrams":4,"version":3,"minCount3":3,"nTrigrams":3,""" +
        """"minCount4":2,"n4grams":12,"minCount5":2,"n5grams":10}"""))
  }

  test("a future-version artifact is rejected loudly, never read under v3 semantics") {
    val dir = tmpDir("lm_v9")
    LmIndex.build(reference, dir, minCount = 5)
    val metaPath = java.nio.file.Paths.get(dir, "meta.json")
    val json = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    java.nio.file.Files.write(metaPath,
      json.replaceFirst("\\{", """{"version":9,""").getBytes("UTF-8"))
    // drop the local-FS checksum sidecar the out-of-band edit invalidated
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".meta.json.crc"))
    val e = intercept[IllegalArgumentException] { LmIndex.meta(spark, dir) }
    assert(e.getMessage.contains("v9") && e.getMessage.contains("v3"))
  }

  test("order-5 cuts: recordCuts5/bucket5 freeze the distribution; all three cut pairs coexist") {
    val corpus = ((1L to 5L).map(i => (i, "the cat sat on mats")) ++ Seq(
      (7L, "the cat sat on mats for hours and hours on end"),
      (8L, "zz qq totally unseen words here today friend"),
      (9L, "x y"))).toDF("doc_id", "text")
    val dir = tmpDir("lm5_cuts")
    LmIndex.buildWithOrders(corpus, dir)
    intercept[IllegalStateException] { LmIndex.bucket5(spark, dir, corpus) }
    LmIndex.recordCuts5(spark, dir, corpus)
    val (p25, p75) = LmIndex.cuts5(spark, dir).get
    val scored = LmIndex.score5(spark, dir, corpus)
      .as[(Long, Long, Double)].collect()
    val want = scored.map { case (id, ng, s) =>
      (id, if (ng == 0) "unscored"
      else if (s >= p75) "head" else if (s >= p25) "middle" else "tail")
    }.toSet
    val got = LmIndex.bucket5(spark, dir, corpus)
      .select("doc_id", "bucket").as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got.exists(_._2 == "unscored") && got.exists(_._2 == "tail"),
      "non-vacuous: the fixture spans bucket classes")
    // self-calibrated artifact == the batch operator, row for row
    val direct = TextOps.perplexityBuckets5(corpus)
      .as[(Long, Long, Double, String)].collect().toSet
    assert(LmIndex.bucket5(spark, dir, corpus)
      .as[(Long, Long, Double, String)].collect().toSet == direct)
    // cuts frozen for new data; the other two pairs survive recording
    val junk = Seq((100L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    val b = LmIndex.bucket5(spark, dir, junk)
      .as[(Long, Long, Double, String)].collect().head
    assert(b._4 == "tail" && b._3 == -10.0)
    LmIndex.recordCuts(spark, dir, corpus)
    LmIndex.recordCuts3(spark, dir, corpus)
    assert(LmIndex.cuts5(spark, dir).contains((p25, p75)),
      "recording lower-order cuts must preserve the order-5 pair")
    assert(LmIndex.cuts(spark, dir).nonEmpty && LmIndex.cuts3(spark, dir).nonEmpty)
    LmIndex.recordCuts5(spark, dir, corpus)
    assert(LmIndex.cuts(spark, dir).nonEmpty && LmIndex.cuts3(spark, dir).nonEmpty,
      "recording the order-5 cuts must preserve the other pairs")
    // below v3 the order-5 calibration is loud
    val dirV2 = tmpDir("lm5_cuts_v2")
    LmIndex.buildWithTrigrams(corpus, dirV2, minCount = 5, minCount3 = 3)
    intercept[IllegalArgumentException] {
      LmIndex.recordCuts5(spark, dirV2, corpus)
    }
  }

  test("order-3 cuts: recordCuts3/bucket3 freeze the backoff distribution; both cut pairs coexist") {
    val corpus = ((1L to 5L).map(i => (i, "the cat sat on mats")) ++ Seq(
      (7L, "the cat sat for hours and hours on end"),
      (8L, "zz qq totally unseen words here"),
      (9L, "x"))).toDF("doc_id", "text")
    val dir = tmpDir("lm3_cuts")
    LmIndex.buildWithTrigrams(corpus, dir, minCount = 5, minCount3 = 3)
    LmIndex.recordCuts3(spark, dir, corpus)
    val (p25, p75) = LmIndex.cuts3(spark, dir).get
    // self-calibrated bucketing matches quartiles computed directly on
    // the same score frame
    val scored = LmIndex.score3(spark, dir, corpus)
      .as[(Long, Long, Double)].collect()
    val want = scored.map { case (id, nt, s) =>
      (id, if (nt == 0) "unscored"
      else if (s >= p75) "head" else if (s >= p25) "middle" else "tail")
    }.toSet
    val got = LmIndex.bucket3(spark, dir, corpus)
      .select("doc_id", "bucket").as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got.exists(_._2 == "unscored") && got.exists(_._2 == "tail"),
      "non-vacuous: the fixture spans bucket classes")
    // the perplexityBuckets precedent at order 3: a self-calibrated
    // artifact reproduces the batch operator row for row
    val direct = TextOps.perplexityBuckets3(corpus, minCountTri = 3,
      minCountBi = 5).as[(Long, Long, Double, String)].collect().toSet
    assert(LmIndex.bucket3(spark, dir, corpus)
      .as[(Long, Long, Double, String)].collect().toSet == direct)
    // cuts FROZEN for new data, and the order-2 pair is untouched
    val junk = Seq((100L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val b = LmIndex.bucket3(spark, dir, junk)
      .as[(Long, Long, Double, String)].collect().head
    assert(b._4 == "tail" && b._3 == -10.0)
    LmIndex.recordCuts(spark, dir, corpus)
    assert(LmIndex.cuts3(spark, dir).contains((p25, p75)),
      "recording the order-2 cuts must preserve the order-3 pair")
    assert(LmIndex.cuts(spark, dir).nonEmpty)
    LmIndex.recordCuts3(spark, dir, corpus)
    assert(LmIndex.cuts(spark, dir).nonEmpty,
      "recording the order-3 cuts must preserve the order-2 pair")
    // bucket3 without recorded cuts, and on a v1 artifact, are loud
    val dirNoCuts = tmpDir("lm3_nocuts")
    LmIndex.buildWithTrigrams(corpus, dirNoCuts, minCount = 5, minCount3 = 3)
    intercept[IllegalStateException] {
      LmIndex.bucket3(spark, dirNoCuts, corpus)
    }
    val dirV1 = tmpDir("lm3_cuts_v1")
    LmIndex.build(corpus, dirV1, minCount = 5)
    intercept[IllegalArgumentException] {
      LmIndex.recordCuts3(spark, dirV1, corpus)
    }
  }

  // two languages with disjoint phrase distributions: a doc scored under
  // the WRONG language's model reads all-unk, so any mis-dispatch is
  // loudly visible in the scores
  private def perLangDocs =
    ((1L to 6L).map(i => (i, "the cat sat on mats", "aa")) ++
      (11L to 16L).map(i => (i, "dogs run fast at dawn", "bb")))
      .toDF("doc_id", "text", "lang")

  test("buildPerLang/scoreByLang ≡ one per-slice build+score per language") {
    val dir = tmpDir("lm_perlang")
    LmIndex.buildPerLang(perLangDocs, dir, langCol = "lang")
    assert(LmIndex.langs(spark, dir) == Seq("aa", "bb"))
    // each sub-dir is a full standalone artifact
    assert(LmIndex.meta(spark, s"$dir/lang=aa")._2 > 0)
    val dispatched = LmIndex.scoreByLang(spark, dir, perLangDocs,
      langCol = "lang").as[(Long, String, Long, Double)].collect().toSet
    val perSlice = Seq("aa", "bb").map { l =>
      val slice = perLangDocs.filter(col("lang") === l)
      val d2 = tmpDir(s"lm_perlang_$l")
      LmIndex.build(slice.select(col("doc_id"), col("text")), d2)
      LmIndex.score(spark, d2, slice)
        .select(col("doc_id"), lit(l).as("lang"), col("n_bigrams"),
          col("avg_logp"))
    }.reduce(_.unionByName(_)).as[(Long, String, Long, Double)]
      .collect().toSet
    assert(dispatched == perSlice,
      "lang-keyed dispatch must equal per-slice scoring exactly")
    // the dispatch is non-vacuous: in-language docs score above unk
    assert(dispatched.forall(_._4 > -10.0))
  }

  test("scoreByLang: unmodeled and null languages score all-unk, never drop") {
    val dir = tmpDir("lm_perlang_u")
    LmIndex.buildPerLang(perLangDocs, dir, langCol = "lang")
    val odd = Seq((100L, "the cat sat on mats", "zz"),
      (101L, "the cat sat on mats", null.asInstanceOf[String]),
      (102L, "x", "aa")).toDF("doc_id", "text", "lang")
    val got = LmIndex.scoreByLang(spark, dir, odd, langCol = "lang")
      .as[(Long, String, Long, Double)].collect().toSet
    // 100/101 carry bigrams but no model -> every term unk; 102 has no
    // bigrams -> the (0, 0.0) batch row, not a dropped doc
    assert(got == Set((100L, "zz", 4L, -10.0), (101L, null, 4L, -10.0),
      (102L, "aa", 0L, 0.0)))
  }

  test("mergePerLang ≡ a fresh buildPerLang on the concatenated corpus") {
    val base = tmpDir("lm_perlang_m")
    // the new corpus carries an existing language (aa), a language NEW
    // to the family (cc), and leaves bb untouched — all three merge
    // classes in one fixture
    val newDocs = ((21L to 26L).map(i => (i, "the cat sat on mats", "aa")) ++
      (31L to 36L).map(i => (i, "elephants march slowly home", "cc")))
      .toDF("doc_id", "text", "lang")
    LmIndex.buildPerLang(perLangDocs, s"$base/a", langCol = "lang")
    LmIndex.mergePerLang(spark, s"$base/a", newDocs, s"$base/merged",
      langCol = "lang")
    LmIndex.buildPerLang(perLangDocs.unionByName(newDocs), s"$base/fresh",
      langCol = "lang")
    assert(LmIndex.langs(spark, s"$base/merged") == Seq("aa", "bb", "cc"))
    assert(LmIndex.langs(spark, s"$base/merged") ==
      LmIndex.langs(spark, s"$base/fresh"))
    for (l <- Seq("aa", "bb", "cc")) {
      assert(LmIndex.meta(spark, s"$base/merged/lang=$l") ==
        LmIndex.meta(spark, s"$base/fresh/lang=$l"), s"meta for $l")
      assert(spark.read.parquet(s"$base/merged/lang=$l/counts")
        .as[(String, String, Long)].collect().toSet ==
        spark.read.parquet(s"$base/fresh/lang=$l/counts")
          .as[(String, String, Long)].collect().toSet, s"counts for $l")
    }
    // dispatch over the merged family ≡ over the fresh family
    val all = perLangDocs.unionByName(newDocs)
    assert(LmIndex.scoreByLang(spark, s"$base/merged", all, langCol = "lang")
      .as[(Long, String, Long, Double)].collect().toSet ==
      LmIndex.scoreByLang(spark, s"$base/fresh", all, langCol = "lang")
        .as[(Long, String, Long, Double)].collect().toSet)
    // in-place merge is refused
    intercept[IllegalArgumentException](
      LmIndex.mergePerLang(spark, s"$base/a", newDocs, s"$base/a",
        langCol = "lang"))
  }

  test("statsFromCountsExact: .5e-6 probability boundaries round half away from zero") {
    // 27/640 = 0.0421875 exactly — the boundary class that split the
    // engines at sf0.1 (640 = 2^7·5 terminates at 7 decimals): the
    // micro-integer path must round half UP deterministically
    val counts = Seq(("the", "spark", 27L), ("the", "rest", 613L))
      .toDF("w1", "w2", "n")
    val ps = TextOps.statsFromCountsExact(counts, minCount = 5)
      .select(col("w2"), col("p_cond")).as[(String, Double)].collect().toMap
    assert(ps("spark") == 0.042188, s"27/640 must round half UP: $ps")
    assert(ps("rest") == 0.957813, s"613/640 = 0.9578125 rounds UP: $ps")
  }

  test("buildPerLang refuses path-unsafe language tokens") {
    val dir = tmpDir("lm_perlang_bad")
    val bad = Seq((1L, "the cat sat", "a/b")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException](
      LmIndex.buildPerLang(bad, dir, langCol = "lang"))
    assert(e.getMessage.contains("path-safe"))
  }

  test("scoreByLang dispatches a STREAM (single stream-static join + one aggregation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpDir("lm_perlang_s")
    LmIndex.buildPerLang(perLangDocs, dir, langCol = "lang")
    val rows = Seq((100L, "the cat sat", "aa"), (101L, "the cat sat", "bb"),
      (102L, "dogs run fast", "bb"))
    val batch = LmIndex.scoreByLang(spark, dir,
      rows.toDF("doc_id", "text", "lang"), langCol = "lang")
      .as[(Long, String, Long, Double)].collect().toSet
    val mem = MemoryStream[(Long, String, String)](spark)
    val q = LmIndex.scoreByLang(spark, dir,
      mem.toDF().toDF("doc_id", "text", "lang"), langCol = "lang")
      .writeStream.format("memory").queryName("lm_perlang_stream")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("lm_perlang_stream")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch, "streaming dispatch ≡ batch dispatch")
      // the same text scores DIFFERENTLY under each language's model —
      // the dispatch is doing real per-language selection
      val by = streamed.map(t => (t._1, t._4)).toMap
      assert(by(100L) > -10.0 && by(101L) == -10.0)
    } finally q.stop()
  }
}
