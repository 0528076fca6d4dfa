package graft

import org.apache.spark.sql.SparkSession

/** Banded 1x/10x scale gate over the most expensive headline queries —
  * the r11 verdict's task 8: a superlinear-in-sf regression can hide
  * behind a flat sf0.1 number (fixed overheads dominate short queries),
  * but it cannot hide from the 10x/1x growth RATIO on a fixed-core box.
  * Run with `Test/runMain graft.ScaleBudget` (builds/reuses the
  * [[ScaleEvidence]] replica at /tmp/graft_scale_x10); prints one JSON
  * line (`{"metric":"scale10", "queries":{q:{t1,t10,ratio,band}},...}`)
  * and exits nonzero if any ratio breaches its band.
  *
  * Bands are measured r11 ratios with headroom (x1.5, floor +2): the
  * gate is SOFT in calibration (harness noise moves both columns
  * together — the ratio is far more stable than either wall-clock — but
  * short queries still jitter), and each band is a statement of the
  * query's expected growth CLASS: ~10 scan-bound linear, well under 10
  * for sub-linear aggregations, over 10 only where the 10x replica
  * genuinely carries superlinear structure (documented per query). */
object ScaleBudget {

  /** (query, max 10x/1x ratio). The ten slowest r11 headline queries;
    * bands = r11 measured ratio × 1.5, floored at measured + 2 (short
    * growth ratios jitter by whole tenths, not percents). Measured
    * growth classes (r11 calibration run, this harness):
    *  - round-overhead-bound, far sub-linear (fixed iteration/plan cost
    *    dominates at sf0.1): q_labelprop 1.16, q_dsir 1.19, q_corr
    *    1.01, q1_pricing 1.36, q_curation_pipeline2 1.26
    *  - scan-bound, sub-linear until the scan dominates: q_pack_tokens
    *    2.11, q_substr_spans 2.44
    *  - genuinely corpus-linear (pair/wedge work repeats per replica):
    *    q_triangles 8.50, q_dedup_semantic_mp 10.37, q_dedup_minhash
    *    11.08 — ~10 IS linear on a fixed-core box; above the band
    *    means super-linear structure, the 100-TB red flag. */
  val Bands: Seq[(String, Double)] = Seq(
    "q_labelprop" -> 3.2,
    "q_dsir" -> 3.2,
    "q_dedup_semantic_mp" -> 15.6,
    "q_dedup_minhash" -> 16.6,
    "q_corr" -> 3.0,
    "q_triangles" -> 12.8,
    "q_substr_spans" -> 4.4,
    "q1_pricing" -> 3.4,
    "q_pack_tokens" -> 4.2,
    "q_curation_pipeline2" -> 3.3,
    // r12 additions (measured ratios from the r12 calibration run, same
    // band formula — measured × 1.5, floor measured + 2):
    //  - q_curation_ingest 1.18 — the heaviest composed chain (artifact
    //    builds + the 10-stage projection): artifact-build cost
    //    dominates and the artifacts are corpus-frequency-bounded, so
    //    the chain reads round-overhead-bound at 10x
    //  - q_fuzzy_join 0.97 — reads the PART table, a dimension the
    //    replica deliberately keeps unscaled (dimensions stay
    //    dimension-sized at any corpus scale): the band pins the
    //    heaviest single query's absolute-flat expectation, not growth;
    //    corpus-side fuzzy growth is fuzzy_probe's job below
    //  - fuzzy_probe 1.98 — the corpus-scaled banded-Levenshtein shape
    //    (all document titles vs a fixed 200-title lexicon): candidates
    //    are corpus-linear by blocking, above the band means block
    //    occupancy went quadratic
    //  - hamming_r8 5.0-5.4 (two runs) — radius-8 band-pair blocking over
    //    xxhash64 corpus fingerprints: the near-linear claim OpsSpec proves at
    //    4096 hashes, held at corpus scale — above the band means the
    //    verify join went quadratic again
    "q_curation_ingest" -> 3.2,
    "q_fuzzy_join" -> 3.0,
    "fuzzy_probe" -> 4.0,
    "hamming_r8" -> 8.1,
    // r13 addition: the crawl FILE ingest seam (readWarc over real
    // .warc.gz shards packed from the corpus at a fixed ~2048 docs per
    // shard, so the FILE COUNT scales with the corpus — the Common
    // Crawl shape). Per-shard cost is constant (one file's records
    // materialize per input row), so growth should track corpus size
    // until the 32 cores saturate; above the band means the parse seam
    // itself went superlinear. Measured r13 calibration: 2.0x at 10x
    // (29 → 290 shards absorbed by idle cores; band = measured + 2, the
    // short-ratio floor).
    "warc_ingest" -> 4.0,
    // r13 addition: the RFC 9309 permission join at corpus scale — one
    // synthetic robots file per host (rules robots-sized, host count
    // corpus-linear) against a 4-URL-per-host frontier. Work is linear
    // by design: the group-selection window partitions by host (tiny
    // partitions), the rule join hash-partitions on the same key, and
    // the verdict aggregation keys on (host, url). Measured r13
    // calibration: 1.8x at 10x (fixed plan/shuffle overheads dominate
    // the short absolute times); band = measured + 2 rounded down, the
    // short-ratio floor. Above the band means per-host work stopped
    // being bounded by that host's rule count.
    "robots_filter" -> 3.5,
    // r14 additions (bands calibrated from the r14 measurement run,
    // same formula — measured × 1.5, floor measured + 2):
    //  - trigram_counts: the order-3 count is one tokenisation into a
    //    trigram-keyed map-side-combined aggregation — the shuffle
    //    carries distinct-trigram rows, which grow sublinearly in the
    //    replicated corpus (replicas repeat content). Timed UNCACHED
    //    (TextOps.trigramCounts directly): the q_trigram_lm registry
    //    entry would measure its ensureCached frame's cache hit on the
    //    second run, saying nothing about corpus scaling. Above the
    //    band means the count shuffle stopped being
    //    distinct-trigram-sized
    //  - line_counts: LineIndex's persisted counting stage (lines +
    //    sentence shingles, the two StreamCurate artifact shapes) —
    //    gram-keyed aggregations whose shuffle rows are
    //    distinct-gram-counted; the artifact build/merge cost at
    //    100 TB IS this stage, so its growth is the artifact family's
    //    scale claim
    //  - frontier_permit: the compiled per-host rule-array fold
    //    (StreamFrontier.permit over compiledRobots) on the
    //    robots_filter fixture — same linear-by-design contract as the
    //    batch join, but through the stream-admissible plan (static
    //    side aggregated ONCE per host, per-URL work a bounded fold);
    //    above the band means the compiled arrays stopped being
    //    robots-sized
    "trigram_counts" -> 3.5,
    "line_counts" -> 3.6,
    "frontier_permit" -> 4.3,
    //  - frontier_schedule: the permit fixture's allowed URLs through
    //    StreamFrontier.schedule (batch-mode flatMapGroupsWithState) —
    //    host count is corpus-linear, per-host work is a bounded sort
    //    + one counter, so growth must track the host count; above the
    //    band means per-host state or buffering stopped being bounded
    //    by the host's own frontier. Measured r14 calibration: 1.56×
    //    at 10× (band = measured + 2, the short-ratio floor)
    "frontier_schedule" -> 3.6,
    // r15 addition: the v3 LmIndex build's counting stage — ALL orders
    // 2..5 from one tokenisation (ngramCountsUpTo), timed UNCACHED like
    // trigram_counts (the registry queries cache their count frames; a
    // cache hit says nothing about corpus scaling). The shuffle carries
    // distinct (k, gram) rows — sublinear growth in the replicated
    // corpus (replicas repeat content, so the distinct-gram vocabulary
    // grows far slower than the token stream). Above the band means
    // the multi-order count shuffle stopped being
    // distinct-gram-vocabulary-sized. Band from the r15 calibration run
    // (measured + 2, the short-ratio floor — see PERF.md r15).
    "ngram5_counts" -> 3.6,
    // r16: the PqIndex ENCODE stage — the corpus-scan half of a PQ
    // artifact build (codebooks are trained once in the warm-up and
    // cached driver-side, so the timed body is the frozen-codebook
    // argmin projection + the noop sink, the work that actually scales
    // with the corpus). Pure projection, zero shuffle: growth is
    // scan-linear until the 32 cores absorb it. PROVISIONAL band for
    // the r16 calibration run (pin to measured × 1.5, floor +2, after).
    "pq_encode" -> 20.0)

  /** Gated dataflows that are not SparkEntry queries keyed by name:
    * timed through the same harness. hamming_r8 exercises the band-PAIR
    * blocking cutover ([[graft.ops.NearDup.MinSingleBandBits]]) on
    * content-diverse 64-bit fingerprints of the real corpus — the one
    * layout whose scale behavior OpsSpec can only sample. */
  /** Frozen codebooks per scale dir for the pq_encode runner: training
    * happens ONCE (in the warm-up pass) and is driver-cached, so the
    * timed runs measure the encode projection — the corpus-scaled stage
    * the band is about — not a re-train. The cache holds k×dim scalars
    * per dir, driver-sized by construction. */
  private val pqBooks =
    scala.collection.mutable.Map.empty[String, Array[Array[Array[Double]]]]

  val CustomRunners: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      // the PqIndex build's corpus-scan half: frozen-codebook encode of
      // every vector (see pqBooks — training is paid in the warm-up)
      "pq_encode" -> ((s, dir) => {
        val books = pqBooks.getOrElseUpdate(dir, graft.ops.PQ.train(
          T.load(s, dir, "embeddings"), m = 8, k = 16, iterations = 1))
        graft.ops.PQ.encode(T.load(s, dir, "embeddings"), books)
      }),
      "hamming_r8" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val hashes = T.load(s, dir, "documents")
          .select(col("doc_id"), xxhash64(col("text")).as("h"))
        graft.ops.NearDup.hammingPairs(hashes, maxHamming = 8, hashCol = "h")
      }),
      // corpus×lexicon fuzzy probe: every document title (corpus-scaled
      // left) against a fixed 200-title lexicon (replica 0 keeps the
      // original ids, so doc_id < 200 is the same lexicon at both
      // scales) — candidate volume is corpus-LINEAR under the
      // (tok0, length-band) blocking
      "fuzzy_probe" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val titles = T.load(s, dir, "documents")
          .select(col("doc_id"),
            expr("array_join(slice(split(text, ' '), 1, 3), ' ')").as("title"))
          .withColumn("tok0", expr("split_part(title, ' ', 1)"))
        graft.ops.Fuzzy.fuzzyJoin(titles, titles.filter(col("doc_id") < 200),
          "title", maxDist = 2, blockCols = Seq("tok0"))
      }),
      // crawl file ingest: the documents corpus packed into real
      // .warc.gz shards (~2048 docs each — shard COUNT is corpus-linear,
      // shard size constant, the production crawl shape), materialized
      // once per scale dir; the timed body is readWarc's files→records
      // parse + the response projection. The warm-up run pays the
      // one-time shard build; min-of-2 measures the parse seam.
      "warc_ingest" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val out = s"/tmp/graft_warcshards_${math.abs(dir.hashCode)}"
        graft.ops.WarcOps.packShards(s, dir, out)
        graft.ops.WarcOps.readWarc(s, out)
          .filter(col("warc_type") === "response")
          .select(col("doc_id"), col("target_uri"),
            length(col("payload_text")).as("n_chars"))
      }),
      // corpus-scaled permission join: a robots file per host (doc_id
      // as the host key — host count grows with the corpus, rules stay
      // robots-sized) against a 4-URL frontier per host
      "robots_filter" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val ids = T.load(s, dir, "documents").select(col("doc_id"))
        val m5 = (col("doc_id") % 5).cast("string")
        val text = concat(
          lit("User-agent: *\nDisallow: /private"), m5,
          lit("/\nAllow: /private"), m5, lit("/public\nUser-agent: bot"),
          (col("doc_id") % 4).cast("string"), lit("\nDisallow: /\n"))
        val rules = graft.ops.UrlOps.parseRobots(
          ids.select(col("doc_id"), text.as("text")))
        val urls = ids
          .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
          .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
            concat(lit("/private"), m5,
              when(col("j") === 1, lit("/public/y"))
                .otherwise(lit("/x"))).as("path"))
        graft.ops.UrlOps.robotsAllowed(rules, urls, agent = "bot1")
      }),
      // the order-3 LM counting pass, uncached (see the band comment)
      "trigram_counts" -> ((s, dir) =>
        graft.ops.TextOps.trigramCounts(T.load(s, dir, "documents"))),
      // the v3 multi-order counting pass (orders 2..5), uncached
      "ngram5_counts" -> ((s, dir) =>
        graft.ops.TextOps.ngramCountsUpTo(T.load(s, dir, "documents"), 5)),
      // the LineIndex counting stage at corpus scale: both StreamCurate
      // artifact shapes (boilerplate lines + 3-sentence shingles) from
      // one run — the union is what a nightly artifact refresh computes
      "line_counts" -> ((s, dir) => {
        val docs = T.load(s, dir, "documents")
        graft.ops.Curate.lineCounts(docs)
          .unionByName(graft.ops.ExactSubstr.shingleCounts(docs)
            .withColumnRenamed("n_occ", "line_df"))
      }),
      // the stream-admissible permission join on the robots_filter
      // fixture: compile per-host rule arrays once, fold per URL
      "frontier_permit" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val ids = T.load(s, dir, "documents").select(col("doc_id"))
        val m5 = (col("doc_id") % 5).cast("string")
        val text = concat(
          lit("User-agent: *\nDisallow: /private"), m5,
          lit("/\nAllow: /private"), m5, lit("/public\nUser-agent: bot"),
          (col("doc_id") % 4).cast("string"), lit("\nDisallow: /\n"))
        val rules = graft.ops.UrlOps.parseRobots(
          ids.select(col("doc_id"), text.as("text")))
        val urls = ids
          .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
          .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
            concat(lit("/private"), m5,
              when(col("j") === 1, lit("/public/y"))
                .otherwise(lit("/x"))).as("path"))
        graft.stream.StreamFrontier.permit(urls,
          graft.ops.UrlOps.compiledRobots(rules, agent = "bot1"))
      }),
      // the slotting half of the streaming frontier on the same
      // fixture: admitted URLs through the per-host monotone counter
      "frontier_schedule" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val ids = T.load(s, dir, "documents").select(col("doc_id"))
        val m5 = (col("doc_id") % 5).cast("string")
        val text = concat(
          lit("User-agent: *\nDisallow: /private"), m5,
          lit("/\nAllow: /private"), m5, lit("/public\nUser-agent: bot"),
          (col("doc_id") % 4).cast("string"), lit("\nDisallow: /\n"))
        val rules = graft.ops.UrlOps.parseRobots(
          ids.select(col("doc_id"), text.as("text")))
        val urls = ids
          .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
          .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
            concat(lit("/private"), m5,
              when(col("j") === 1, lit("/public/y"))
                .otherwise(lit("/x"))).as("path"))
        graft.stream.StreamFrontier.frontier(urls,
          graft.ops.UrlOps.compiledRobots(rules, agent = "bot1"))
      }))

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = ScaleEvidence.ensureReplica(spark, srcDir, 10)

    def time(name: String, dir: String): Double = {
      val run = CustomRunners.getOrElse(name, SparkEntry.queries(name))
      def once(): Double = {
        val t0 = System.nanoTime()
        run(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      math.min(once(), once())
    }

    // locale-pinned numbers (Bench owns the one formatter — the f
    // interpolator renders through the DEFAULT locale and comma
    // decimals would break the JSON line)
    def n(v: Double): String = Bench.num3(v)
    var breaches = List.empty[String]
    val parts = Bands.map { case (q, band) =>
      val t1 = time(q, srcDir)
      val t10 = time(q, outDir)
      val ratio = t10 / t1
      if (ratio > band)
        breaches ::= f"$q ${ratio}%.1fx > ${band}%.1fx band"
      s""""$q":{"t1":${n(t1)},"t10":${n(t10)},"ratio":${n(ratio)},"band":${n(band)}}"""
    }
    println(s"""{"metric":"scale10","replicas":10,""" +
      s""""queries":{${parts.mkString(",")}},"sf":"$srcDir"}""")
    breaches.foreach(b => System.err.println(s"[scale-budget] BAND BREACH: $b"))
    spark.stop()
    if (breaches.nonEmpty) sys.exit(1)
  }
}
