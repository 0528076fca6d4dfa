package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evidence tool behind PERF.md's scale-stress numbers (not a test — run
  * with `Test/runMain graft.ops.StressTool`). Measures candidate-pair
  * volume and wall time for the dedup paths whose round-3 defaults changed:
  * simhash band cardinality (maxHamming 8 vs 3) and embedding pair mining
  * under label skew (plain vs triangle-grid vs hyperplane LSH). */
object StressTool {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Banded candidate-pair count for simhash at a given maxHamming —
    * replicates the banding in NearDup.simhashPairs to expose the
    * pre-Hamming-filter volume the join must process. */
  private def simhashCandidates(docs: DataFrame, maxHamming: Int): Long = {
    val sh = NearDup.simhash(docs)
    val bits = 64
    val numBands = maxHamming + 1
    val base = bits / numBands
    val extra = bits % numBands
    val starts = (0 until numBands).scanLeft(0)((s, b) => s + base + (if (b < extra) 1 else 0))
    val bands = (0 until numBands).map { b =>
      val width = base + (if (b < extra) 1 else 0)
      val mask = if (width >= 63) -1L else (1L << width) - 1L
      shiftrightunsigned(col("simhash"), starts(b)).bitwiseAND(lit(mask))
    }
    val banded = sh.select(col("doc_id"),
      posexplode(array(bands: _*)).as(Seq("band", "band_val")))
    banded.alias("x").join(banded.alias("y"), Seq("band", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .count()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(16)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.T.load(spark, "/root/testdata/sf0.1", "documents")
    println(s"== simhash band cardinality (sf0.1, ${docs.count()} docs) ==")
    for (mh <- Seq(8, 3)) {
      val (cand, tc) = timed(simhashCandidates(docs, mh))
      val (pairs, tp) = timed(NearDup.simhashPairs(docs, maxHamming = mh).count())
      println(f"maxHamming=$mh%d: banded candidates=$cand%,d (${tc}%.1fs), final pairs<=$mh=$pairs%,d (${tp}%.1fs)")
    }

    val e = graft.T.load(spark, "/root/testdata/sf0.1", "embeddings")
    val hot = e.withColumn("label", lit(0)) // worst case: one label holds all vectors
    println(s"\n== embedding pair mining under total label skew (${hot.count()} vectors, 1 label) ==")
    val (nPlain, t1) = timed(VectorOps.embeddingPairs(hot).count())
    println(f"plain label join (g=1, 1 cell):     $nPlain%,d pairs in ${t1}%.1fs")
    val (nGrid, t2) = timed(VectorOps.embeddingPairs(hot, targetBlock = 256).count())
    println(f"triangle grid (g=8, 36 cells):      $nGrid%,d pairs in ${t2}%.1fs (identical output: ${nGrid == nPlain})")
    val (nLsh, t3) = timed(VectorOps.embeddingPairsLsh(hot, threshold = 0.35, nBits = 30, bandBits = 2).count())
    println(f"hyperplane LSH tau=0.35 (no prune): $nLsh%,d pairs in ${t3}%.1fs")
    val (nLshHi, t4) = timed(VectorOps.embeddingPairsLsh(hot, threshold = 0.8).count())
    println(f"hyperplane LSH tau=0.8 defaults:    $nLshHi%,d pairs in ${t4}%.1fs")
    val total = hot.count()
    println(f"all-pairs upper bound: ${total * (total - 1) / 2}%,d")

    // packChunks under Common-Crawl-shaped source dominance: one source
    // holds 85% of rows, so the unsharded per-source window funnels 85%
    // of the corpus through ONE task; sharding bounds every task.
    val n = 4_000_000L
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      (lit(37) + pmod(col("id"), lit(13)) * 7).cast("long").as("n_tokens"),
      when(pmod(col("id"), lit(100)) < 85, lit("common_crawl"))
        .otherwise(concat(lit("src"), pmod(col("id"), lit(7)))).as("source"))
      .cache()
    corpus.count()
    println(f"\n== packChunks under source dominance ($n%,d docs, 85%% one source) ==")
    for (s <- Seq(1, 32)) {
      val packed = Curate.packChunks(corpus, budget = 2048, shards = s)
      val (_, t) = timed(packed.write.format("noop").mode("overwrite").save())
      val maxTask =
        if (s == 1) corpus.groupBy("source").count()
        else corpus.groupBy(col("source"), pmod(col("doc_id"), lit(s))).count()
      val biggest = maxTask.agg(max("count")).head().getLong(0)
      println(f"shards=$s%2d: ${t}%.1fs, largest window partition=$biggest%,d rows")
    }
    corpus.unpersist()

    // IVF assignment at large k: the centroid LITERAL embeds k×dim scalar
    // literals in one expression (codegen-hostile above ~hundreds); the
    // broadcast-JOIN argmax ships the same scalars as data. Outputs must be
    // identical; the cutover (VectorOps.CentroidLiteralMax) picks per k.
    println(s"\n== IVF assignment cutover at k=1024 (sf0.1, ${e.count()} vectors, 64 dims) ==")
    def ivfAt(litMax: Int): Seq[(Long, Long, Long, Double)] = {
      import spark.implicits._
      VectorOps.annIvf(e, nCentroids = 1024, nProbes = 10, nProbeClusters = 8,
        topK = 5, literalMax = litMax)
        .select("probe_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    }
    val (litRes, tLit) = timed(ivfAt(2048))
    println(f"centroid-literal path:   ${tLit}%.1fs (${litRes.size} result rows)")
    val (joinRes, tJoin) = timed(ivfAt(0))
    println(f"broadcast-join argmax:   ${tJoin}%.1fs (identical output: ${joinRes == litRes})")

    // IVF cluster balance: lowest-id seeds vs farthest-point spread seeds
    // on a clustered corpus (90% of vectors share one direction — the
    // shape real embedding corpora have). Max/mean cluster-size ratio is
    // the probe-cost bound: a probe of the hot cluster reads that share.
    val nv = 100_000L
    val clustered = spark.range(nv).select(col("id").as("vec_id"), lit(0L).as("label"),
      when(pmod(col("id"), lit(10)) < 9,
        transform(sequence(lit(1), lit(8)),
          i => (lit(1.0) + col("id") * lit(1e-6) * i).cast("float")))
        .otherwise(transform(sequence(lit(1), lit(8)),
          i => (when(pmod(col("id"), lit(8)) === pmod(i, lit(8)), 100.0)
            .otherwise(lit(1.0)) + col("id") * lit(1e-6)).cast("float")))
        .as("embedding")).cache()
    clustered.count()
    println(f"\n== IVF seeding balance (k=16, $nv%,d vectors, 90%% one direction) ==")
    val ep = VectorOps.prepared(clustered)
    for ((name, seeds) <- Seq(
        "lowest-id seeds" -> VectorOps.seedLowestIds(ep, 16),
        "spread seeds   " -> VectorOps.seedCentroidsSpread(ep, 16))) {
      val (ratio, t) = timed {
        val cLit = VectorOps.centroidLiteralOf(
          seeds.select(col("cid"), col("cv"), col("cn")).collect()).get
        val biggest = ep.withColumn("cid",
          element_at(VectorOps.nearestClusterArray(cLit, 1), 1).getField("cid"))
          .groupBy("cid").count().agg(max("count")).head().getLong(0)
        biggest.toDouble / (nv.toDouble / 16)
      }
      println(f"$name: max/mean cluster ratio ${ratio}%.2f (${t}%.1fs incl. seeding)")
    }
    clustered.unpersist()

    // Stratified sampling under a DOMINANT stratum (the capPerSource
    // hazard): the window formulation funnels the hot stratum — 85% of
    // the corpus, payload included — through ONE task's shuffle+sort,
    // while the MinKPairs aggregation reduces every input partition to
    // ≤ k (hash, id) pairs in parallel and semi-joins the kept ids back,
    // so the payload never shuffles and no single task owns the stratum.
    // (On narrow rows with many small strata the window formulation is
    // actually fine — this measures the skewed shape that breaks it.)
    val ns = 8_000_000L
    val strat = spark.range(ns).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(100)) < 85, lit("en"))
        .otherwise(concat(lit("l"), pmod(col("id"), lit(5)))).as("lang"),
      concat_ws(" ", array_repeat(concat(lit("tok"), pmod(col("id"), lit(97))), 80))
        .as("text")).cache()
    strat.count()
    println(f"\n== stratified sampling, dominant stratum ($ns%,d docs + ~500B payload, 85%% one lang) ==")
    val (nSamp, tS) = timed(
      Curate.stratifiedSample(strat, Seq("lang"), k = 100)
        .write.format("noop").mode("overwrite").save())
    println(f"MinKPairs bounded agg + semi-join (payload unshuffled): ${tS}%.1fs")
    val (_, tW) = timed {
      import org.apache.spark.sql.expressions.Window
      val h = HashMode.Default.hash(lit("strat"), col("doc_id"))
      strat.withColumn("_rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)))
        .filter(col("_rn") <= 100).drop("_rn")
        .write.format("noop").mode("overwrite").save()
    }
    println(f"row_number window (85%% of corpus sorts in ONE task):    ${tW}%.1fs")
    val kept = Curate.stratifiedSample(strat, Seq("lang"), k = 100).count()
    println(f"kept rows: $kept%,d")
    strat.unpersist()

    // Interval-overlap join: replication factor vs output volume. Naive
    // would be |L|x|R| = 10^9 comparisons; the bucketed join's work is
    // replicas + true matches.
    val nl = 100_000L; val nr = 10_000L
    val lIv = spark.range(nl).select(col("id").as("lid"),
      (col("id") * 50).as("a"), (col("id") * 50 + 400).as("b"))
    val rIv = spark.range(nr).select(col("id").as("rid"),
      (col("id") * 500).as("c"), (col("id") * 500 + 900).as("d"))
    println(f"\n== interval-overlap join ($nl%,d x $nr%,d intervals, naive = 10^9 pairs) ==")
    val (nOv, tOv) = timed(RangeJoin.intervalOverlap(lIv, rIv,
      col("a"), col("b"), col("c"), col("d"), bucketWidth = 500).count())
    println(f"bucketed overlap join:    $nOv%,d pairs in ${tOv}%.1fs")

    // ExactSubstr: the window stream is irreducibly one row per corpus
    // token (each must be hashed once), but everything AFTER the count
    // shuffle tracks DUPLICATED content: growing the unique filler 10x
    // leaves the duplicated-position volume and span count flat.
    println("\n== ExactSubstr duplicated-span work vs corpus growth ==")
    val sharedSpan = (1 to 25).map(i => s"shared$i").mkString(" ")
    for (nUnique <- Seq(10_000L, 100_000L)) {
      val filler = spark.range(nUnique).select(col("id").as("doc_id"),
        concat_ws(" ", org.apache.spark.sql.functions.transform(
          sequence(lit(1), lit(40)),
          i => concat(lit("u"), col("id") * 100 + i))).as("text"))
      val dups = spark.range(200).select((col("id") + 10_000_000L).as("doc_id"),
        concat(lit("prefix "), col("id").cast("string"),
          lit(" " + sharedSpan)).as("text"))
      val corpus2 = filler.unionByName(dups)
      val (spans, tSp) = timed(ExactSubstr.duplicatedSpans(corpus2, l = 20).count())
      println(f"unique docs=$nUnique%,d: duplicated spans=$spans%,d (${tSp}%.1fs) " +
        "— span volume flat while the corpus grew")
    }
    spark.stop()
  }
}
