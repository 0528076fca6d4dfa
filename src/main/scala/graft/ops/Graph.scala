package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative link-graph authority scoring (PageRank), engine-exact.
  *
  * Web-crawl curation pipelines use link-based authority as a document
  * quality prior: a page (or registrable domain) linked from many
  * well-linked places is likelier to be worth keeping, and the CCNet /
  * RefinedWeb lineage of corpus builders filters or re-weights on
  * exactly this kind of signal. That makes PageRank a first-class
  * training-data operator, not just an analytics demo.
  *
  * Determinism: the textbook formulation iterates over IEEE doubles,
  * whose sum order Spark does not guarantee — two runs (or two engines)
  * can disagree in the last ulp and a hash-compared gate fails. This
  * implementation runs entirely in FIXED-POINT Long arithmetic:
  * ranks are scaled by `scale` (default 10^12), each node's per-edge
  * contribution is `rank div outDegree` (truncating division — exact),
  * the damped update is `base + (dampNum * Σcontrib) div dampDen`, and
  * every quantity stays a non-negative Long, so truncating and floor
  * division agree and ANY engine that can divide integers reproduces
  * the scores bit-for-bit. The deliberate cost is the usual fixed-point
  * one: up to `outDegree-1` scale units of mass truncate away per node
  * per iteration — at scale 10^12 that is a relative error < 10^-3 for
  * degrees into the billions, far below ranking resolution.
  *
  * Scale shape: one shuffle per iteration (groupBy dst on the
  * contribution stream — partial aggregation applies map-side), plus
  * one outer join back to the node set; the degree-annotated edge list
  * is computed once and cached. Nothing is ever collected to the
  * driver and no step is quadratic: work per iteration is O(|E|) and
  * the iteration count is the caller's explicit budget. At 100 TB the
  * edge list would be bucketed by src so the rank join co-locates, and
  * the rank frame checkpointed to cut lineage — every loop here runs
  * on a [[Caching.CheckpointWindow]] of 8 rounds (lazily cached rounds,
  * an eager checkpoint every 8th; each cached frame is |V| rows, two
  * Longs wide).
  *
  * Dangling nodes (no out-edges) keep receiving the teleport base but
  * leak their damped mass, the standard "remove dangling mass"
  * simplification; callers who need strict mass conservation should
  * symmetrise the edge list first (every node then has out-degree ≥ 1),
  * which is also what the gated query does.
  */
object Graph {

  /** Fixed-point PageRank over `edges` (columns `srcCol`, `dstCol`;
    * parallel edges are NOT deduplicated — dedup first if the graph is
    * simple). Returns one row per node: (`node` LONG, `rank` LONG)
    * where `rank` is the damped score scaled by `scale`.
    *
    * `dampNum`/`dampDen` spell the damping factor as an exact rational
    * (default 85/100); `iters` is the fixed iteration budget. */
  def pageRank(edges: DataFrame, iters: Int,
               srcCol: String = "src", dstCol: String = "dst",
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000L): DataFrame = {
    val (nodes, eDeg) = prepare(edges, srcCol, dstCol)
    // |V| and the teleport base as broadcast scalars — a literal would
    // need a driver-side count (an extra job before the plan is even
    // built), and a window-based total would funnel through one task
    val nCount = nodes.agg(count(lit(1)).cast(LongType).as("_pr_n"))
    val teleportScaled = teleport(dampNum, dampDen, scale)
    val based = Caching.ensureCachedLazy(
      nodes.crossJoin(broadcast(nCount))
        .select(col("node"),
          expr(s"${teleportScaled}L div _pr_n").as("_pr_base"),
          expr(s"${scale}L div _pr_n").as("_pr_init")))
    iterate(based, eDeg, iters, dampNum, dampDen)
  }

  /** Personalized (seeded) PageRank — TrustRank: the teleport mass
    * lands ONLY on `seeds` (one `node` column; rows not present in the
    * graph are ignored), so rank measures random-walk proximity to the
    * trusted set instead of global authority. The crawl-curation use:
    * propagate trust from a vetted domain whitelist and treat
    * low-trust, high-in-degree nodes as spam candidates. Same
    * fixed-point Long determinism, scale shape, and dangling-mass
    * caveat as [[pageRank]]; non-seed nodes start (and, if unreachable
    * from the seeds, stay) at exactly 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           srcCol: String = "src", dstCol: String = "dst",
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           scale: Long = 1000000000000L): DataFrame = {
    val (nodes, eDeg) = prepare(edges, srcCol, dstCol)
    val seedsIn = seeds.select(col("node").cast(LongType).as("_pr_seed"))
      .filter(col("_pr_seed").isNotNull).distinct()
      .join(nodes, col("_pr_seed") === col("node"), "left_semi")
    val sCount = seedsIn.agg(count(lit(1)).cast(LongType).as("_pr_s"))
    val teleportScaled = teleport(dampNum, dampDen, scale)
    val based = Caching.ensureCachedLazy(
      nodes
        .join(seedsIn, col("node") === col("_pr_seed"), "left")
        .crossJoin(broadcast(sCount))
        .select(col("node"),
          when(col("_pr_seed").isNotNull, expr(s"${teleportScaled}L div _pr_s"))
            .otherwise(lit(0L)).as("_pr_base"),
          when(col("_pr_seed").isNotNull, expr(s"${scale}L div _pr_s"))
            .otherwise(lit(0L)).as("_pr_init")))
    iterate(based, eDeg, iters, dampNum, dampDen)
  }

  /** Synchronous label propagation (community detection): every node
    * starts labelled with its own id; each round a node adopts the
    * PLURALITY label among its in-neighbors (an edge src→dst carries
    * src's current label to dst), and a node with no in-edges keeps its
    * label. After a few rounds, labels pool inside densely connected
    * regions — the near-duplicate-cluster / link-farm / domain-community
    * signal a crawl-curation pipeline wants (reference dc43 has no graph
    * surface; this generalises the dedup CC machinery in
    * ops/NearDup.scala to arbitrary edge sets).
    *
    * Determinism: the classic LPA breaks plurality ties randomly and
    * updates asynchronously in a shuffled node order — both
    * irreproducible. Here updates are synchronous (a round reads only
    * the previous round's labels) and ties break to the SMALLEST label,
    * so the result is a pure function of the edge set and `iters`, and
    * any engine reproduces it bit-for-bit (counts and labels are Longs
    * end to end). Synchronous LPA can oscillate on bipartite structure
    * instead of converging — the fixed iteration budget makes that a
    * defined result rather than a hang; callers wanting the classic
    * behavior run an odd/even iters pair and diff.
    *
    * Scale shape: identical to [[pageRank]] — per round, the vote
    * stream partial-aggregates MAP-SIDE on (dst, label) before its one
    * exchange (combined counts travel, never raw votes), the winner
    * agg exchanges per-dst rows only, one broadcast-or-shuffle join
    * back to the |V|-row label frame, edge list cached once, nothing
    * driver-side, O(|E|) map work per round. The r8 'one explicit
    * dst-repartition serves both aggs' shape was REMOVED in r11 with
    * measured evidence: a bare repartition moves the RAW vote stream
    * (forfeiting the partial agg) and forced per-round eager
    * checkpoints to keep AQE sane — 4.1 s vs 1.1 s on q_labelprop, and
    * strictly more bytes through the exchange at any scale. */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val (nodes, eC) = prepare(edges, srcCol, dstCol, withDeg = false)
    var labels = nodes.select(col("node"), col("node").as("label"))
    // window of 8 — the pageRank cadence: the gated 5-round queries
    // stay on the pipelined lazy-cache path (zero extra jobs; eager
    // per-round checkpointing measured 4.1 s vs 1.2 s here), crawl-
    // scale budgets checkpoint every 8 rounds to bound lineage depth
    val win = new CheckpointWindow(every = 8)
    for (_ <- 1 to iters) {
      // plurality label per dst: count (dst, label) votes, then a
      // min_by over the (-count, label) struct — "count DESC, label
      // ASC" as a single aggregation, no window over the vote stream
      val winners = eC
        .join(labels, col("_pr_src") === col("node"))
        .groupBy(col("_pr_dst"), col("label"))
        .agg(count(lit(1)).as("_lp_cnt"))
        .groupBy(col("_pr_dst"))
        .agg(min_by(col("label"),
          struct((-col("_lp_cnt")).as("nc"), col("label").as("lb"))).as("_lp_win"))
      val next = labels
        .join(winners, col("node") === col("_pr_dst"), "left")
        .select(col("node"), coalesce(col("_lp_win"), col("label")).as("label"))
      labels = win.advance(next)
    }
    win.release(labels) // trailing lazily-cached rounds, keep the result
    labels
  }

  /** Connected components over an arbitrary edge set: every node labelled
    * with the smallest node id reachable from it. A thin general-graph
    * facade over the dedup family's engine ([[NearDup.duplicateClusters]]:
    * min-label propagation + pointer jumping, O(log diameter) rounds,
    * per-round checkpoint materialisation, driver-side scalar convergence
    * check — that implementation is oracle-gated through `q_dedup_cluster`
    * and scale-audited in PERF.md). Relation to [[labelPropagation]]: CC
    * answers REACHABILITY (one component per connected subgraph, exact
    * fixpoint); LPA answers community density (a bridge edge does not
    * merge two tight clusters) under a fixed round budget. Null endpoints
    * drop, as in the other operators here. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIter: Int = 20): DataFrame =
    NearDup.duplicateClusters(
      edges.select(col(srcCol).cast(LongType).as("doc_a"),
          col(dstCol).cast(LongType).as("doc_b"))
        .filter(col("doc_a").isNotNull && col("doc_b").isNotNull),
      maxIter)
      .select(col("doc_id").as("node"), col("cluster").as("component"))

  /** Per-node triangle participation counts over an UNDIRECTED graph —
    * the local-density signal (clustering, link-farm detection) the
    * reachability (CC) and authority (PageRank) operators don't give.
    *
    * Algorithm: the classic degree-ordered orientation ("compact
    * forward") — orient every canonical edge from its (degree, id)-
    * smaller endpoint to the larger, enumerate wedges by joining
    * oriented edges on their SOURCE, and close each wedge with one
    * semi-ish join back to the oriented edge set. Each triangle is
    * found exactly once (its vertices appear in (deg, id) order), and
    * the wedge count is bounded by Σ outdeg² ≤ m^1.5 instead of the
    * naive Σ deg² — on skewed graphs the difference between feasible
    * and not: a hub of degree d contributes d² naive wedges but at
    * most 2m oriented ones (out-degree ≤ √(2m) under this ordering).
    * Self-loops and parallel/duplicate edges are dropped. Scale
    * shape: two hash joins on node keys; intermediates are
    * wedge-count-sized (the algorithm's true complexity), never node². */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val u = col("_u"); val v = col("_v")
    val und = edges
      .select(col(srcCol).cast(LongType).as("_a"), col(dstCol).cast(LongType).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull && col("_a") =!= col("_b"))
      .select(least(col("_a"), col("_b")).as("_u"),
        greatest(col("_a"), col("_b")).as("_v"))
      .distinct()
    val deg = und.select(explode(array(u, v)).as("_n"))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d"))
    Caching.ensureCached(und)
    val keyed = und
      .join(deg.select(col("_n").as("_u"), col("_d").as("_du")), Seq("_u"))
      .join(deg.select(col("_n").as("_v"), col("_d").as("_dv")), Seq("_v"))
      .select(struct(col("_du").as("d"), u.as("n")).as("_ku"),
        struct(col("_dv").as("d"), v.as("n")).as("_kv"), u, v)
    val oriented = keyed.select(
      when(col("_ku") < col("_kv"), u).otherwise(v).as("src"),
      when(col("_ku") < col("_kv"), v).otherwise(u).as("dst"),
      when(col("_ku") < col("_kv"), col("_kv")).otherwise(col("_ku")).as("dstKey"))
    Caching.ensureCached(oriented)
    val e1 = oriented.select(col("src").as("_s"), col("dst").as("_b"),
      col("dstKey").as("_bk"))
    val e2 = oriented.select(col("src").as("_s"), col("dst").as("_c"),
      col("dstKey").as("_ck"))
    val wedges = e1.join(e2, Seq("_s")).filter(col("_bk") < col("_ck"))
      .select(col("_s").as("_a"), col("_b"), col("_c"))
    val closed = wedges.join(oriented
        .select(col("src").as("_b"), col("dst").as("_c")),
      Seq("_b", "_c"))
    closed
      .select(explode(array(col("_a"), col("_b"), col("_c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Cleaned node set and degree-annotated edge list, both cached —
    * each is re-joined every iteration. */
  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
                      withDeg: Boolean = true): (DataFrame, DataFrame) = {
    val e = edges.select(
      col(srcCol).cast(LongType).as("_pr_src"),
      col(dstCol).cast(LongType).as("_pr_dst"))
      .filter(col("_pr_src").isNotNull && col("_pr_dst").isNotNull)
    val nodes = Caching.ensureCachedLazy(
      e.select(col("_pr_src").as("node"))
        .union(e.select(col("_pr_dst").as("node")))
        .distinct())
    // the out-degree join only serves rank-splitting consumers
    // (PageRank/TrustRank); label propagation caches the plain edge
    // list — no groupBy+join in its cache build, narrower cached rows
    val eOut = if (withDeg) {
      val deg = e.groupBy(col("_pr_src")).agg(count(lit(1)).as("_pr_deg"))
      e.join(deg, "_pr_src")
    } else e
    (nodes, Caching.ensureCachedLazy(eOut))
  }

  /** `(1-d) × scale` as exact Long arithmetic. */
  private def teleport(dampNum: Long, dampDen: Long, scale: Long): Long = {
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      "damping must be a rational in [0, 1]")
    require(scale > 0, "scale must be positive")
    scale - (dampNum * scale) / dampDen
  }

  /** The damped power iteration over a `(node, _pr_base, _pr_init)`
    * frame: per-node teleport base and start mass are data, so the
    * uniform and personalized variants share every moving part. */
  private def iterate(based: DataFrame, eDeg: DataFrame, iters: Int,
                      dampNum: Long, dampDen: Long): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    var rank = based.select(col("node"), col("_pr_init").as("rank"))
    // window of 8: the gated 5-iteration queries stay on the pipelined
    // lazy-cache path (zero extra jobs — eager per-round checkpointing
    // measured 0.8 -> 1.8 s on q_pagerank); crawl-scale budgets hit a
    // checkpoint every 8 rounds, bounding lineage depth and storage
    val win = new CheckpointWindow(every = 8)
    for (_ <- 1 to iters) {
      // join conditions are spelled by (unique) column NAME, not by
      // dataframe-tagged reference: every frame here descends from the
      // same edge scan, and tagged references across a self-join
      // lineage are exactly where Spark's ambiguity detection bites
      val contrib = eDeg
        .join(rank, col("_pr_src") === col("node"))
        .select(col("_pr_dst"), expr("`rank` div _pr_deg").as("_pr_c"))
        .groupBy(col("_pr_dst"))
        .agg(sum(col("_pr_c")).as("_pr_sum"))
      val next = based
        .join(contrib, col("node") === col("_pr_dst"), "left")
        .select(col("node"),
          (col("_pr_base") +
            expr(s"(${dampNum}L * coalesce(_pr_sum, 0L)) div ${dampDen}L"))
            .as("rank"))
      rank = win.advance(next)
    }
    // the returned frame keeps its cache; the superseded trailing
    // rounds it no longer needs are released here rather than lingering
    // until GC (they are recomputable from the kept checkpoint)
    win.release(rank)
    rank
  }

  private type CheckpointWindow = Caching.CheckpointWindow
}
