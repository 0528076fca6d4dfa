package graft

import graft.align.ApplyContract
import graft.analytics.Analytics
import graft.draft.Drafter
import graft.ops.{Curate, ExactSubstr, Fuzzy, HashMode, MediaDecode, MediaTransform, Multimodal, NearDup, PQ, Skew, TextOps, TopK, UrlOps, VectorOps}
import graft.quality.{Evaluator, Expectations, Metrics, SchemaSnapshot, ValidationResult}
import graft.strategies.{FlagStrategy, SplitStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry + DuckDB oracle per operator in
  * SURVEY.md §2. Column names are aligned between the Spark result and the
  * oracle SQL because the driver's compare hashes values under sorted
  * column names. */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    T.load(s, dir, name)

  /** The trained-language-ID prediction frame both gates that consume
    * it share (q_lang_id_trained, q_ccnet_pipeline's split stage) — ONE
    * train/infer invocation with the gate parameters, so the Spark side
    * stays in lockstep with the single `langIdTrainedSql` the oracle
    * side embeds for both. */
  private def trainedLangPredictions(docs: DataFrame): DataFrame = {
    val model = TextOps.trainLangNb(docs, col("lang"), buckets = 64,
      nGram = 3, mode = HashMode.Portable)
    // inference hashes under the model's own recorded mode (Portable)
    TextOps.langIdNb(docs, model)
  }

  // q_curation_ingest fixture constants — spliced VERBATIM into both the
  // Spark construction and the oracle SQL (single definition, the
  // pattern-constant convention). Footer carries no terminal mark (a
  // boilerplate line, never a sentence); the block is the duplicated
  // 3-sentence span; extras keep every page over the C4 sentence floor
  // and the Gopher stopword/word floors; injections are one per
  // doc_id % 4 class.
  private val IngestFooter = "Subscribe to our newsletter for updates and offers today"
  private val IngestBlock =
    "Shared alpha beta gamma. Shared delta epsilon zeta. Shared eta theta iota."
  private val IngestExtras =
    "The first extra sentence is here with all of the usual words. " +
    "It keeps the page over every quality floor that matters to us. " +
    "These sentences carry common stopwords and letters that have weight with them. " +
    "This last extra closes out the page with a clean period here."
  private val IngestInjCard = "Pay 4539578763621486 for this now."
  private val IngestInjEmail = "Mail bob@example.com about this today."
  // the m=3 dirt class: a quote-terminated TRAILING line — C4's line
  // filter keeps it (ends on a closing quote), the sentence-span
  // rebuild drops it (no terminal mark), and the chain must COUNT the
  // drop (n_tail_dropped — flags emitted, never silently applied)
  private val IngestTail =
    "He said the page continues \"beyond the last period\""
  private val IngestEval =
    "Zibbleflort quandrosine veltapark mizzenbrook caltrovane siphonelle " +
    "drakemoor pellucidar quintavex norrelbane taskerfield ombrelline " +
    "juddervast wexfordia."

  /** Train `n` BPE merges and collect the (pair, merged) table in step
    * order — the k-bounded artifact collect (PQ-codebook precedent)
    * shared by the q_bpe_segment / q_bpe_tokenize / q_pack_tokens
    * builders so merge count and ordering can never silently diverge
    * between the gated queries. Uses the trainer q_bpe_train gates. */
  private def collectedMerges(docs: DataFrame, n: Int): Seq[(String, String)] =
    graft.ops.Bpe.trainMerges(docs, n)
      .orderBy(col("step")).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"))).toSeq

  /** The shared graph-query edge set: customer–supplier co-occurrence
    * pairs from orders ⨝ lineitem (suppliers offset into their own id
    * space), symmetrised so every node has out-degree ≥ 1 — no dangling
    * mass for PageRank, votes in both directions for label propagation. */
  private def coGraphEdges(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + 10000000L).as("p"))
      .distinct()
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .union(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** events with deterministically dirtied user references (testdata
    * foreign keys are clean, so orphan detection needs synthetic dirt —
    * spelled identically in the oracle CTE, the [[docsWithUrl]]
    * precedent): every 97th event re-pointed at a parent that cannot
    * exist, every 101st nulled. */
  private def dirtyEvents(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").withColumn("user_id",
      when(col("event_id") % 101 === 0, lit(null))
        .when(col("event_id") % 97 === 0, col("user_id") + 1000000L)
        .otherwise(col("user_id")))

  /** documents + a deterministic synthetic `url` column (testdata carries
    * no URL column — SURVEY r7 backlog item): scheme, www subdomain,
    * multi-label public suffix, explicit default and non-default ports,
    * path and query string are all pure functions of (doc_id, source),
    * spelled IDENTICALLY in the DuckDB oracles' `u` CTE, so every parse
    * branch of [[UrlOps]] is exercised and gateable. Path is `/p<id%5>`
    * (coarse on purpose: canonical-URL collisions exist at every scale,
    * so q_url_dedup actually dedups). */
  private def docsWithUrl(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("url", concat(
      when(col("doc_id") % 7 === 0, lit("http://")).otherwise(lit("https://")),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      col("source"),
      when(col("doc_id") % 4 === 0, lit(".co.uk")).otherwise(lit(".com")),
      when(col("doc_id") % 11 === 0, lit(":8080"))
        .when(col("doc_id") % 7 === 0, lit(":80")).otherwise(lit("")),
      lit("/p"), (col("doc_id") % 5).cast("string"),
      when(col("doc_id") % 6 === 0,
        concat(lit("?ref="), (col("doc_id") % 3).cast("string")))
        .otherwise(lit(""))))

  /** Closed-form robots.txt fixture shared by q_robots_rules and
    * q_robots_filter: a comment, an ORPHAN rule before any group
    * (ignored per RFC 9309), the `*` group (key case varies by doc — a
    * case-insensitivity probe the oracle need not branch on), a two-ua
    * RUN sharing one group (`bot<doc%4>` + `helper`), a crawl-delay,
    * and a colon-carrying sitemap record. Every value is a formula the
    * oracle re-derives. */
  private def robotsFixtureText: org.apache.spark.sql.Column = concat(
    lit("# policy\n"),
    when(col("doc_id") % 3 === 0, lit("Disallow: /orphan\n")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, lit("USER-AGENT: *\n"))
      .otherwise(lit("user-agent: *\n")),
    lit("Disallow: /private"), (col("doc_id") % 5).cast("string"), lit("/\n"),
    lit("Allow: /private"), (col("doc_id") % 5).cast("string"), lit("/public\n"),
    lit("User-agent: bot"), (col("doc_id") % 4).cast("string"), lit("\n"),
    lit("User-agent: helper\n"),
    lit("Crawl-delay: "), (col("doc_id") % 7 + 1).cast("string"), lit("\n"),
    lit("Disallow: /\n"),
    lit("Sitemap: http://site"), (col("doc_id") % 7).cast("string"),
    lit(".example/sitemap.xml\n"))

  /** Closed-form sitemap XML fixture for q_sitemap_urls: even docs are
    * protocol-0.9 urlset files (entry 0 fully populated — spaces inside
    * `<loc>`, an `&amp;` escape, case-varied changefreq, numeric
    * priority; entry 1 loc-LESS, occupying a position but emitting no
    * row; entry 2 minimal with a non-numeric priority), odd docs are
    * sitemapindex files (entry 1 carrying an `&amp;` escape). Every
    * value is a formula the oracle re-derives. */
  private def sitemapFixtureText: org.apache.spark.sql.Column = {
    val m7 = (col("doc_id") % 7).cast("string")
    val m5 = (col("doc_id") % 5).cast("string")
    val m3 = (col("doc_id") % 3).cast("string")
    val m9 = (col("doc_id") % 9 + 1).cast("string")
    val m10 = (col("doc_id") % 10).cast("string")
    val m11 = (col("doc_id") % 11).cast("string")
    val freq = when(col("doc_id") % 3 === 0, lit("DAILY"))
      .when(col("doc_id") % 3 === 1, lit("Weekly")).otherwise(lit("monthly"))
    when(col("doc_id") % 2 === 0, concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n <url>\n" +
        "  <loc> http://s"), m7, lit(".example/p"), m5,
      lit("?a=1&amp;b="), m3,
      lit(" </loc>\n  <lastmod>2024-0"), m9,
      lit("-01</lastmod>\n  <changefreq>"), freq,
      lit("</changefreq>\n  <priority>0."), m10,
      lit("</priority>\n </url>\n <url><lastmod>2024-01-01</lastmod></url>\n" +
        " <url>\n  <loc>http://s"), m7, lit(".example/q"), m11,
      lit("</loc>\n  <priority>high</priority>\n </url>\n</urlset>\n")))
      .otherwise(concat(
        lit("<sitemapindex " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "<sitemap><loc>http://site"), m7, lit(".example/maps/m"), m5,
        lit(".xml.gz</loc>\n<lastmod>2024-02-0"), m9,
        lit("</lastmod></sitemap>\n<sitemap>\n <loc>http://site"), m7,
        lit(".example/&amp;"), m3,
        lit(".xml</loc>\n</sitemap>\n</sitemapindex>\n")))
  }

  /** One per-JVM scratch root for gate-internal artifacts (the z-order
    * write of q_skipping_scan, the minhash index of q_decontaminate_near):
    * repeated query invocations REUSE the same subdirectory (every
    * writer below runs in overwrite mode), so Verify sweeps, Profile
    * loops, and dev reruns do not accumulate temp directories. */
  private lazy val gateScratch: String =
    java.nio.file.Files.createTempDirectory("graft_gate").toString

  /** The on-disk WARC fixture shards shared by q_warc_files and
    * q_warc_fetch: one `doc_<id>.warc` per fixture doc (gzip members on
    * even ids, plain on odd — WarcOps.syntheticWarc), written
    * idempotently so the gates stay order-independent. */
  private def warcFixtureDir(s: SparkSession, d: String,
                             ids: DataFrame): String = {
    val dir = s"$gateScratch/warcfiles_${math.abs(d.hashCode)}"
    new java.io.File(dir).mkdirs()
    ids.repartition(8).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val doc = r.getLong(0)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/doc_$doc.warc"),
            graft.ops.WarcOps.syntheticWarc(doc))
          ()
        }
    }
    dir
  }

  /** Anchor-injected documents shared by q_extract_links and
    * q_link_rank: on doc_id % 9 == 0 (the corpus carries no '<') —
    * a double-quoted href, a single-quoted href on a decorated tag, an
    * UNQUOTED href (valid HTML, the third value style), and an
    * href-LESS anchor that must occupy link_pos 3 without emitting a
    * row. */
  private def docsWithAnchors(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 9 === 0, concat(
        col("text"),
        lit(" <a href=\"https://www"), (col("doc_id") % 7).cast("string"),
        lit(".example"), (col("doc_id") % 5).cast("string"),
        lit(".com/p"), col("doc_id").cast("string"),
        lit("?u=1\">x</a> mid <a class='k' href='http://m.example"),
        (col("doc_id") % 5).cast("string"),
        lit(".org/q'>y</a> <a href=http://bare.example"),
        (col("doc_id") % 5).cast("string"),
        lit(".net/r class=m>w</a> <a name=\"n\">z</a>")))
        .otherwise(col("text")).as("text"))

  private val lineitemSpecs = Expectations.fromContract(DemoContracts.lineitem)

  private def splitPart(s: SparkSession, dir: String, suffix: String): DataFrame = {
    val df = t(s, dir, "lineitem")
    val validation = Evaluator.validate(df, DemoContracts.lineitem)
    SplitStrategy().plan(df, lineitemSpecs, validation)
      .additional.find(_.pathSuffix.contains(suffix)).map(_.df)
      .getOrElse(df.limit(0))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(t(spark, "/root/testdata/sf0.001", "lineitem"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- contract validation engine ------------------------------------
    "q_metrics" -> ((s, d) =>
      Metrics.computeAsDataFrame(t(s, d, "lineitem"), lineitemSpecs)),
    "q_metrics_unique" -> ((s, d) =>
      Metrics.computeAsDataFrame(t(s, d, "orders"),
        Expectations.fromContract(DemoContracts.orders))),
    "q_apply_contract" -> ((s, d) =>
      ApplyContract.align(t(s, d, "lineitem"), DemoContracts.lineitemAlign)),
    "q_split_valid" -> ((s, d) => splitPart(s, d, "valid")),
    "q_split_reject" -> ((s, d) => splitPart(s, d, "reject")),
    "q_flag_rows" -> ((s, d) => {
      val df = t(s, d, "lineitem")
      val vr = ValidationResult(ok = false, Nil, Nil, Map.empty, Map.empty)
      FlagStrategy().plan(df, lineitemSpecs, vr).primary.get.df
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("_corrupted_data")).as("failed_expectation"))
    }),
    "q_validate" -> ((s, d) => {
      import s.implicits._
      val res = Evaluator.validate(t(s, d, "lineitem"), DemoContracts.lineitemBroken)
      (res.errors.map(("error", _)) ++ res.warnings.map(("warning", _)))
        .toDF("severity", "message")
    }),
    "q_expectation_plan" -> ((s, _) => {
      import s.implicits._
      lineitemSpecs.map(sp => (sp.key, sp.rule, sp.column.getOrElse(""),
        Expectations.sqlPredicate(sp).getOrElse("")))
        .toDF("key", "rule", "column", "predicate")
    }),
    "q_schema_snapshot" -> ((s, d) => {
      import s.implicits._
      SchemaSnapshot.of(t(s, d, "lineitem")).toSeq
        .map { case (n, i) => (n, i.backendType, i.odcsType, i.nullable) }
        .toDF("column", "backend_type", "odcs_type", "nullable")
    }),
    "q_draft_contract" -> ((s, d) => {
      import s.implicits._
      val draft = Drafter.fromDataFrame(t(s, d, "documents"), "docs.documents")
      draft.properties.map(f => (draft.id, draft.version,
        draft.status.getOrElse(""), f.name, f.odcsType, f.required))
        .toDF("contract_id", "version", "status", "field", "field_type", "required")
    }),
    "q_quality_query" -> ((s, d) => {
      import s.implicits._
      val specs = Expectations.fromContract(DemoContracts.lineitemWithQuery)
      val m = Metrics.computeWithQueries(t(s, d, "lineitem"), specs, s)
      Seq(m("high_discount_count").asInstanceOf[Number].longValue)
        .toDF("high_discount_count")
    }),
    // ---- analytic query surface ----------------------------------------
    "q1_pricing" -> ((s, d) => Analytics.q1Pricing(t(s, d, "lineitem"))),
    "q3_topn_join" -> ((s, d) => Analytics.q3TopN(
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem"))),
    "q5_join5" -> ((s, d) => Analytics.q5Join5(
      t(s, d, "region"), t(s, d, "nation"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "orders"), t(s, d, "lineitem"))),
    "q_window_latest" -> ((s, d) => Analytics.windowLatest(t(s, d, "lineitem"))),
    "q_events_window" -> ((s, d) => Analytics.eventsWindow(t(s, d, "events"))),
    "q_events_dedup" -> ((s, d) => Analytics.eventsDedup(t(s, d, "events"))),
    "q_sessions" -> ((s, d) => Analytics.sessionsBatch(t(s, d, "events"))),
    // gap-filled hourly resampling: every bucket in each user's span
    // exists, zero-filled — "no row" never masquerades as "no data"
    "q_resample" -> ((s, d) => Analytics.resample(t(s, d, "events"))),
    // ordered funnel: earliest view -> first click AFTER it -> first
    // purchase after that; per-user stage timestamps + completed count
    "q_funnel" -> ((s, d) => Analytics.funnel(t(s, d, "events"))),
    // the funnel under a 6-hour conversion window: a stage only counts
    // within maxGap of the previous stage's match
    "q_funnel_window" -> ((s, d) =>
      Analytics.funnel(t(s, d, "events"), maxGapUs = Some(6L * 3600 * 1000000L))),
    // weekly retention triangle anchored on each user's first signup
    "q_cohort" -> ((s, d) => Analytics.cohortRetention(t(s, d, "events"))),
    // the triangle normalized by each cohort's size
    "q_retention_rate" -> ((s, d) => Analytics.retentionRates(t(s, d, "events"))),
    // lag-1 value autocorrelation per (user, type) series
    "q_autocorr" -> ((s, d) => Analytics.autocorr(t(s, d, "events"))),
    // each user's dominant activity: deterministic plurality event type
    "q_mode" -> ((s, d) =>
      graft.ops.Stats.modeByGroup(t(s, d, "events"), "user_id", "event_type")),
    // daily counts per type with period-over-period change
    "q_pop" -> ((s, d) => Analytics.periodOverPeriod(t(s, d, "events"))),
    // UTC hour-of-day load shape per event type
    "q_seasonality" -> ((s, d) => Analytics.hourOfDayProfile(t(s, d, "events"))),
    // corpus source-concentration Gini (mixture-tuning health number)
    "q_gini" -> ((s, d) => Analytics.sourceGini(t(s, d, "documents"))),
    // lang x source independence (the categorical A/B companion)
    "q_chi2" -> ((s, d) =>
      graft.ops.Stats.chiSquare(t(s, d, "documents"), "lang", "source")),
    // one-row corpus duplication health summary
    "q_dup_stats" -> ((s, d) => TextOps.duplicationStats(t(s, d, "documents"))),
    // parametric z-score normalization from exact power sums
    "q_zscore" -> ((s, d) => Analytics.zscoreNormalize(t(s, d, "events"))),
    // trailing 3-event moving average per user (exact-decimal window sum)
    "q_moving_avg" -> ((s, d) => Analytics.movingAvg(t(s, d, "events"))),
    // exact-integer EWMA (alpha = 1/16): recurrence folded at 6dp fixed
    // point — bit-identical in any engine/partitioning
    "q_ewma" -> ((s, d) => Analytics.ewma(t(s, d, "events"))),
    // Markov transition matrix of consecutive event types per user
    "q_transitions" -> ((s, d) => Analytics.transitions(t(s, d, "events"))),
    // status-pivoted wide cross-tab with explicit pivot values
    "q_pivot" -> ((s, d) => Analytics.pivotSummary(t(s, d, "orders"))),
    // skewness/kurtosis from exact DECIMAL(38,0) power sums
    "q_skew_stats" -> ((s, d) =>
      graft.ops.Stats.momentsByGroup(t(s, d, "events"), "event_type", "value")),
    // interval-weighted average level per user (TWAP)
    "q_twap" -> ((s, d) => Analytics.twap(t(s, d, "events"))),
    // per-type median imputation over a deterministically dirtied value
    // column (testdata has no null values — dirt spelled identically in
    // the oracle CTE, the dirtyEvents precedent)
    "q_impute" -> ((s, d) =>
      graft.ops.Stats.imputeMedian(
        t(s, d, "events").withColumn("value",
          when(col("event_id") % 89 === 0, lit(null)).otherwise(col("value"))),
        "event_type", "value", idCols = Seq("event_id"))),
    // composed robust-feature pipeline: Tukey winsorization feeding the
    // percent-rank transform — outliers clipped BEFORE ranking so the
    // rank grid is outlier-stable, chained exactly as a user would
    "q_feature_pipeline" -> ((s, d) => {
      val clipped = graft.ops.Stats.winsorize(t(s, d, "events"),
        "event_type", "value", idCols = Seq("event_id"))
        .select(col("event_id"), col("event_type"), col("clipped"))
      graft.ops.Stats.rankNormalize(clipped, "event_type", "clipped",
        idCols = Seq("event_id"))
    }),
    // Welch's t between view and purchase event values (exact power sums)
    "q_abtest" -> ((s, d) =>
      graft.ops.Stats.welchT(t(s, d, "events"), "event_type", "value",
        "view", "purchase")),
    // referential integrity: events.user_id -> customer.c_custkey over
    // a deterministically dirtied child (testdata FKs are clean, so the
    // dirt is spelled identically in the oracle CTE — docsWithUrl
    // precedent): every 97th event re-pointed at a missing parent,
    // every 101st nulled
    "q_ref_orphans" -> ((s, d) =>
      graft.quality.RefIntegrity.orphans(dirtyEvents(s, d),
        t(s, d, "customer"), "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"))),
    "q_ref_integrity" -> ((s, d) =>
      graft.quality.RefIntegrity.orphanSummary(dirtyEvents(s, d),
        t(s, d, "customer"), "user_id", "c_custkey")),
    // uniform-[0,1] rank transform per event type (ties share a rank)
    "q_rank_normalize" -> ((s, d) =>
      graft.ops.Stats.rankNormalize(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id"))),
    // FD discovery: customers whose orders span >1 priority
    "q_fd_violations" -> ((s, d) =>
      graft.ops.Stats.fdViolations(t(s, d, "orders"), Seq("o_custkey"),
        "o_orderpriority")),
    // candidate-key uniqueness profile over orders columns
    "q_key_profile" -> ((s, d) =>
      graft.ops.Stats.keyProfile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus"))),
    // typed JSON payload extraction (from_json, malformed -> flagged null)
    "q_json_extract" -> ((s, d) => graft.ops.JsonOps.extractProps(t(s, d, "events"))),
    // JSON -> aggregation pipeline: payload distribution per type/bucket
    "q_json_stats" -> ((s, d) => graft.ops.JsonOps.propsStats(t(s, d, "events"))),
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      // one view per (user, ts): equal-timestamp right rows would make
      // the matched payload engine-arbitrary
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("value")).as("view_value"))
      graft.ops.AsofJoin.asofBackward(purchases, views, Seq("user_id"),
        "purchase_ts", "view_ts")
    }),
    "q_asof_forward" -> ((s, d) => {
      // next view at-or-after each purchase — the forward twin of
      // q_asof_join over the same deduped view set
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("value")).as("view_value"))
      graft.ops.AsofJoin.asofForward(purchases, views, Seq("user_id"),
        "purchase_ts", "view_ts")
    }),
    "q_vocabulary" -> ((s, d) => TextOps.vocabulary(t(s, d, "documents"))),
    "q_vocab_coverage" -> ((s, d) => TextOps.vocabCoverage(t(s, d, "documents"))),
    "q_range_join" -> ((s, d) => {
      // non-equi containment join: views landing inside the hour after any
      // purchase. No shared key — the bucketed rewrite is the whole point.
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      graft.ops.RangeJoin.pointInInterval(views, purchases,
        graft.ops.RangeJoin.epochMicros(col("view_ts")),
        graft.ops.RangeJoin.epochMicros(col("start_ts")),
        graft.ops.RangeJoin.epochMicros(col("end_ts")),
        bucketWidth = 3600L * 1000000L)
        .select(col("view_id"), col("purchase_id"), col("view_ts"), col("start_ts"))
    }),
    "q_interval_join" -> ((s, d) => {
      // interval-overlap join (session-vs-session shape): view windows
      // against purchase windows, no shared key — the bare non-equi
      // formulation plans as a nested-loop cross product
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("v_start"),
          (col("ts") + expr("INTERVAL 30 MINUTE")).as("v_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
      graft.ops.RangeJoin.intervalOverlap(views, purchases,
        graft.ops.RangeJoin.epochMicros(col("v_start")),
        graft.ops.RangeJoin.epochMicros(col("v_end")),
        graft.ops.RangeJoin.epochMicros(col("p_start")),
        graft.ops.RangeJoin.epochMicros(col("p_end")),
        bucketWidth = 3600L * 1000000L)
        .select(col("view_id"), col("purchase_id"), col("v_start"), col("p_start"))
    }),
    "q_topk_groups" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // line_id = orderkey*10+linenumber is unique (linenumber <= 7), so
      // the score-desc/id-asc tiebreak is total and engine-independent
      TopK.topKPerKey(
        li.select(col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          col("l_extendedprice")),
        "l_suppkey", "line_id", "l_extendedprice", 3)
    }),
    "q_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag").isNotNull && col("l_linestatus").isNotNull)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))),
    "q_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ord = t(s, d, "orders").select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      // the salt must be invisible in the result: same aggregate as the
      // plain-join oracle
      Skew.saltedJoin(li, ord, Seq("okey"), salts = 4)
        .groupBy(col("o_orderpriority"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    // ---- training-data pipeline operators ------------------------------
    "q_text_stats" -> ((s, d) => TextOps.textStats(t(s, d, "documents"))),
    // Unicode NFC normalization through the native codegen'd expression
    // (graft_nfc): the testdata is ASCII, so denormalized combining-mark
    // dirt is injected deterministically (the dirtied-FK precedent) and
    // spelled identically in the oracle; `changed` pins that the fast
    // path leaves clean rows byte-identical while dirty rows compose
    "q_unicode_nfc" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve caf\u00e9")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.nfc(col("t2")).as("norm_text"),
        (TextOps.nfc(col("t2")) =!= col("t2")).as("changed"))
    }),
    // invisible-character stripping (the NFC pair's other half):
    // deterministic zero-width/control dirt injected in both engines —
    // ZWSP U+200B mid-word, BOM U+FEFF prefix, BEL U+0007, soft hyphen
    // U+00AD — n_removed pins the exact per-row char count
    "q_clean_text" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("\uFEFF"), col("text"),
            lit(" zero\u200Bwidth\u0007 soft\u00ADhyphen")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.cleanControlChars(col("t2")).as("clean_text"),
        (length(col("t2")) - length(TextOps.cleanControlChars(col("t2"))))
          .cast("long").as("n_removed"))
    }),
    // NFKC compatibility folding gated on GOLDEN VALUES: the injected
    // dirt (ﬁ ligature U+FB01, full-width Ａ U+FF21, circled ① U+2460)
    // folds to plain ASCII "fine A1", which the oracle states directly —
    // the expected text never contains a non-ASCII char, so the check
    // is byte-exact with zero cross-engine normalization dependence
    "q_unicode_nfkc" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" \ufb01ne \uff21\u2460")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.nfkc(col("t2")).as("norm_text"),
        (TextOps.nfkc(col("t2")) =!= col("t2")).as("changed"))
    }),
    // mojibake repair: the dirt is the double-encoding of a known
    // string (computed here by actually UTF-8-encoding and misreading
    // as Latin-1 — not hand-typed); Spark runs the general guarded
    // decode(encode(...)) repair over the whole column, the oracle
    // states the expected REPAIRED text directly (golden values, the
    // q_multimodal_decode precedent — DuckDB has no encoding surface)
    "q_mojibake" -> ((s, d) => {
      val garbled = new String(
        " café won’t".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(garbled)))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.fixMojibake(col("t2")).as("fixed_text"),
        (TextOps.fixMojibake(col("t2")) =!= col("t2")).as("changed"))
    }),
    // HTML/markup stripping: deterministic markup wraps every 13th
    // document — a script payload with a bare '<' (exercises non-greedy
    // block removal), a style block, a comment, nested tags, and named +
    // decimal + hex + nbsp entities. The oracle runs the SAME three tag
    // regexes (shared constants — the ControlClass convention) and
    // decodes the injected entities by chained replace, exact here
    // because the corpus carries no '&' at all
    "q_html_strip" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(
          lit("<div class=\"x\"><p>"), col("text"),
          lit("</p><script>var x = 1 < 2;</script><style>p { color: red }" +
            "</style><!-- hidden --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>")))
          .otherwise(col("text")).as("t2"))
      dirty.select(col("doc_id"),
        TextOps.stripHtml(col("t2")).as("clean_text"),
        (TextOps.stripHtml(col("t2")) =!= col("t2")).as("changed"))
    }),
    // the FULL crawl->text ingest pipeline, oracle-gated end to end:
    // stripHtml FIRST (entity decode can MANUFACTURE mojibake — a page
    // carrying &#195;&#169; decodes to the double-encoding the repair
    // must then fix; reversed order misses it), fixMojibake BEFORE
    // cleanControlChars (the C1 controls the class strips ARE the
    // repair's evidence — the spec-pinned order contract, now gated),
    // nfc LAST (over repaired + cleaned text). Dirt classes are
    // EXCLUSIVE per row (doc_id % 13 picks one) so each stage's
    // transform is independently checkable in the oracle
    "q_ingest_clean" -> ((s, d) => {
      val garbled = new String(
        " café won’t".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = col("doc_id") % 13
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(m === 0, concat(lit("<div class=\"x\"><p>"), col("text"),
          lit("</p><script>var x = 1 < 2;</script><!-- c --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>")))
        .when(m === 1, concat(col("text"), lit(garbled)))
        .when(m === 2, concat(lit("\uFEFF"), col("text"),
          lit(" zero\u200Bwidth\u0007 soft\u00ADhyphen")))
        .when(m === 3, concat(col("text"), lit(" cafe\u0301 nai\u0308ve caf\u00e9")))
        .otherwise(col("text")).as("t2"))
      val cleaned = TextOps.nfc(TextOps.cleanControlChars(
        TextOps.fixMojibake(TextOps.stripHtml(col("t2")))))
      dirty.select(col("doc_id"), cleaned.as("clean_text"),
        (cleaned =!= col("t2")).as("changed"))
    }),
    // C4 cleaning battery (Raffel et al. 2020 §2.2): the corpus is
    // single-line with no punctuation, so every page is built as a
    // uniform 5-line synthetic document (3 survive the line pass -> 3
    // sentences) plus ONE exclusive dirt class on doc_id % 19: a lorem
    // ipsum template line (page tripwire), a code brace (tripwire), a
    // javascript menu line (LINE dropped, page survives — clean_text
    // must differ), a blocklisted word (tripwire). minSentences = 3 is
    // the synthetic-page calibration of the paper's 5
    "q_c4_rules" -> ((s, d) => {
      val m = col("doc_id") % 19
      val dirty = t(s, d, "documents").select(col("doc_id"), concat(
        col("text"),
        lit(".\nKeep this line yes?\nAnother fine sentence stays here." +
          "\ntoo short.\nno terminal punctuation here"),
        when(m === 0, lit("\nlorem ipsum dolor sit amet."))
          .when(m === 1, lit("\nA brace { landed here."))
          .when(m === 2, lit("\nMenu requires javascript to render."))
          .when(m === 3, lit("\nVisit our casino tonight!"))
          .otherwise(lit(""))).as("text"))
      TextOps.c4Rules(dirty, TextOps.C4Thresholds(minSentences = 3,
        badWords = Seq("casino", "viagra")))
    }),
    // C4's third component: duplicated 3-sentence-span removal, keep
    // first. Pages get a doc-unique opener (carries doc_id + the corpus
    // text), every 4th doc a SHARED 3-sentence block, a doc-unique
    // closer — so exactly one interior shingle repeats across the class,
    // the lowest doc_id keeps it, every later one loses those 3
    // sentences; 2-sentence non-class docs shingle nothing
    "q_dedup_sentences" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"), concat(
        lit("Doc "), col("doc_id").cast("string"), lit(" says "), col("text"), lit("."),
        when(col("doc_id") % 4 === 0,
          lit(" Shared sentence one. Shared sentence two. Shared sentence three."))
          .otherwise(lit("")),
        lit(" Doc "), col("doc_id").cast("string"), lit(" closes now.")).as("text"))
      graft.ops.ExactSubstr.dedupSentenceSpans(dirty)
    }),
    // the end-to-end shard-writer composition: tokenize (frozen merges,
    // ordered) -> chunk by token budget -> concatenate token streams
    // with a </s> boundary per doc. shards = 1 pinned for the exact
    // id-ordered oracle layout (the q_pack_chunks convention); packed
    // emitted as the space-joined stream so the oracle checks content
    // AND order of every token in every chunk
    "q_pack_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // `source` rides segmentTokens' keepCols pass-through: the
      // tokenize pass stays ONE zero-shuffle projection (re-joining
      // source back on would cost a corpus-sized doc_id exchange)
      val toks = graft.ops.Bpe.segmentTokens(docs, collectedMerges(docs, 5),
        keepCols = Seq("source"))
      val chunked = Curate.packChunks(toks, budget = 512, shards = 1)
      Curate.packTokens(chunked)
        .select(col("source"), col("chunk_id"), col("n_docs"),
          array_join(col("packed_tokens"), " ").as("packed"),
          col("n_tokens_packed"))
    }),
    "q_tfidf" -> ((s, d) => TextOps.tfidf(t(s, d, "documents"))),
    // PMI collocations: bigrams bound tighter than their margins predict
    "q_pmi" -> ((s, d) => TextOps.pmiCollocations(t(s, d, "documents"))),
    // Okapi BM25 top-20 for a fixed keyword query
    "q_bm25" -> ((s, d) =>
      TextOps.bm25Rank(t(s, d, "documents"), Seq("hash", "join", "spark"))),
    "q_quantiles" -> ((s, d) =>
      // quarter fractions only: their interpolation factors are exact
      // binary fractions, so Spark and the oracle agree bit-for-bit
      // (Stats scaladoc) — 0.9/0.99 would gate on last-ulp libm luck
      graft.ops.Stats.groupedQuantiles(
        t(s, d, "documents").withColumn("n_tokens", TextOps.tokenCount(col("text"))),
        Seq("source"), "n_tokens", Seq(0.25, 0.5, 0.75))),
    "q_text_quality" -> ((s, d) => TextOps.textQuality(t(s, d, "documents"))),
    "q_lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"))),
    // TRAINED language ID (r15): multi-class hashed-char-trigram Naive
    // Bayes trained on the corpus's own labels in one pass, scored as
    // exact integer-micro per-class logits, argmax with ties to the
    // first class in sorted order — training AND inference replayed
    // bit-for-bit by the oracle (the q_nb_classify precedent)
    "q_lang_id_trained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      trainedLangPredictions(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          (col("predicted_lang") === col("lang")).as("correct"),
          col("n_feats"), col("score_micro"))
    }),
    "q_text_repetition" -> ((s, d) => TextOps.repetition(t(s, d, "documents"))),
    "q_classifier_score" -> ((s, d) =>
      TextOps.scoreLinear(t(s, d, "documents"), ClassifierWeights,
        bias = 7.5, mode = HashMode.Portable)),
    // TRAINED classifier: Naive Bayes log-odds weights fit on the corpus
    // itself (target = src0 docs) in one pass, then scored with the same
    // scoreLinear inference path the static-weight gate uses
    "q_nb_classify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (w, bias) = TextOps.trainNaiveBayes(docs,
        col("source") === "src0", buckets = 64, mode = HashMode.Portable)
      TextOps.scoreLinear(docs, w, bias, mode = HashMode.Portable)
    }),
    // thresholds recalibrated to the synthetic corpus (10-99 words, no
    // newlines/symbols) so the rule booleans actually vary; operator
    // defaults are the published Gopher values
    "q_gopher_rules" -> ((s, d) =>
      TextOps.gopherRules(t(s, d, "documents"),
        TextOps.GopherThresholds(minWords = 30, minMeanWordLen = 4.0,
          minStopwords = 1))),
    "q_bigram_lm" -> ((s, d) => TextOps.bigramLm(t(s, d, "documents"))),
    // order-3 LM layer: trigram stats at the family-default prune, and
    // stupid-backoff document scoring (trigram hit → α-discounted
    // bigram → unk penalty) at the operator defaults
    "q_trigram_lm" -> ((s, d) => TextOps.trigramLm(t(s, d, "documents"))),
    "q_lm_score3" -> ((s, d) => TextOps.lmScore3(t(s, d, "documents"))),
    // order-5 LM (r15 — the KenLM production order): all four backoff
    // models from ONE shared tokenisation, stupid backoff 5→4→3→2 with
    // the α discount compounding per hop (α^j nested right so the
    // double arithmetic is engine-replayable)
    "q_lm_score5" -> ((s, d) => TextOps.lmScore5(t(s, d, "documents"))),
    "q_entropy" -> ((s, d) => TextOps.tokenEntropy(t(s, d, "documents"))),
    "q_lm_score" -> ((s, d) => TextOps.lmScore(t(s, d, "documents"))),
    // DSIR importance scoring: target model = the src0 slice (minCount 2 —
    // a 25-doc reference corpus needs the lower prune bar to carry any
    // bigrams), raw model = the whole corpus at the family default
    "q_dsir" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (tgt, raw) = TextOps.dsirModels(docs, col("source") === "src0")
      TextOps.dsirScore(docs, tgt, raw)
    }),
    // the full DSIR pipeline: scorable docs get an integer weight from the
    // shifted 6dp log-ratio (monotone; exp() would put a transcendental in
    // the gate), then sequential-Poisson weighted sampling picks k = 25
    "q_dsir_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (tgt, raw) = TextOps.dsirModels(docs, col("source") === "src0")
      val scored = TextOps.dsirScore(docs, tgt, raw)
      val weighted = docs.join(
        scored.filter(col("n_bigrams") > 0)
          .select(col("doc_id"),
            greatest(lit(1L),
              round((col("log_ratio") + lit(10.0)) * 1000, 0).cast("long"))
              .as("dsir_w")),
        Seq("doc_id"))
      Curate.weightedSample(weighted, k = 25, weightCol = "dsir_w",
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("dsir_w"))
    }),
    // DSIR under the order-3 backoff model (r15): all four models (target
    // tri/bi at prune 2, raw tri/bi at the 3/5 family defaults) from ONE
    // grouped tokenisation; each side backs off trigram → α·bigram → unk
    "q_dsir3" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (tt, tb, rt, rb) = TextOps.dsirModels3(docs, col("source") === "src0")
      TextOps.dsirScore3(docs, tt, tb, rt, rb)
    }),
    // the order-3 DSIR pipeline composed end to end (the q_dsir_sample
    // recipe over the backoff score): scorable docs weighted by the
    // shifted 6dp log-ratio, then sequential-Poisson weighted sampling
    "q_dsir3_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (tt, tb, rt, rb) = TextOps.dsirModels3(docs, col("source") === "src0")
      val scored = TextOps.dsirScore3(docs, tt, tb, rt, rb)
      val weighted = docs.join(
        scored.filter(col("n_trigrams") > 0)
          .select(col("doc_id"),
            greatest(lit(1L),
              round((col("log_ratio") + lit(10.0)) * 1000, 0).cast("long"))
              .as("dsir_w")),
        Seq("doc_id"))
      Curate.weightedSample(weighted, k = 25, weightCol = "dsir_w",
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("dsir_w"))
    }),
    "q_ppl_buckets" -> ((s, d) => TextOps.perplexityBuckets(t(s, d, "documents"))),
    "q_ppl_buckets3" -> ((s, d) => TextOps.perplexityBuckets3(t(s, d, "documents"))),
    "q_ppl_buckets5" -> ((s, d) => TextOps.perplexityBuckets5(t(s, d, "documents"))),
    // the CCNet pipeline composed end to end (r15): trained language ID
    // splits the corpus, the per-language LM trains ON THE SLICE, the
    // quartile split buckets it — language-split-then-score is CCNet's
    // actual architecture, and every stage is an already-gated
    // operator; the gate is the SEAMS
    "q_ccnet_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val en = docs.join(
        trainedLangPredictions(docs)
          .filter(col("predicted_lang") === "en")
          .select(col("doc_id")),
        Seq("doc_id"))
      TextOps.perplexityBuckets(en)
    }),
    // the per-language LM DISPATCH (r16) — q_ccnet_pipeline generalised
    // from one slice to CCNet's actual deployment shape: one persisted
    // LmIndex PER predicted language (buildPerLang — every model from
    // ONE keyed tokenisation pass, never a filtered scan per language),
    // then every document scored against ITS OWN language's model
    // through one (lang, w1, w2) join (scoreByLang — one corpus pass +
    // one join + one aggregation for any number of languages). The gate
    // is the dispatch seams: slice-local training, lang-keyed model
    // selection, per-language prune — the oracle recomputes all five
    // models as lang-keyed aggregations and must match every row.
    "q_ccnet_dispatch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labeled = docs.join(
        trainedLangPredictions(docs)
          .select(col("doc_id"), col("predicted_lang")),
        Seq("doc_id"))
      val dir = s"$gateScratch/ccnetlm_${math.abs(d.hashCode)}"
      graft.ops.LmIndex.buildPerLang(labeled, dir)
      graft.ops.LmIndex.scoreByLang(s, dir, labeled)
    }),
    // the WAT link-graph seam (r15): envelope outlinks exploded
    // (WetOps.watLinks), hosts parsed by the gated URL decomposition,
    // per-target-host in-link degree — how real pipelines build the
    // web graph without parsing HTML
    "q_wat_links" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val links = graft.ops.WetOps.watLinks(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.watPayloads(s, ids)))
      graft.ops.UrlOps.parseUrls(links.withColumn("url", col("link")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),
    "q_vocab_drift" -> ((s, d) => TextOps.vocabDrift(t(s, d, "documents"))),
    // PSI of each source's length profile against the corpus (bin = 50 chars)
    "q_psi" -> ((s, d) =>
      graft.ops.Stats.psiByGroup(t(s, d, "documents"), "n_chars", "source",
        binWidth = 50)),
    // per-group Pearson correlation from exact DECIMAL(38,0) power sums
    // (built-in corr is shuffle-order-nondeterministic in its last ulp)
    "q_corr" -> ((s, d) =>
      graft.ops.Stats.corrByGroup(t(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")),
    // equi-width histogram of event values per type (bin = 25.0 units)
    "q_histogram" -> ((s, d) =>
      graft.ops.Stats.histogramByGroup(t(s, d, "events"), "event_type",
        "value", binWidth = 25.0)),
    // robust MAD outliers: |v - med| > 3 * MAD per event type
    "q_outliers" -> ((s, d) =>
      graft.ops.Stats.madOutliers(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id"))),
    // Tukey-fence winsorization: clip into [p25-1.5*IQR, p75+1.5*IQR]
    "q_winsorize" -> ((s, d) =>
      graft.ops.Stats.winsorize(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id"))),
    // CUBE subtotals with the standard GROUPING() bitmask
    "q_cube" -> ((s, d) => Analytics.cubeSummary(t(s, d, "lineitem"))),
    // SCD type-2 history of each customer's order-status runs
    "q_scd2" -> ((s, d) =>
      Analytics.scd2(t(s, d, "orders"), "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current"))),
    "q_boilerplate" -> ((s, d) => Curate.boilerplateRatio(t(s, d, "documents"))),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprintGroups(t(s, d, "documents"))),
    "q_dedup_exact" -> ((s, d) => TextOps.dedupExact(t(s, d, "documents"))),
    "q_containment" -> ((s, d) =>
      NearDup.containmentPairs(t(s, d, "documents"), threshold = 0.5,
        maxShingleDf = 100)),
    "q_dedup_ngram" -> ((s, d) => NearDup.ngramPairs(t(s, d, "documents"))),
    "q_substr_spans" -> ((s, d) =>
      ExactSubstr.duplicatedSpans(t(s, d, "documents"), l = 20)),
    // the doc-level duplication score a RefinedWeb-style budget filter
    // thresholds on: span cover size / token count, 0.0 for clean and
    // sub-window-length docs (total — every doc emits a row)
    "q_dup_fraction" -> ((s, d) =>
      ExactSubstr.dupFraction(t(s, d, "documents"), l = 20)),
    "q_substr_strip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      ExactSubstr.stripSpans(docs, ExactSubstr.duplicatedSpans(docs, l = 20))
    }),
    // Bloom-probe twin gated on the exact semantics (same precedent as
    // q_decontaminate_bloom): at fpp 1e-6 over this corpus the flag path
    // is output-identical to the span pipeline, and the oracle proves it
    "q_substr_strip_flag" -> ((s, d) => {
      val docs = t(s, d, "documents")
      ExactSubstr.stripSubstrFlag(docs,
        ExactSubstr.frequentWindows(docs, l = 20), l = 20)
    }),
    // hash-based dedup ops run in HashMode.Portable here so the DuckDB
    // oracle can recompute identical signatures; the library default stays
    // xxhash64. Bench resolves THIS map, so it times the Portable path —
    // deliberately: the benched code is exactly the hash-gated code
    // (within ~6% of xxhash64 after the double-hashing rewrite, PERF.md)
    "q_dedup_minhash" -> ((s, d) =>
      NearDup.minhashPairs(t(s, d, "documents"), mode = HashMode.Portable)),
    "q_dedup_simhash" -> ((s, d) =>
      NearDup.simhashPairs(t(s, d, "documents"), maxHamming = 3, mode = HashMode.Portable)),
    "q_winnow_pairs" -> ((s, d) =>
      NearDup.winnowPairs(t(s, d, "documents"), mode = HashMode.Portable)),
    "q_dedup_cluster" -> ((s, d) => {
      val docs = t(s, d, "documents")
      NearDup.canonicalDocs(docs, NearDup.minhashPairs(docs, mode = HashMode.Portable))
        .select(col("doc_id"), col("cluster"), col("is_canonical"))
    }),
    // keep-best policy: longest text survives each cluster (n_chars is an
    // integer score — cross-engine argmax with no float comparison)
    "q_dedup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      NearDup.canonicalDocsBest(docs,
        NearDup.minhashPairs(docs, mode = HashMode.Portable), "n_chars")
        .select(col("doc_id"), col("cluster"), col("canonical_id"),
          col("is_canonical"))
    }),
    "q_dedup_embedding" -> ((s, d) => VectorOps.embeddingPairs(t(s, d, "embeddings"))),
    // SemDeDup: cluster-blocked (unsupervised) embedding dedup; 0.4 fires
    // on this corpus (its cosine ceiling ~0.5 — the default 0.9 is the
    // real-embedding near-dup regime and would gate a vacuous result)
    "q_dedup_semantic" -> ((s, d) =>
      VectorOps.semanticPairs(t(s, d, "embeddings"), threshold = 0.4)),
    "q_dedup_semantic_mp" -> ((s, d) =>
      VectorOps.semanticPairsMultiProbe(t(s, d, "embeddings"), threshold = 0.4,
        probes = 2)),
    "q_dedup_semantic_pq" -> ((s, d) =>
      // margin 0.4 → prefilter cut 0.0: retains all true pairs on this
      // corpus (11/11, vs 4/11 at margin 0.2 — k=16 quantization error is
      // wide at low thresholds) while still pruning the sub-zero bulk
      graft.ops.PQ.semanticPairsPq(t(s, d, "embeddings"), threshold = 0.4,
        margin = 0.4, iterations = 1)),
    "q_ann_brute" -> ((s, d) => VectorOps.annBrute(t(s, d, "embeddings"))),
    // fixed-similarity twin of annBrute: all neighbors within the radius,
    // zero exchanges (broadcast probes × scan, threshold fused in the scan)
    "q_ann_radius" -> ((s, d) => VectorOps.annRadius(t(s, d, "embeddings"))),
    "q_ann_ivf" -> ((s, d) => VectorOps.annIvf(t(s, d, "embeddings"))),
    // D4-style diversification: nearest-centroid assignment + lowest-id
    // quota per semantic cluster
    "q_cluster_sample" -> ((s, d) =>
      VectorOps.clusterSample(t(s, d, "embeddings"), nCentroids = 8, cap = 40)),
    // the radius search's scale path: same coarse pruning, threshold tail
    "q_ann_radius_ivf" -> ((s, d) => VectorOps.annIvfRadius(t(s, d, "embeddings"))),
    // exercises the Lloyd refinement path end-to-end: the oracle replicates
    // one k-means iteration bit-for-bit (decimal-accumulated per-dim means)
    "q_ann_ivf_refined" -> ((s, d) =>
      VectorOps.annIvf(t(s, d, "embeddings"), kmeansIters = 1)),
    // the Lloyd TRAINING loop gated on its own output: 2 deterministic
    // iterations from lowest-id seeds, refined centroids emitted one row
    // per (cid, dim) — the quantizer every IVF/PQ/cluster-sample query
    // consumes, now an oracle-checked artifact rather than an internal
    "q_kmeans" -> ((s, d) =>
      VectorOps.kmeansCentroids(
          VectorOps.prepared(t(s, d, "embeddings")), k = 8, iterations = 2)
        .select(col("cid"), posexplode(col("cv")).as(Seq("dim", "m")))
        .select(col("cid"), col("dim").cast("long").as("dim"), col("m"))),
    // the full PQ path — seed codebooks, one Lloyd round (decimal means,
    // empty codes keep their centroid), engine-exact encode (rounded
    // ‖c‖²−2s·c argmin), table scoring, exact re-rank — replicated in SQL
    "q_ann_pq" -> ((s, d) =>
      PQ.annPq(t(s, d, "embeddings"), m = 8, k = 16, iterations = 1)),
    // IVF coarse pruning composed with the same PQ scoring tail
    "q_ann_ivfpq" -> ((s, d) =>
      PQ.annIvfPq(t(s, d, "embeddings"), m = 8, k = 16, iterations = 1)),
    // the PERSISTED PQ artifact (r16): codebooks trained once and frozen,
    // the corpus stored as m-byte codes + exact norms (never raw
    // vectors), searches scanning codes with per-probe lookup tables and
    // exactly re-ranking only the topK×rerank survivors against the raw
    // corpus. Same parameters as q_ann_pq, so the gate pins
    // build→search ≡ the self-contained annPq — the determinism claim
    // that makes a build-once artifact trustworthy — and the oracle is
    // the SAME replayed SQL (annPqSql), shared not duplicated.
    "q_ann_pq_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"$gateScratch/pqindex_${math.abs(d.hashCode)}"
      graft.ops.PqIndex.build(emb, dir, m = 8, k = 16, iterations = 1)
      val probes = VectorOps.prepared(emb).filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v"), col("nrm"))
      graft.ops.PqIndex.search(s, dir, probes, topK = 5, rerank = 4,
        exactFrom = Some(emb))
    }),
    "q_multimodal_meta" -> ((s, d) => Multimodal.extractMeta(t(s, d, "documents"))),
    // VIDEO container probing (MP4/ISO-BMFF + WebM/Matroska): header-only
    // — box/EBML walks are fully-specified byte arithmetic, so dims,
    // duration, and codec id are deterministic and oracle-recomputable
    // from the closed-form fixture formulas without any codec library
    // (training corpora increasingly carry video; the metadata pass is
    // what a curation pipeline filters on before paying for decode).
    // Bounded fixture (doc_id < 120), O(1) in sf; even ids MP4, odd WebM.
    "q_video_meta" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.MediaProbe.probeMeta(s,
        graft.ops.MediaProbe.videoPayloads(s, ids))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("codec"))
    }),
    // container-payload perceptual VIDEO hash — the audioDhash
    // construction over the container's MEDIA bytes (mdat / Cluster),
    // codec-free: byte-position lanes (i mod 4) × 17-slot grid energies,
    // bit set iff the next slot is strictly louder. Both container
    // families carry the SAME closed-form payload formula, so the hash
    // sees through the wrapper (re-mux invariance — pinned in
    // MediaTransformSpec); the oracle recomputes lanes, exact Σv²
    // energies, strict comparisons and the two's-complement packing
    // from the formulas alone. Wavy i² fixture (q_audio_dhash lesson);
    // bounded (doc_id < 120).
    "q_video_dhash" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.MediaTransform.videoDhash(s,
        graft.ops.MediaProbe.videoPayloads(s, ids))
    }),
    // WARC crawl-container ingest (the q_video_meta recipe on ISO 28500
    // framing): synthetic WARC files — gzip member-per-record on even
    // ids, plain on odd — with every record field a closed-form function
    // of (doc_id, response ordinal), parsed back by the byte-walk and
    // COMPOSED with the crawl pipeline's next steps (parseUrls on the
    // target URI, extractLinks on the html payloads). The oracle
    // recomputes all of it from the formulas: record framing, the gzip
    // walk, HTTP envelope fields, URL decomposition, and link
    // extraction are all on the hook. Bounded fixture (doc_id<120).
    "q_warc_records" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val recs = graft.ops.WarcOps.parseWarc(s,
          graft.ops.WarcOps.warcPayloads(s, ids))
        .filter(col("warc_type") === "response")
        // the file's warcinfo record holds ordinal 0; rec_index here is
        // the RESPONSE ordinal the fixture formulas run on. payload_text
        // is the parser's DECLARED-charset decode (the latin-1 class
        // reads back its 0xE9 byte as the intended character — a UTF-8
        // cast would mangle it to the replacement char)
        .withColumn("rec_index", col("rec_index") - 1)
        .withColumn("rid", col("doc_id") * 10 + col("rec_index"))
      val links = graft.ops.UrlOps.extractLinks(
          recs.select(col("rid"), col("payload_text")),
          textCol = "payload_text", idCol = "rid")
        .groupBy(col("rid"))
        .agg(count(lit(1)).as("n_links"), min(col("href")).as("first_href"))
      graft.ops.UrlOps.parseUrls(recs.withColumn("url", col("target_uri")))
        .join(links, Seq("rid"), "left")
        .select(col("doc_id"), col("rec_index"), col("target_uri"),
          col("warc_date"), col("http_status"), col("content_type"),
          col("charset"), col("host"), col("path"), col("payload_text"),
          coalesce(col("n_links"), lit(0L)).as("n_links"), col("first_href"))
    }),
    // the FILE reader itself on the oracle hook: the synthetic WARC
    // fixtures are written to gate scratch as real files (gzip members
    // on even ids, plain on odd — same bytes as q_warc_records's
    // in-memory frame), read back through the production binaryFile
    // entry (readWarc: scan → per-file byte-walk), the doc id
    // re-derived from the file PATH. Any divergence between the disk
    // path and the in-memory path — glob, content sniff, per-file
    // framing — mismatches rows the q_warc_records formulas pin.
    "q_warc_files" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.readWarc(s, warcFixtureDir(s, d, ids))
        .withColumn("doc_id",
          regexp_extract(col("path"), "doc_([0-9]+)[.]warc", 1).cast("long"))
        .filter(col("warc_type") === "response")
        .withColumn("rec_index", col("rec_index") - 1)
        .select(col("doc_id"), col("rec_index"), col("target_uri"),
          col("warc_date"), col("http_status"), col("content_type"),
          col("charset"))
    }),
    // the rec_offset CONSUMER (r16) — CDX-driven random access, composed
    // end to end: the same on-disk fixture shards are indexed (cdx →
    // writeCdx's range layout), a SURT PREFIX lookup selects one host
    // class (doc_id % 7 == 3 — manifest-pruned readCdxPrefix), and each
    // hit is fetched INDIVIDUALLY by its (path, rec_offset) anchor —
    // a bounded range read + one-record parse (fetchRecords), never a
    // shard rescan. Offsets land on version lines for plain files and
    // on gzip member starts for .warc.gz (both classes in the fixture:
    // even ids gzipped, odd plain), and the fetched records' envelope
    // AND declared-charset body decode must match the closed-form
    // formulas — any drift in offset bookkeeping, the member seek, or
    // the one-record parse mismatches rows the oracle recomputes.
    "q_warc_fetch" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val dir = warcFixtureDir(s, d, ids)
      val cdxDir = s"$gateScratch/warcfetch_cdx_${math.abs(d.hashCode)}"
      graft.ops.WarcOps.writeCdx(
        graft.ops.WarcOps.cdx(graft.ops.WarcOps.readWarc(s, dir)), cdxDir)
      val hits = graft.ops.WarcOps.readCdxPrefix(s, cdxDir, "example,site3)")
      graft.ops.WarcOps.fetchRecords(s,
          hits.select(col("path"), col("rec_offset")))
        .select(
          regexp_extract(col("target_uri"), "/page/([0-9]+)/[0-9]+$", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("target_uri"), "/page/[0-9]+/([0-9]+)$", 1)
            .cast("long").as("rec_index"),
          col("target_uri"), col("warc_date"), col("http_status"),
          col("payload_text"))
    }),
    // the CDX lookup projection (web-archive index rows): SURT urlkey
    // over the fixture URIs — host labels reversed, the prefix-scan
    // property — plus capture time, status and the random-access
    // anchor columns; the oracle recomputes urlkey/date/status from
    // the fixture formulas (rec_offset is spec-pinned byte arithmetic,
    // deliberately outside the SQL oracle).
    "q_warc_cdx" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.cdx(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WarcOps.warcPayloads(s, ids)))
        .select(col("doc_id"), col("rec_index"), col("urlkey"),
          col("warc_date"), col("http_status"), col("payload_digest"))
    }),
    // revisit resolution (ISO 28500 §6.7.2 — the digest-keyed dedup
    // mechanism Common-Crawl-style crawls ship): every doc's response
    // record shares its WARC-Payload-Digest with the doc%10 residue
    // class, so the canonical original is the LOWEST doc of the class;
    // each file carries one resolvable revisit and one whose digest no
    // response carries (orig nulls — the un-ingested-shard posture).
    "q_warc_revisit" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.resolveRevisits(
        graft.ops.WarcOps.parseWarc(s,
          graft.ops.WarcOps.warcRevisitPayloads(s, ids)))
    }),
    // the <meta> charset prescan (WHATWG precedence): five html
    // response classes per file — meta-only iso-8859-1 (the 0xE9 byte
    // only the SNIFFED decode reads back), header utf-8 vs a
    // conflicting meta (the header must win or the two-byte é comes
    // back as mojibake), the http-equiv/content form declaring
    // windows-1252 (0x93 → U+201C), a DECOY charset= inside an og:url
    // attribute value ahead of the real charset attribute (only the
    // attribute-position scan picks iso-8859-1 over big5), and a
    // response with NO Content-Type header at all (the legacy class
    // that relies entirely on its meta — must still sniff). The
    // charset COLUMN stays the header declaration (null on the
    // meta-only classes) — the oracle distinguishes declared from
    // sniffed on every row.
    "q_warc_meta_charset" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.parseWarc(s,
          graft.ops.WarcOps.warcMetaPayloads(s, ids))
        .select(col("doc_id"), col("rec_index"), col("charset"),
          col("payload_text"))
    }),
    // WET companion format (r15): conversion records over the SAME
    // ISO 28500 byte-walk — synthetic WET files (gzip member-per-record
    // on even ids, plain on odd) with every field closed-form; the
    // projection is the exact (doc_id, text) shape the cleaning chain
    // consumes. rec_index re-based to the conversion ordinal (the
    // warcinfo record holds ordinal 0 — the q_warc_records discipline).
    "q_wet_records" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WetOps.parseWet(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.wetPayloads(s, ids)))
        .withColumn("rec_index", col("rec_index") - 1)
    }),
    // WAT companion format (r15): metadata records' JSON envelopes
    // through the declared schema — title/link extraction on the hook,
    // plus the malformed-envelope class pinned to null fields
    "q_wat_records" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WetOps.parseWat(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.watPayloads(s, ids)))
        .withColumn("rec_index", col("rec_index") - 1)
    }),
    // REAL pixel/sample decode: payloads synthesized from a closed-form
    // modular formula through the actual JDK codecs (PNG/BMP via
    // javax.imageio, PCM WAV via javax.sound), decoded back and reduced
    // to per-channel stats; the oracle recomputes the stats from the
    // formula alone — encoder plumbing, decoder, channel order, and
    // endianness are all on the hook. Bounded fixture set (doc_id<120)
    // keeps the gate O(1) at any sf.
    "q_multimodal_decode" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaDecode.decodeStats(s, MediaDecode.syntheticPayloads(s, ids))
    }),
    // nearest-neighbor resize, gated PER OUTPUT PIXEL: every resized
    // value must equal pixelValue(doc, c, (x*w)/outW, (y*h)/outH) — the
    // floor mapping in exact integer arithmetic, so the oracle names the
    // exact source pixel each output position samples. WAV rows in the
    // same fixture set exercise the non-image marker path.
    "q_image_resize" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaTransform.resizePixels(
        s, MediaDecode.syntheticPayloads(s, ids), outW = 6, outH = 4)
    }),
    // perceptual image hash: 9x8 nearest-neighbor grid, integer ITU-R
    // 601 luma, strict right-neighbour-brighter bits — every one of the
    // 64 bits recomputed by the oracle from the fixture formula; WAV
    // rows gate the null-marker path. Feed the hashes to the simhash
    // Hamming banding for corpus-scale perceptual dedup.
    "q_image_dhash" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      // the WAVY pixel formula (strides 97/131 wrap the byte ring):
      // the stride-7 ramp is monotone within a row, which would reduce
      // every difference bit to "did the grid column advance" — a
      // dims-only hash and a nearly vacuous gate
      MediaTransform.dhash(s, MediaDecode.syntheticPayloads(
        s, ids, img = MediaDecode.syntheticImageWavy))
    }),
    // perceptual near-dup END TO END: dHash fingerprints through the
    // SAME pigeonhole Hamming banding as text simhash (hammingPairs —
    // one engine, any 64-bit fingerprint). Fixture: per image doc a
    // cross-CODEC duplicate (bmp of the same pixels — must pair at
    // Hamming 0) and a one-pixel-perturbed near-duplicate (distance
    // formula-determined, oracle-recomputed). Banding is recall-
    // lossless, so the oracle's brute-force bit_count(xor) filter IS
    // the semantics.
    "q_dedup_perceptual" -> ((s, d) => {
      val ids = t(s, d, "documents")
        .filter(col("doc_id") < 60 && col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      NearDup.hammingPairs(
        MediaTransform.dhash(s, MediaDecode.perceptualPayloads(s, ids)),
        maxHamming = 8, hashCol = "dhash")
    }),
    // the INCREMENTAL perceptual-dedup path, gated through the PERSISTED
    // artifact (r16): the corpus is dHashed, banded, and WRITTEN once
    // (HammingIndex.build — data + pinned kind/bits/maxHamming
    // metadata); later arrivals — each the bmp re-encode of a corpus
    // image, the cross-codec duplicate arriving after the fact — probe
    // the stored bands (HammingIndex.probe reads the radius FROM the
    // metadata) without the corpus being re-hashed or re-banded. Each
    // arrival doc_id maps to corpus doc (doc_id - 60), so every arrival
    // must surface its twin at Hamming 0 (plus whatever
    // formula-determined near pairs exist).
    "q_dedup_perceptual_probe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpusIds = docs
        .filter(col("doc_id") < 60 && col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      val corpus = MediaDecode.syntheticPayloads(
        s, corpusIds, img = MediaDecode.syntheticImageWavy)
      val arrivalIds = docs
        .filter(col("doc_id") >= 60 && col("doc_id") < 120 &&
          col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      val arrivals = MediaDecode.syntheticPayloads(s, arrivalIds,
        img = (doc, _) => MediaDecode.syntheticImageWavy(doc - 60, "bmp"))
      val dir = s"$gateScratch/hammingix_${math.abs(d.hashCode)}"
      graft.ops.HammingIndex.build(MediaTransform.dhash(s, corpus), dir,
        maxHamming = 8, kind = "image-dhash", hashCol = "dhash")
      graft.ops.HammingIndex.probe(s, dir, MediaTransform.dhash(s, arrivals),
        expectedKind = "image-dhash", hashCol = "dhash")
    }),
    // JPEG RUNTIME decode, gated by INVARIANTS: JPEG pixel values are
    // IDCT-implementation-dependent, so no value-exact cross-engine
    // oracle is possible — instead the query decodes the lossy fixture
    // AND its lossless same-pixels PNG twin, and emits per doc the one
    // value-exact fact (n = w*h from the closed-form dims, which the
    // oracle recomputes) plus booleans the oracle expects TRUE:
    // channel means within ±4 counts of the twin's (measured worst
    // case 1.37), two independent decode passes byte-agree on every
    // stat, and the dHash is non-null within 16/64 bits of the twin's
    // (measured worst case 7 — a JPEG re-encode must stay a NEAR-DUP
    // under perceptual dedup, which is the whole point of decoding
    // JPEG at runtime). Bounded fixture (doc_id < 120), O(1) in sf.
    "q_jpeg_decode" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val jp = MediaDecode.jpegPayloads(s, ids)
      val twin = MediaDecode.jpegPayloads(s, ids,
        payload = MediaDecode.syntheticJpegTwin)
      def st(p: DataFrame, pfx: String) = MediaDecode.decodeStats(s, p)
        .select(col("doc_id"), col("channel"), col("n").as(pfx + "_n"),
          col("v_mean").as(pfx + "_mean"), col("v_min").as(pfx + "_min"),
          col("v_max").as(pfx + "_max"))
      val a = st(jp, "a")
      // genuinely independent second decode pass: each decodeStats call
      // plans a FRESH RDD lineage (perPayload goes through .rdd, and
      // LogicalRDD canonicalizes by rdd id), so ReuseExchange cannot
      // collapse the two sides into one computed result — det_ok
      // compares two real executions, not a value to itself
      val b = st(jp, "b")
      val tw = st(twin, "t")
      val perChan = a.join(b, Seq("doc_id", "channel"))
        .join(tw, Seq("doc_id", "channel"))
      val perDoc = perChan.groupBy("doc_id").agg(
        max(col("a_n")).as("n"),
        min((abs(col("a_mean") - col("t_mean")) <= 4.0).cast("boolean"))
          .as("mean_ok"),
        min((col("a_n") === col("b_n") && col("a_mean") === col("b_mean") &&
          col("a_min") === col("b_min") && col("a_max") === col("b_max"))
          .cast("boolean")).as("det_ok"))
      val hj = MediaTransform.dhash(s, jp)
        .select(col("doc_id"), col("dhash").as("h_jpeg"))
      val ht = MediaTransform.dhash(s, twin)
        .select(col("doc_id"), col("dhash").as("h_twin"))
      perDoc.join(hj, "doc_id").join(ht, "doc_id")
        .select(col("doc_id"), lit("jpeg").as("format"), col("n"),
          col("mean_ok"), col("det_ok"),
          (col("h_jpeg").isNotNull &&
            expr("bit_count(h_jpeg ^ h_twin)") <= 16).as("hash_ok"))
    }),
    // audio energy-contour hash (the dHash audio twin): 17-slot floor-
    // mapped time grid, per-(channel, slot) exact Σv² energy, strict
    // louder-than bits folded across channels — every bit recomputed by
    // the oracle; empty grid slots (nFrames < 17) pin the zero-energy
    // convention; PNG/BMP rows gate the null-marker path
    "q_audio_dhash" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      // the WAVY fixture formula (stride 4409 wraps the 16-bit ring):
      // the stride-7 ramp is monotone over these short clips, so every
      // energy comparison would degenerate to 0 and the gate would be
      // vacuous — slot energies must genuinely rise and fall
      MediaTransform.audioDhash(s, MediaDecode.syntheticPayloads(
        s, ids, wav = MediaDecode.syntheticWavWavy))
    }),
    // fixed-window PCM frame-sampling with exact Long Σv / Σv² energy
    // stats per (channel, window); nFrames 16..32 against frameWin=8
    // exercises full AND partial trailing windows; PNG/BMP rows in the
    // fixture set exercise the non-audio marker path.
    "q_audio_frames" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaTransform.frameStats(
        s, MediaDecode.syntheticPayloads(s, ids), frameWin = 8)
    }),
    // ---- corpus curation ------------------------------------------------
    "q_sample_hash" -> ((s, d) =>
      Curate.sampleByHash(t(s, d, "documents"), "doc_id", 10, HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"))),
    // snapshot diff against a derived "tomorrow": every 7th doc removed,
    // every remaining 10th edited, adds synthesized above the id space
    "q_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tomorrow = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      Curate.snapshotDiff(docs, tomorrow)
    }),
    // ---- URL/domain curation (SURVEY r7 backlog) -----------------------
    // testdata has no URL column, so the gated queries parse a synthetic
    // url derived from (doc_id, source) — see docsWithUrl; the operators
    // themselves are generic over any url column
    "q_url_parse" -> ((s, d) =>
      UrlOps.parseUrls(docsWithUrl(s, d))
        .select(col("doc_id"), col("scheme"), col("host"), col("port"),
          col("path"), col("query"), col("domain"))),
    "q_domain_cap" -> ((s, d) =>
      UrlOps.capPerDomain(docsWithUrl(s, d), cap = 3)
        .select(col("doc_id"), col("source"))),
    "q_domain_blocklist" -> ((s, d) =>
      UrlOps.dropBlockedDomains(docsWithUrl(s, d),
        Seq("src3.com", "src7.co.uk"))
        .select(col("doc_id"), col("source"), col("lang"))),
    "q_domain_stats" -> ((s, d) => UrlOps.domainMix(docsWithUrl(s, d))),
    "q_url_dedup" -> ((s, d) => UrlOps.dedupUrls(docsWithUrl(s, d))),
    // crawl-graph link extraction: anchors injected on doc_id % 9 == 0
    // (the corpus carries no '<') — a double-quoted href, a
    // single-quoted href on a decorated tag, an UNQUOTED href (valid
    // HTML, the third value style), and an href-LESS anchor that must
    // occupy link_pos 3 without emitting a row; composed with parseUrls
    // so host + registrable domain gate end to end
    "q_extract_links" -> ((s, d) =>
      UrlOps.parseUrls(UrlOps.extractLinks(docsWithAnchors(s, d)), "href")
        .select(col("doc_id"), col("link_pos"), col("href"),
          col("host"), col("domain"))),
    // robots.txt ingestion (RFC 9309): closed-form robots documents —
    // comment lines, an orphan rule before any group (ignored per
    // spec), key case varying by doc, a two-ua RUN sharing one group,
    // colon-carrying sitemap values — parsed to directive rows. The
    // oracle enumerates the expected rows from the formulas (group
    // numbers KNOWN by construction), never re-parsing text.
    "q_robots_rules" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      UrlOps.parseRobots(ids.select(col("doc_id"), robotsFixtureText.as("text")))
    }),
    // the permission join over the parsed rules: agent "bot1" owns a
    // group on doc_id%4==1 hosts (deny-all there — own group outranks
    // *), every other host falls to the * group where the longest
    // prefix decides (/privateK/ blocks, the longer /privateK/public
    // allow overrides, unmatched paths pass).
    "q_robots_filter" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val rules = UrlOps.parseRobots(
        ids.select(col("doc_id"), robotsFixtureText.as("text")))
      val k = (col("doc_id") % 5).cast("string")
      val urls = ids
        .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
          when(col("j") === 0, concat(lit("/private"), k, lit("/x")))
            .when(col("j") === 1, concat(lit("/private"), k, lit("/public/y")))
            .when(col("j") === 2, lit("/other"))
            .otherwise(lit("/")).as("path"))
      UrlOps.robotsAllowed(rules, urls, agent = "bot1")
        .select(col("doc_id"), col("url_id"), col("path"), col("allowed"))
    }),
    // the COMPOSED crawl-frontier pipeline, gated end to end: markup →
    // links (extractLinks) → canonical-URL dedup (dedupUrls — the org/
    // net link classes collide across pages, the lowest link id
    // survives) → URL layer (parseUrls on the canonical) → per-HOST
    // robots permission join (org hosts disallow /q; net hosts carry a
    // crawl-delay; com hosts have no robots at all — the no-rules
    // default) → politeness schedule over the allowed survivors. The
    // oracle recomputes every stage relationally from the anchor
    // fixture formulas: href extraction, canonicalization, min-id
    // survivorship, the permission verdicts, and the slot arithmetic.
    "q_crawl_frontier" -> ((s, d) => {
      val links = UrlOps.extractLinks(docsWithAnchors(s, d))
        .withColumn("url_id", col("doc_id") * 10 + col("link_pos"))
      val surv = UrlOps.parseUrls(
        UrlOps.dedupUrls(links, urlCol = "href", idCol = "url_id"),
        "url_canon")
        .select(col("host"), col("url_id"), col("path"))
      val robots = surv.select(col("host")).distinct()
        .select(col("host"),
          when(col("host").endsWith(".org"),
            lit("User-agent: *\nDisallow: /q\n"))
            .when(col("host").endsWith(".net"),
              lit("User-agent: *\nCrawl-delay: 2\nDisallow: /private\n"))
            .otherwise(lit(null)).as("text"))
        .filter(col("text").isNotNull)
      val rules = UrlOps.parseRobots(robots, idCol = "host")
      val allowed = UrlOps.robotsAllowed(rules, surv,
        agent = "graftbot", keyCol = "host")
        .filter(col("allowed"))
      UrlOps.crawlSchedule(allowed, rules, agent = "graftbot",
        keyCol = "host")
        .select(col("host"), col("url_id"), col("path"),
          col("slot"), col("delay_s"), col("offset_s"))
    }),
    // §2.2.3 wildcard matching (the optional-in-RFC, ubiquitous-in-
    // practice rule syntax): `*` spans any sequence, trailing `$`
    // anchors at the path end, longest rule still decides with allow
    // winning ties. Verdicts are closed-form: j=0 hits the bare `/dK*`
    // disallow, j=1 the longer `/dK*/keep` allow overrides, j=2 the
    // `$`-anchored disallow, j=3 escapes the anchor by one char.
    "q_robots_wildcard" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val k3 = (col("doc_id") % 3).cast("string")
      val k5 = (col("doc_id") % 5).cast("string")
      val text = concat(
        lit("User-agent: *\nDisallow: /d"), k3,
        lit("*\nAllow: /d"), k3, lit("*/keep\nDisallow: /end"), k5,
        lit("$\n"))
      val rules = UrlOps.parseRobots(ids.select(col("doc_id"), text.as("text")))
      val urls = ids
        .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
          when(col("j") === 0, concat(lit("/d"), k3, lit("abc")))
            .when(col("j") === 1, concat(lit("/d"), k3, lit("z/keep")))
            .when(col("j") === 2, concat(lit("/end"), k5))
            .otherwise(concat(lit("/end"), k5, lit("x"))).as("path"))
      UrlOps.robotsAllowed(rules, urls, agent = "anybot", wildcards = true)
        .select(col("doc_id"), col("url_id"), col("path"), col("allowed"))
    }),
    // sitemap XML ingestion (sitemaps.org 0.9): the frontier source the
    // robots sitemap records point at — urlset AND sitemapindex shapes,
    // loc trimming + entity unescape, optional-field nulls, loc-less
    // entries holding their position, non-numeric priority degrading to
    // null. The oracle enumerates the rows from the fixture formulas.
    "q_sitemap_urls" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      UrlOps.parseSitemap(
        ids.select(col("doc_id"), sitemapFixtureText.as("text")))
    }),
    // the robots→sitemap DISCOVERY seam: the sitemap records parseRobots
    // emits are consumed — each pointer "fetched" (one synthetic urlset
    // per distinct sitemap URL, its entries closed-form functions of
    // the URL's site ordinal), parsed by parseSitemap keyed on the URL
    // string, and joined back to the pointing documents. The oracle
    // enumerates every (doc, pointer, entry) row from the formulas.
    "q_sitemap_frontier" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val rules = UrlOps.parseRobots(
        ids.select(col("doc_id"), robotsFixtureText.as("text")))
      val pointers = rules.filter(col("directive") === "sitemap")
        .select(col("doc_id"), col("value").as("sitemap_url"))
      val k = regexp_extract(col("sitemap_url"), "site([0-9]+)", 1)
      val fetched = pointers.select(col("sitemap_url")).distinct()
        .select(col("sitemap_url"), concat(
          lit("<urlset>\n<url><loc>http://site"), k, lit(".example/p"), k,
          lit("</loc></url>\n<url><loc>http://site"), k, lit(".example/q"), k,
          lit("</loc></url>\n</urlset>")).as("text"))
      val entries = UrlOps.parseSitemap(fetched, idCol = "sitemap_url")
        .select(col("sitemap_url"), col("entry_pos"), col("loc"))
      pointers.join(entries, Seq("sitemap_url"))
        .select(col("doc_id"), col("sitemap_url"), col("entry_pos"),
          col("loc"))
    }),
    // per-host politeness dispatch over the robots rules: slots in
    // url_id order within each host, offset = slot × crawl-delay, the
    // agent's own group's delay outranking * (doc%4==1 hosts carry a
    // bot1 group with delay doc%7+1; everywhere else the * group has no
    // delay line, so defaultDelay applies).
    "q_crawl_schedule" -> ((s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val rules = UrlOps.parseRobots(
        ids.select(col("doc_id"), robotsFixtureText.as("text")))
      val k = (col("doc_id") % 5).cast("string")
      val urls = ids
        .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(col("doc_id"), (col("doc_id") * 4 + col("j")).as("url_id"),
          when(col("j") === 0, concat(lit("/private"), k, lit("/x")))
            .when(col("j") === 1, concat(lit("/private"), k, lit("/public/y")))
            .when(col("j") === 2, lit("/other"))
            .otherwise(lit("/")).as("path"))
      UrlOps.crawlSchedule(urls, rules, agent = "bot1")
        .select(col("doc_id"), col("url_id"), col("path"),
          col("slot"), col("delay_s"), col("offset_s"))
    }),
    // the COMPOSED crawl-graph pipeline, gated end to end: markup →
    // links (extractLinks) → URL layer (parseUrls registrable domains,
    // for the page url AND every link) → (page domain → link domain)
    // edge list → integer fixed-point PageRank over the domain graph —
    // the link-spam/authority score a crawl-curation pass weights
    // domains by. Domain nodes enter the numeric graph engine via the
    // portable 60-bit hash (the oracle recomputes it), names joined
    // back at the end.
    "q_link_rank" -> ((s, d) => {
      val links = UrlOps.parseUrls(
        UrlOps.extractLinks(docsWithAnchors(s, d)), "href")
        .select(col("doc_id"), col("domain").as("link_domain"))
      val pages = UrlOps.parseUrls(docsWithUrl(s, d), "url")
        .select(col("doc_id"), col("domain").as("page_domain"))
      val edges = pages.join(links, Seq("doc_id"))
        .filter(col("page_domain") =!= "" && col("link_domain") =!= "")
        .select(col("page_domain"), col("link_domain")).distinct()
      val hashed = edges.select(
        HashMode.Portable.hash(lit("lg"), col("page_domain")).as("src"),
        HashMode.Portable.hash(lit("lg"), col("link_domain")).as("dst"))
      val names = edges.select(col("page_domain").as("domain"))
        .unionByName(edges.select(col("link_domain").as("domain")))
        .distinct()
        .withColumn("node", HashMode.Portable.hash(lit("lg"), col("domain")))
      graft.ops.Graph.pageRank(hashed, iters = 3)
        .join(names, Seq("node"))
        .select(col("domain"), col("rank"))
    }),
    // ---- fuzzy (edit-distance) matching + temperature mixing ----------
    // typo-distance self-pairs over part names, blocked by first token +
    // the built-in complete length banding
    "q_fuzzy_join" -> ((s, d) =>
      Fuzzy.fuzzyDedupPairs(
        t(s, d, "part").withColumn("tok0", expr("split_part(p_name, ' ', 1)")),
        textCol = "p_name", maxDist = 2, idCol = "p_partkey",
        blockCols = Seq("tok0"))),
    // link-graph authority scoring (the CCNet/RefinedWeb-style quality
    // prior): customer–supplier co-occurrence graph from orders ⨝
    // lineitem, symmetrised so every node has out-degree ≥ 1 (no
    // dangling mass), 5 fixed-point PageRank iterations — engine-exact
    // Long arithmetic end to end (see Graph.pageRank scaladoc)
    "q_pagerank" -> ((s, d) =>
      graft.ops.Graph.pageRank(coGraphEdges(s, d), iters = 5)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)),
    // synchronous label propagation over the same co-occurrence graph:
    // plurality label among in-neighbors, ties to the smallest label,
    // 5 fixed rounds — the deterministic community-detection variant
    // (see Graph.labelPropagation scaladoc)
    "q_labelprop" -> ((s, d) =>
      graft.ops.Graph.labelPropagation(coGraphEdges(s, d), iters = 5)),
    // per-node triangle counts (degree-ordered orientation) over the
    // supplier co-membership graph of every 10th order — the bipartite
    // customer-supplier co-graph is triangle-free by construction, so
    // the substrate here is supplier pairs sharing an order
    "q_triangles" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
        .distinct()
      val e = li.select(col("o"), col("sk").as("sa"))
        .join(li.select(col("o"), col("sk").as("sb")), Seq("o"))
        .filter(col("sa") < col("sb"))
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.ops.Graph.triangleCounts(e)
    }),
    // BPE tokenizer induction (Sennrich): 5 merges learned from the
    // word-type vocabulary — deterministic (count DESC, pair ASC) wins
    "q_bpe_train" -> ((s, d) =>
      graft.ops.Bpe.trainMerges(t(s, d, "documents"), 5)),
    // production-k induction through the capped entry point (no cap
    // here): 64 merges from one vocabulary collect, oracle-gated
    // against DuckDB executing all 64 steps in SQL
    "q_bpe_train64" -> ((s, d) =>
      graft.ops.Bpe.trainMergesLocal(
        graft.ops.Bpe.wordVocab(t(s, d, "documents")), 64, maxTypes = 0)),
    // the learned merges applied as a frozen artifact (k-bounded
    // collect, the PQ-codebook precedent): per-doc subword token counts
    "q_bpe_segment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.segmentCounts(docs, collectedMerges(docs, 5))
    }),
    // Unigram-LM (SentencePiece, Kudo 2018) tokenizer induction — the
    // OTHER production tokenizer (r16): substring seed vocabulary, hard
    // (Viterbi) EM over the word types with integer-micro log-probs,
    // char-floored M-step, deterministic prune to the target size.
    // Same architecture as q_bpe_train64 (ONE distributed word-type
    // aggregation, exact driver-side loop), and the oracle replays the
    // ENTIRE training — seed counts, both EM passes' unrolled Viterbi
    // DP, the prune, the renormalisation — in generated SQL CTEs
    "q_unigram_train" -> ((s, d) =>
      graft.ops.Unigram.piecesDf(s,
        graft.ops.Unigram.train(t(s, d, "documents")))),
    // the fitted model applied: per-doc Viterbi piece counts + total
    // score through the broadcast word→segmentation table (the
    // SentencePiece word cache as the primary path)
    "q_unigram_segment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Unigram.segmentCounts(docs, graft.ops.Unigram.train(docs))
    }),
    // the PERSISTED unigram artifact (UnigramIndex — the BpeIndex
    // discipline: additive word-type vocabulary + frozen pieces + the
    // persisted Viterbi word cache): build → reload → segment must
    // reproduce the self-trained q_unigram_segment exactly, putting the
    // persist/reload seam on the same replayed-SQL oracle hook
    "q_unigram_index" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"$gateScratch/ugindex_${math.abs(d.hashCode)}"
      graft.ops.UnigramIndex.build(docs, dir)
      graft.ops.UnigramIndex.segmentCounts(s, dir, docs)
    }),
    // the ORDERED token stream (what a packer consumes, where
    // q_bpe_segment only sizes it): one zero-shuffle array-lambda
    // projection, document order preserved by construction — gated on
    // the space-joined sequence so the oracle checks ORDER, not just
    // counts
    "q_bpe_tokenize" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.segmentTokens(docs, collectedMerges(docs, 5))
        .select(col("doc_id"), array_join(col("tokens"), " ").as("toks"),
          col("n_tokens"))
    }),
    // TrustRank: the same graph, teleport restricted to a trusted seed
    // set (nation-0 suppliers) — random-walk proximity to vetted nodes,
    // the crawl-curation spam prior; unreachable nodes stay exactly 0
    "q_trustrank" -> ((s, d) => {
      val seeds = t(s, d, "supplier").filter(col("s_nationkey") === 0)
        .select((col("s_suppkey").cast("long") + 10000000L).as("node"))
      graft.ops.Graph.personalizedPageRank(coGraphEdges(s, d), seeds, iters = 5)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    }),
    // KMV distinct-cardinality sketch: estimated distinct 3-shingles per
    // source from a 64-value buffer — bounded state (O(sources × 64)
    // longs through the exchange), engine-exact estimator (integral
    // division over the portable 60-bit hash; see Sketch scaladoc)
    "q_distinct_kmv" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sh = docs
        .select(col("source"), col("doc_id"),
          explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
        .select(col("source"),
          explode(array(NearDup.shinglesOf(col("toks")))).as("shs"))
        .select(col("source"), explode(col("shs")).as("shingle"))
      graft.ops.Sketch.distinctKmv(sh, "source", "shingle", k = 64)
    }),
    // mergeable min-k quantile sketch: per-source document-length
    // quantiles from a 16-row uniform hash sample — the one-pass
    // bounded-state alternative to sorting the corpus; k=16 < the ~25
    // docs per source even at sf0.01, so the buffer-FULL (estimating)
    // path is what the gate exercises at every scale
    "q_quantile_sketch" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tlen", length(col("text")))
      graft.ops.Sketch.quantileEstimate(
        graft.ops.Sketch.quantileSketch(docs, "source", "doc_id", "tlen", k = 16))
        .withColumnRenamed("group", "source")
    }),
    // count-min heavy hitters: tokens whose d=2 × w=32 sketch estimate
    // reaches 1% of the stream — bounded counter state, deterministic
    // overestimates (collisions only promote, never hide, a hitter)
    "q_heavy_hitters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
          explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
        .select(explode(col("toks")).as("tok"))
      graft.ops.Sketch.heavyHitters(toks, "tok", d = 2, w = 32, minShare = 0.01)
    }),
    // Z-order (Morton) clustering key: 16-bit quantization against the
    // observed min/max + stride-2 bit interleave — exact integer
    // arithmetic end to end (see Layout scaladoc); LayoutSpec pins the
    // row-group-skipping effect of writing in this order
    "q_zorder" -> ((s, d) =>
      graft.ops.Layout.withZValue(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), bits = 16)),
    // the layout machinery end to end: z-ordered write → per-file stats
    // manifest → manifest-pruned read → row filter. The gate pins the
    // skipping CORRECTNESS contract (pruned + filter ≡ full scan +
    // filter, whatever Spark's file assignment did); the skipping
    // EFFECT (files actually dropped) is pinned in LayoutSpec
    "q_skipping_scan" -> ((s, d) => {
      val dir = s"$gateScratch/skip"
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      graft.ops.Layout.writeZordered(li, dir, Seq("l_partkey", "l_suppkey"),
        numFiles = 16)
      graft.ops.Layout.writeManifest(s, dir, Seq("l_partkey", "l_suppkey"))
      graft.ops.Layout.prunedRead(s, dir,
          Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 60L)))
        .filter(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(10, 60))
    }),
    // multilingual temperature rebalancing (alpha=0.5) sized to 40% of
    // the corpus — rates are engine-exact (sqrt + fixed-point + integral
    // division; see temperatureRates scaladoc)
    "q_temperature_rates" -> ((s, d) =>
      Curate.temperatureRates(t(s, d, "documents"), "lang", targetPercent = 40)),
    "q_temperature_mix" -> ((s, d) =>
      Curate.temperatureMix(t(s, d, "documents"), "lang", targetPercent = 40,
        mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"))),
    // reproducible epoch-1 training order over 8 shards
    "q_epoch_order" -> ((s, d) =>
      Curate.epochOrder(t(s, d, "documents"), epoch = 1, nShards = 8,
        mode = HashMode.Portable)),
    "q_source_cap" -> ((s, d) =>
      Curate.capPerSource(t(s, d, "documents"), cap = 10)
        .select(col("doc_id"), col("source"))),
    "q_stratified_sample" -> ((s, d) =>
      Curate.stratifiedSample(t(s, d, "documents"), Seq("lang", "source"),
        k = 3, mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"))),
    "q_weighted_sample" -> ((s, d) =>
      Curate.weightedSample(t(s, d, "documents"), k = 25, weightCol = "n_chars",
        mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    "q_window_chunks" -> ((s, d) =>
      TextOps.windowChunks(t(s, d, "documents"), maxTokens = 30, overlap = 10)
        .select(col("doc_id"), col("window_idx"), col("n_tokens"),
          col("chunk_text"))),
    "q_upsample" -> ((s, d) =>
      Curate.upsampleBySource(t(s, d, "documents"),
        Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 0.0),
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("copy"))),
    // the synthetic corpus is single-line; manufacture deterministic
    // multi-line docs (every " the " becomes a newline) so the gate
    // exercises real split → frequency → removal → ordered reassembly
    "q_line_dedup" -> ((s, d) =>
      Curate.dedupLines(
        t(s, d, "documents")
          .withColumn("text", regexp_replace(col("text"), " the ", "\n")),
        minDocs = 3)),
    // the LineIndex counting stages on the oracle hook: the persisted
    // artifact's exact (h1, h2, count) frames — digest halves replayed
    // in DuckDB via the composable md5 spelling (Md5Hash60's contract),
    // fixtures lined like q_line_dedup / duplicated like
    // q_dedup_sentences so each frequency class is non-empty
    "q_frequent_lines" -> ((s, d) =>
      Curate.frequentLines(
        t(s, d, "documents")
          .withColumn("text", regexp_replace(col("text"), " the ", "\n")),
        minDocs = 3)),
    "q_frequent_windows" -> ((s, d) =>
      graft.ops.ExactSubstr.frequentWindows(t(s, d, "documents"))),
    "q_frequent_shingles" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("doc_id"), concat(
        lit("Doc "), col("doc_id").cast("string"), lit(" says "), col("text"), lit("."),
        when(col("doc_id") % 4 === 0,
          lit(" Shared sentence one. Shared sentence two. Shared sentence three."))
          .otherwise(lit("")),
        lit(" Doc "), col("doc_id").cast("string"), lit(" closes now.")).as("text"))
      graft.ops.ExactSubstr.frequentShingles(dirty)
    }),
    "q_redact" -> ((s, d) =>
      // blocklist terms chosen to actually fire on this corpus; the op's
      // default patterns are the classic PII scrubs (no digits/emails in
      // the synthetic documents, so those would gate a no-op)
      Curate.redact(t(s, d, "documents"),
        Seq("\\b(customer|key)\\b" -> "[TERM]",
          Curate.EmailPattern -> "[EMAIL]"))
        .select(col("doc_id"), col("text"), col("n_redactions"))),
    // checksum-validated card redaction: the corpus carries no digits,
    // so card-shaped dirt is injected — one VALID contiguous 16-digit
    // PAN (redacted), the SAME pan in separator print form (redacted:
    // the checksum sees through the dashes), a checksum-FAILING shape
    // twin (left verbatim — the false-positive class the Luhn gate
    // exists to protect), and a VALID 15-digit Amex in 4-6-5 print form
    // (redacted — the shape envelope is 13-19 digits, not just 4×4).
    // Exclusive classes on doc_id % 11.
    "q_redact_cards" -> ((s, d) => {
      val base = t(s, d, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(" 4539578763621486"))
            .when(col("doc_id") % 11 === 5, lit(" 4539-5787-6362-1486"))
            .when(col("doc_id") % 11 === 7, lit(" 4539578763621487"))
            .when(col("doc_id") % 11 === 9, lit(" 3782 822463 10005"))
            .otherwise(lit(""))))
      Curate.redactCards(base)
        .select(col("doc_id"), col("text"), col("n_cards"))
    }),
    // NEAR-dup decontamination: the exact 13-gram join catches verbatim
    // leakage; REPHRASED/lightly-edited eval overlap needs the minhash
    // machinery. The eval set (doc_id < 50, the q_decontaminate
    // convention) is signatured into a MinhashIndex ONCE; the corpus
    // probes it (build-once/probe-many — at 100 TB the eval set is tiny
    // and the corpus never self-joins); verified Jaccard >= 0.7 pairs
    // reduce to a per-corpus-doc contamination verdict.
    "q_decontaminate_near" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"$gateScratch/nearix"
      graft.ops.MinhashIndex.build(
        docs.filter(col("doc_id") < 50), dir, mode = HashMode.Portable)
      // pairs are (doc_a < doc_b); eval ids < 50 <= corpus ids, so
      // doc_b is always the corpus side
      graft.ops.MinhashIndex.probeVerified(
          s, dir, docs.filter(col("doc_id") >= 50), docs)
        .groupBy(col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_near"),
          max(col("jaccard")).as("max_jaccard"))
        .select(col("doc_b").as("doc_id"), col("n_near"), col("max_jaccard"))
    }),
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curate.contamination(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50))
    }),
    // the scale path: bloom prefilter on the corpus gram stream, then the
    // same exact verify join — gated output-identical to q_decontaminate
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curate.contaminationBloom(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50))
    }),
    // end-to-end curation pipeline: quality filter → exact dedup →
    // weighted mixture → split assignment, composed exactly as a user
    // would chain them — gates that the operators compose, not just that
    // each works alone
    "q_curation_pipeline" -> ((s, d) => {
      val quality = TextOps.textQuality(t(s, d, "documents"))
        .filter(col("keep")).select(col("doc_id"))
      val docs = t(s, d, "documents").join(quality, Seq("doc_id"), "left_semi")
      val deduped = TextOps.dedupExact(docs)
      val mixed = Curate.mixBySource(deduped,
        Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPercent = 75,
        mode = HashMode.Portable)
      Curate.assignSplits(mixed,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), mode = HashMode.Portable)
        .select(col("doc_id"), col("lang"), col("source"), col("split"))
    }),
    // the round-6 pipeline: quality-rule battery → exact dedup →
    // multi-epoch upsampling → context-window chunking, composed exactly
    // as a user would chain them into a training-ready chunk table
    "q_curation_pipeline2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val kept = docs.join(
        TextOps.gopherRules(docs, TextOps.GopherThresholds(minWords = 30,
          minMeanWordLen = 4.0, minStopwords = 1))
          .filter(col("gopher_keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val canon = kept.join(TextOps.dedupExact(kept).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val up = Curate.upsampleBySource(canon,
        Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 0.0),
        mode = HashMode.Portable)
      TextOps.windowChunks(up, maxTokens = 30, overlap = 10)
        .select(col("doc_id"), col("source"), col("copy"), col("window_idx"),
          col("n_tokens"), col("chunk_text"))
    }),
    // the COMPOSED stateless ingest-curation chain (StreamCurate — the
    // production shape: offline artifacts over the governed corpus, a
    // pure projection chain over arrivals that runs identically on
    // readStream, spec-pinned). Fixture: the corpus gets a shared
    // boilerplate footer LINE and a duplicated 3-sentence BLOCK on
    // every doc (so both artifacts are non-trivial); arrivals re-wrap
    // the same pages in html plus ONE exclusive injection on doc_id % 4
    // (Luhn-valid card / email / a 14-invented-token eval sentence /
    // nothing). The 8 exact-duplicate corpus texts at sf0.1 exercise
    // the dup branch: their line-1 is corpus-frequent, so the line
    // stage removes it whole (n_boiler=2, no block sentences left for
    // the span stage) — the oracle models both branches.
    "q_curation_ingest" -> ((s, d) => {
      val m = col("doc_id") % 4
      val docs = t(s, d, "documents")
      val corpus = docs.select(col("doc_id"),
        concat(col("text"),
          lit(". " + IngestBlock + "\n" + IngestFooter)).as("text"))
      val arrivals = docs.select(col("doc_id"),
        concat(lit("<p>"), col("text"),
          lit(". " + IngestBlock + "</p>\n" + IngestFooter + "\n"),
          when(m === 0, lit(IngestInjCard + " "))
            .when(m === 1, lit(IngestInjEmail + " "))
            .when(m === 2, lit(IngestEval + " "))
            .otherwise(lit("")),
          lit(IngestExtras),
          // m=3's exclusive dirt: the quote-terminated trailing line
          when(m === 3, lit("\n" + IngestTail)).otherwise(lit(""))).as("text"))
      val arts = graft.stream.StreamCurate.Artifacts(
        frequentLines = Curate.frequentLines(corpus),
        frequentShingles = graft.ops.ExactSubstr.frequentShingles(corpus),
        evalDocs = {
          import s.implicits._
          Seq((0L, IngestEval)).toDF("doc_id", "text")
        })
      graft.stream.StreamCurate.curate(arrivals, arts)
    }),
    "q_split_assign" -> ((s, d) =>
      Curate.assignSplits(t(s, d, "documents"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10), mode = HashMode.Portable)
        .select(col("doc_id"), col("source"), col("split"))),
    "q_mixture" -> ((s, d) =>
      Curate.mixBySource(t(s, d, "documents"),
        Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPercent = 75,
        mode = HashMode.Portable)
        .select(col("doc_id"), col("source"))),
    "q_hotcold_join" -> ((s, d) => {
      // two-path skew join (hot keys broadcast, cold tail shuffles) must
      // be aggregate-identical to the plain join it replaces
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ord = t(s, d, "orders").select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      Skew.hotColdJoin(li, ord, Seq("okey"), hotThreshold = 5)
        .groupBy(col("o_orderpriority"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
    "q_pack_chunks" -> ((s, d) =>
      // tokenCount (regexp_count of \S+) rather than size(split(...)):
      // the latter counts 1 for empty text, diverging from the oracle
      // shards = 1 pinned: the oracle computes the exact id-ordered
      // layout. (The METHOD default is AutoShards — data-sized bounded
      // tasks — which CurateSpec covers; at gate scale auto resolves to
      // 1, but the gate should not depend on that.)
      Curate.packChunks(
        t(s, d, "documents").withColumn("n_tokens",
          TextOps.tokenCount(col("text"))),
        budget = 512, shards = 1)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("chunk_id"))),
    // chunk ids -> actual packed sequences (deterministic id-ordered concat)
    "q_pack_text" -> ((s, d) =>
      Curate.packText(
        Curate.packChunks(
          t(s, d, "documents").withColumn("n_tokens",
            TextOps.tokenCount(col("text"))),
          budget = 512, shards = 1))
        .select(col("source"), col("chunk_id"), col("n_docs"), col("packed_text"))),
    "q_truncate" -> ((s, d) =>
      TextOps.truncateTokens(t(s, d, "documents"), maxTokens = 32)
        .select(col("doc_id"), col("text"), col("n_tokens_kept"))),
    // the sharded (bounded-task) path: per-(source, shard) running sums +
    // broadcast prefix offsets are provably equal to ONE running sum in
    // shard-major (shard, id) order — which is exactly what the oracle
    // computes, so the distributed construction is gated end-to-end
    "q_pack_chunks_sharded" -> ((s, d) =>
      Curate.packChunks(
        t(s, d, "documents").withColumn("n_tokens",
          TextOps.tokenCount(col("text"))),
        budget = 512, shards = 4)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("chunk_id")))
  )

  // -- DuckDB oracle SQL ------------------------------------------------
  // Shared fragments keep Spark-vs-oracle expressions in lockstep.

  private val punct = "[!-/:-@\\[-`{-~]"
  private val ntok = """len(regexp_extract_all(text, '\S+'))"""

  def oracleSql: Map[String, String] = Map(
    "q_metrics" ->
      """SELECT
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_orderkey",
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_partkey",
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_suppkey",
        |  CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_linenumber",
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_quantity",
        |  CAST(sum(CASE WHEN NOT (l_quantity > 5) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_gt_l_quantity",
        |  CAST(sum(CASE WHEN NOT (l_quantity <= 45) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_le_l_quantity",
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_extendedprice",
        |  CAST(sum(CASE WHEN NOT (l_extendedprice < 95000) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_lt_l_extendedprice",
        |  CAST(sum(CASE WHEN NOT (l_discount >= 0.02) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_ge_l_discount",
        |  CAST(sum(CASE WHEN NOT (l_tax <= 0.07) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_le_l_tax",
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_returnflag",
        |  CAST(sum(CASE WHEN NOT (l_returnflag IN ('A','N')) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_enum_l_returnflag",
        |  CAST(sum(CASE WHEN NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS "violations_regex_l_linestatus",
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_l_shipdate"
        |FROM lineitem""".stripMargin,
    "q_metrics_unique" ->
      """SELECT
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderkey",
        |  CAST(count(*) - count(DISTINCT o_orderkey) - (CASE WHEN count(o_orderkey) < count(*) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_unique_o_orderkey",
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_custkey",
        |  CAST(count(*) - count(DISTINCT o_custkey) - (CASE WHEN count(o_custkey) < count(*) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_unique_o_custkey",
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderstatus",
        |  CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_enum_o_orderstatus",
        |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS "violations_gt_o_totalprice",
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "violations_not_null_o_orderdate"
        |FROM orders""".stripMargin,
    "q_apply_contract" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(trunc(l_quantity) AS BIGINT) AS l_quantity, l_returnflag,
        |  CAST(l_shipdate AS DATE) AS l_shipdate, CAST(NULL AS VARCHAR) AS l_shipmode
        |FROM lineitem""".stripMargin,
    "q_split_valid" ->
      s"SELECT * FROM lineitem WHERE $splitPassSql",
    "q_split_reject" ->
      s"SELECT * FROM lineitem WHERE NOT ($splitPassSql)",
    "q_flag_rows" -> flagRowsSql,
    "q_quality_query" ->
      "SELECT CAST(count(*) AS BIGINT) AS high_discount_count FROM lineitem WHERE l_discount > 0.06",
    // golden VALUES oracles: these outputs are fully determined by the
    // demo contracts / table schemas, so the oracle pins them exactly
    "q_schema_snapshot" ->
      """SELECT * FROM (VALUES
        |  ('l_orderkey', 'bigint', 'bigint', true),
        |  ('l_partkey', 'bigint', 'bigint', true),
        |  ('l_suppkey', 'bigint', 'bigint', true),
        |  ('l_linenumber', 'int', 'int', true),
        |  ('l_quantity', 'double', 'double', true),
        |  ('l_extendedprice', 'double', 'double', true),
        |  ('l_discount', 'double', 'double', true),
        |  ('l_tax', 'double', 'double', true),
        |  ('l_returnflag', 'string', 'string', true),
        |  ('l_linestatus', 'string', 'string', true),
        |  ('l_shipdate', 'timestamp_ntz', 'timestamp', true)
        |) AS t("column", backend_type, odcs_type, nullable)""".stripMargin,
    "q_expectation_plan" ->
      """SELECT * FROM (VALUES
        |  ('not_null_l_orderkey', 'not_null', 'l_orderkey', '`l_orderkey` IS NOT NULL'),
        |  ('not_null_l_partkey', 'not_null', 'l_partkey', '`l_partkey` IS NOT NULL'),
        |  ('not_null_l_suppkey', 'not_null', 'l_suppkey', '`l_suppkey` IS NOT NULL'),
        |  ('not_null_l_linenumber', 'not_null', 'l_linenumber', '`l_linenumber` IS NOT NULL'),
        |  ('not_null_l_quantity', 'not_null', 'l_quantity', '`l_quantity` IS NOT NULL'),
        |  ('gt_l_quantity', 'gt', 'l_quantity', '`l_quantity` > 5'),
        |  ('le_l_quantity', 'le', 'l_quantity', '`l_quantity` <= 45'),
        |  ('not_null_l_extendedprice', 'not_null', 'l_extendedprice', '`l_extendedprice` IS NOT NULL'),
        |  ('lt_l_extendedprice', 'lt', 'l_extendedprice', '`l_extendedprice` < 95000'),
        |  ('ge_l_discount', 'ge', 'l_discount', '`l_discount` >= 0.02'),
        |  ('le_l_tax', 'le', 'l_tax', '`l_tax` <= 0.07'),
        |  ('not_null_l_returnflag', 'not_null', 'l_returnflag', '`l_returnflag` IS NOT NULL'),
        |  ('enum_l_returnflag', 'enum', 'l_returnflag', '`l_returnflag` IN (''A'', ''N'')'),
        |  ('regex_l_linestatus', 'regex', 'l_linestatus', '`l_linestatus` RLIKE ''^[OF]$'''),
        |  ('not_null_l_shipdate', 'not_null', 'l_shipdate', '`l_shipdate` IS NOT NULL')
        |) AS t("key", rule, "column", predicate)""".stripMargin,
    "q_draft_contract" ->
      """SELECT 'docs.documents' AS contract_id, '0.1.1-draft' AS version,
        |  'draft' AS status, t.field, t.field_type, false AS required
        |FROM (VALUES
        |  ('doc_id', 'bigint'), ('text', 'string'), ('lang', 'string'),
        |  ('source', 'string'), ('n_chars', 'bigint')
        |) AS t(field, field_type)""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topn_join" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-15'
        |  AND l_shipdate > TIMESTAMP '1997-06-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_join5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_window_latest" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) = 1""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_events_dedup" ->
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts ASC, event_id ASC) = 1""".stripMargin,
    "q_sessions" ->
      """WITH o AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // integral hourly buckets (epoch_us div width — exact in any
    // engine, no timezone-typed output), per-user generate_series grid,
    // zero-filled left join
    "q_resample" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket, value
        |  FROM events WHERE ts IS NOT NULL),
        |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |  FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM s),
        |a AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2)
        |SELECT g.user_id, CAST(g.bucket AS BIGINT) AS bucket,
        |  COALESCE(a.n_events, 0) AS n_events,
        |  COALESCE(a.sum_value, 0.0) AS sum_value
        |FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.bucket = a.bucket""".stripMargin,
    // per-stage earliest-after-previous via (ts, event_id)-ordered
    // min_by equivalents; stage = completed prefix length
    "q_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE ts IS NOT NULL),
        |ev AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |s1 AS (SELECT user_id, us AS ts_view FROM ev WHERE event_type = 'view'
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY us ASC, event_id ASC) = 1),
        |s2 AS (SELECT e.user_id, e.us AS ts_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.ts_view
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |    ORDER BY e.us ASC, e.event_id ASC) = 1),
        |s3 AS (SELECT e.user_id, e.us AS ts_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.ts_click
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |    ORDER BY e.us ASC, e.event_id ASC) = 1)
        |SELECT u.user_id, s1.ts_view, s2.ts_click, s3.ts_purchase,
        |  CAST((CASE WHEN s1.ts_view IS NULL THEN 0 ELSE 1 END) +
        |       (CASE WHEN s2.ts_click IS NULL THEN 0 ELSE 1 END) +
        |       (CASE WHEN s3.ts_purchase IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage
        |FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id""".stripMargin,
    // the 6h-window funnel: same per-stage earliest-after-previous CTEs
    // with the conversion-window bound on each stage join
    "q_funnel_window" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE ts IS NOT NULL),
        |ev AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |s1 AS (SELECT user_id, us AS ts_view FROM ev WHERE event_type = 'view'
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY us ASC, event_id ASC) = 1),
        |s2 AS (SELECT e.user_id, e.us AS ts_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.ts_view
        |    AND e.us - s1.ts_view <= 21600000000
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |    ORDER BY e.us ASC, e.event_id ASC) = 1),
        |s3 AS (SELECT e.user_id, e.us AS ts_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.ts_click
        |    AND e.us - s2.ts_click <= 21600000000
        |  QUALIFY row_number() OVER (PARTITION BY e.user_id
        |    ORDER BY e.us ASC, e.event_id ASC) = 1)
        |SELECT u.user_id, s1.ts_view, s2.ts_click, s3.ts_purchase,
        |  CAST((CASE WHEN s1.ts_view IS NULL THEN 0 ELSE 1 END) +
        |       (CASE WHEN s2.ts_click IS NULL THEN 0 ELSE 1 END) +
        |       (CASE WHEN s3.ts_purchase IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage
        |FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id""".stripMargin,
    // 7-day periods as epoch_us div width; cohort = min signup period,
    // activity = distinct users per (cohort, offset >= 0)
    "q_cohort" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS p, event_type
        |  FROM events WHERE ts IS NOT NULL),
        |a AS (SELECT user_id, min(p) AS cohort FROM e
        |  WHERE event_type = 'signup' GROUP BY 1)
        |SELECT cohort, CAST(p - cohort AS BIGINT) AS "offset",
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN a ON e.user_id = a.user_id
        |WHERE p >= cohort
        |GROUP BY 1, 2""".stripMargin,
    // triangle joined to its own offset-0 slice; offset 0 reads 1.0
    "q_retention_rate" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS p, event_type
        |  FROM events WHERE ts IS NOT NULL),
        |a AS (SELECT user_id, min(p) AS cohort FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |tri AS (
        |  SELECT cohort, CAST(p - cohort AS BIGINT) AS "offset",
        |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |  FROM e JOIN a ON e.user_id = a.user_id
        |  WHERE p >= cohort GROUP BY 1, 2),
        |base AS (SELECT cohort, n_users AS c0 FROM tri WHERE "offset" = 0)
        |SELECT tri.cohort, tri."offset", tri.n_users,
        |  round(CAST(tri.n_users AS DOUBLE) / base.c0, 6) AS retention
        |FROM tri JOIN base ON tri.cohort = base.cohort""".stripMargin,
    // integral UTC hour buckets (div then mod — engine-exact)
    "q_seasonality" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour_utc,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS tt FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(g.hour_utc AS BIGINT) AS hour_utc, g.n,
        |  round(CAST(g.n AS DOUBLE) / t.tt, 6) AS share
        |FROM g JOIN t USING (event_type)""".stripMargin,
    // ascending-rank integer Gini: (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)),
    // one double division; ties rank by source (tie-order-invariant)
    "q_gini" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT x,
        |    row_number() OVER (ORDER BY x ASC, source ASC) AS i
        |  FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(x) AS BIGINT) AS n_docs,
        |  round(CAST(2 * sum(CAST(i AS HUGEINT) * x) -
        |    (count(*) + 1) * sum(CAST(x AS HUGEINT)) AS DOUBLE) /
        |    CAST(count(*) * sum(CAST(x AS HUGEINT)) AS DOUBLE), 6) AS gini
        |FROM r""".stripMargin,
    // exact observed counts; expected through a HUGEINT margins product
    // (one double cast), (o-e)^2/e terms 9dp decimal-summed, chi2 6dp;
    // the FULL r x c grid so absent cells contribute their expected mass
    "q_chi2" ->
      """WITH o AS (
        |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS ta FROM o GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS tb FROM o GROUP BY 1),
        |tt AS (SELECT sum(o) AS n FROM o),
        |g AS (SELECT ra.ta, cb.tb, tt.n, COALESCE(o.o, 0) AS o
        |  FROM ra CROSS JOIN cb CROSS JOIN tt
        |  LEFT JOIN o ON o.a = ra.a AND o.b = cb.b),
        |c AS (SELECT CAST(round(
        |    ((o - CAST(CAST(ta AS HUGEINT) * tb AS DOUBLE) / n) *
        |     (o - CAST(CAST(ta AS HUGEINT) * tb AS DOUBLE) / n)) /
        |    (CAST(CAST(ta AS HUGEINT) * tb AS DOUBLE) / n), 9)
        |    AS DECIMAL(28,9)) AS t FROM g),
        |s AS (SELECT round(CAST(sum(t) AS DOUBLE), 6) AS chi2,
        |    (SELECT CAST((count(*) - 1) AS BIGINT) FROM ra) *
        |    (SELECT CAST((count(*) - 1) AS BIGINT) FROM cb) AS df,
        |    (SELECT least(
        |      (SELECT count(*) FROM ra), (SELECT count(*) FROM cb)) - 1) AS md,
        |    (SELECT n FROM tt) AS n
        |  FROM c)
        |SELECT chi2, df,
        |  CASE WHEN md < 1 THEN NULL
        |    ELSE round(sqrt(chi2 / (CAST(n AS DOUBLE) * md)), 6) END AS cramers_v
        |FROM s""".stripMargin,
    // md5-fingerprint groups folded to one corpus-health row
    "q_dup_stats" ->
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS n,
        |    sum(n_chars) AS chars,
        |    arg_min(n_chars, doc_id) AS canon_chars
        |  FROM fp GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n - 1) AS BIGINT) AS n_dup_docs,
        |  round(CAST(sum(n - 1) AS DOUBLE) / sum(n), 6) AS dup_doc_share,
        |  CAST(sum(chars) AS BIGINT) AS n_chars,
        |  CAST(sum(chars - canon_chars) AS BIGINT) AS n_redundant_chars,
        |  round(CAST(sum(chars - canon_chars) AS DOUBLE) / sum(chars), 6)
        |    AS redundant_char_share
        |FROM g""".stripMargin,
    // grid-sized lag over integral day buckets; first bucket per type
    // has null change
    "q_pop" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, n,
        |  n - lag(n) OVER w AS delta,
        |  round(CAST(n - lag(n) OVER w AS DOUBLE) / lag(n) OVER w, 6)
        |    AS pct_change
        |FROM g
        |WINDOW w AS (PARTITION BY event_type ORDER BY bucket ASC)""".stripMargin,
    // mean and sample std from HUGEINT power sums, both rounded 6dp
    // BEFORE the per-row transform; zero-variance -> null z
    "q_zscore" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS s1, sum(x*x) AS s2
        |  FROM v GROUP BY 1),
        |m AS (SELECT event_type,
        |    round(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS mean,
        |    CASE WHEN n < 2 OR n*s2 - s1*s1 = 0 THEN NULL
        |      ELSE round(sqrt(CAST(n*s2 - s1*s1 AS DOUBLE) /
        |        (CAST(n * (n - 1) AS DOUBLE) * 10000.0)), 6) END AS std
        |  FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN m.std IS NULL THEN NULL
        |    ELSE round((e.value - m.mean) / m.std, 6) END AS zscore
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE e.value IS NOT NULL""".stripMargin,
    // plurality with "count DESC, value ASC" resolution spelled as a
    // row_number over the count frame
    "q_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.user_id, c.event_type AS mode, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.tot, 6) AS share
        |FROM c JOIN t USING (user_id)
        |QUALIFY row_number() OVER (PARTITION BY c.user_id
        |  ORDER BY c.n DESC, c.event_type ASC) = 1""".stripMargin,
    // lead pairs within each (user, type) series feeding the exact
    // power-sum correlation (the q_corr recipe)
    "q_autocorr" ->
      """WITH p AS (
        |  SELECT event_type, value,
        |    lead(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS nxt
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |t AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS HUGEINT) AS xi,
        |    CAST(round(nxt * 100) AS HUGEINT) AS yi
        |  FROM p WHERE nxt IS NOT NULL),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(xi) AS sx, sum(yi) AS sy, sum(xi * yi) AS sxy,
        |    sum(xi * xi) AS sxx, sum(yi * yi) AS syy
        |  FROM t GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS autocorr
        |FROM s""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |    event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.purchase_ts, p.purchase_id, p.purchase_value,
        |  v.view_value AS asof_view_value, v.view_ts AS asof_time
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.view_ts <= p.purchase_ts""".stripMargin,
    "q_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |    event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.purchase_ts, p.purchase_id, p.purchase_value,
        |  v.view_value AS asof_view_value, v.view_ts AS asof_time
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.view_ts >= p.purchase_ts""".stripMargin,
    "q_vocabulary" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT tok AS token, count(*) AS term_freq, count(DISTINCT doc_id) AS doc_freq
        |  FROM t GROUP BY 1)
        |SELECT token, CAST(term_freq AS BIGINT) AS term_freq,
        |  CAST(doc_freq AS BIGINT) AS doc_freq,
        |  CAST(term_freq AS DOUBLE) / (SELECT CAST(sum(term_freq) AS DOUBLE) FROM c) AS corpus_share
        |FROM c""".stripMargin,
    // cum_share is the EXACT integer prefix frequency over the scalar
    // total (one double division at the end): the engine computes it
    // through a bounded top-K + triangular join (no window), the oracle
    // through DuckDB's ordered window — independent mechanisms, same
    // closed form, and no double-sum ordering ambiguity on either side
    "q_vocab_coverage" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok AS token, count(*) AS term_freq FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(term_freq) AS DOUBLE) AS tot FROM c)
        |SELECT CAST(rank AS BIGINT) AS "rank", token,
        |  CAST(term_freq AS BIGINT) AS term_freq,
        |  round(CAST(cum_f AS DOUBLE) / tot, 6) AS cum_share
        |FROM (
        |  SELECT token, term_freq,
        |    row_number() OVER (ORDER BY term_freq DESC, token ASC) AS rank,
        |    sum(term_freq) OVER (
        |      ORDER BY term_freq DESC, token ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_f
        |  FROM c) CROSS JOIN tot
        |WHERE rank <= 20""".stripMargin,
    "q_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |i AS (
        |  SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS start_ts,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT view_id, purchase_id, view_ts, start_ts
        |FROM p JOIN i ON view_ts BETWEEN start_ts AND end_ts""".stripMargin,
    "q_interval_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, CAST(ts AS TIMESTAMP) AS v_start,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS v_end
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_start,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS p_end
        |  FROM events WHERE event_type = 'purchase')
        |SELECT view_id, purchase_id, v_start, p_start
        |FROM v JOIN p ON v_start <= p_end AND p_start <= v_end""".stripMargin,
    "q_sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE ${h60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin,
    "q_url_parse" ->
      s"""$urlCte
        |SELECT doc_id, scheme, host, port, path, "query",
        |  $domainSql AS domain
        |FROM p""".stripMargin,
    "q_domain_cap" ->
      s"""$urlCte
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source, $domainSql AS domain FROM p)
        |QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id ASC) <= 3""".stripMargin,
    "q_domain_blocklist" ->
      s"""$urlCte
        |SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang, $domainSql AS domain FROM p)
        |WHERE domain NOT IN ('src3.com', 'src7.co.uk')""".stripMargin,
    "q_domain_stats" ->
      s"""$urlCte
        |SELECT domain, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM (
        |    SELECT count(*) AS n_docs FROM (
        |      SELECT $domainSql AS domain FROM p) GROUP BY domain)), 6) AS share
        |FROM (
        |  SELECT domain, count(*) AS n_docs FROM (
        |    SELECT $domainSql AS domain FROM p) GROUP BY domain)""".stripMargin,
    "q_url_dedup" ->
      s"""$urlCte
        |SELECT min(doc_id) AS doc_id, url_canon FROM (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN port IS NOT NULL
        |          AND NOT (scheme = 'http' AND port = 80)
        |          AND NOT (scheme = 'https' AND port = 443)
        |     THEN ':' || CAST(port AS VARCHAR) ELSE '' END) ||
        |    (CASE WHEN path = '' THEN '/'
        |     ELSE regexp_replace(path, '(.)/$$', '\\1') END) AS url_canon
        |  FROM p)
        |GROUP BY url_canon""".stripMargin,
    // blocked fuzzy self-join: first-token block + adjacent length bands
    // (width maxDist+1 = 3) exactly as Fuzzy.fuzzyDedupPairs derives them
    "q_fuzzy_join" ->
      """WITH p AS (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS tok0,
        |    CAST(floor(length(p_name) / 3) AS BIGINT) AS band FROM part)
        |SELECT a.p_partkey AS a_p_partkey, b.p_partkey AS b_p_partkey,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist, a.tok0
        |FROM p a JOIN p b ON a.tok0 = b.tok0
        |  AND b.band BETWEEN a.band - 1 AND a.band + 1
        |WHERE a.p_partkey < b.p_partkey
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // PageRank: 5 unrolled fixed-point iterations, all-BIGINT integer
    // division (`//` floors, `div` truncates — equal on the
    // non-negative quantities here), spelled step for step against
    // Graph.pageRank
    "q_pagerank" -> pagerankSql,
    "q_trustrank" -> trustrankSql,
    "q_labelprop" -> labelpropSql,
    // pure integer counting — any correct enumeration matches; the
    // row-value comparisons mirror the (deg, id) orientation order
    "q_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.sk < b.sk),
        |deg AS (SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |og AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dkd
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM og e1 JOIN og e2 ON e1.src = e2.src
        |  WHERE (e1.dkd, e1.dst) < (e2.dkd, e2.dst)),
        |tr AS (SELECT w.a, w.b, w.c
        |  FROM w JOIN og ON og.src = w.b AND og.dst = w.c),
        |nn AS (SELECT a AS node FROM tr
        |  UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nn GROUP BY 1""".stripMargin,
    "q_bpe_train" -> (bpeCtes(5) + bpeMergesSelect(5)),
    // 64 merges: DuckDB executes the algorithm spelled as 64 chained
    // SQL steps; Spark runs the driver-side delta trainer — two genuinely
    // different algorithms agreeing on the same total-ordered spec
    "q_bpe_train64" -> (bpeCtes(64) + bpeMergesSelect(64)),
    "q_bpe_segment" -> bpeSegmentSql,
    // the unigram trainer replayed end to end in generated CTEs (seed,
    // two unrolled hard-EM passes, prune, renormalise) — any drift in
    // the Viterbi total order, the char floor, or the prune order
    // mismatches the whole vocabulary
    "q_unigram_train" -> unigramTrainSql,
    // the fitted model applied: one more unrolled Viterbi pass under
    // the final vocabulary, summed per document
    "q_unigram_segment" -> unigramSegmentSql,
    // the persisted artifact's build→reload→segment is spec-pinned ≡
    // the in-memory model, so the oracle is SHARED with
    // q_unigram_segment (one replayed SQL, two gates — the
    // q_ann_pq_index precedent)
    "q_unigram_index" -> unigramSegmentSql,
    // ordered token stream: subscript-sorted string_agg vs Spark's
    // order-by-construction lambdas — order itself is what's gated
    "q_bpe_tokenize" -> bpeTokenizeSql,
    "q_pack_tokens" -> packTokensSql,
    // KMV sketch: the k=64 smallest distinct 60-bit hashes per source
    // re-derived exactly (same md5 bits, same HUGEINT integral division
    // as the Spark DECIMAL(38,0) `div`)
    "q_distinct_kmv" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, source, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |sh AS (
        |  SELECT a.source, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  UNION ALL
        |  SELECT source, array_to_string(toks, ' ') AS shingle FROM t WHERE len(toks) < 3),
        |h AS (SELECT DISTINCT source, ${h60("'kmv:' || shingle")} AS hv FROM sh),
        |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
        |a AS (SELECT source, count(*) AS n, max(CASE WHEN rn = 64 THEN hv END) AS hk
        |      FROM r WHERE rn <= 64 GROUP BY source)
        |SELECT source, CAST(CASE WHEN n < 64 THEN n
        |  ELSE (CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) // hk
        |  END AS BIGINT) AS est_distinct
        |FROM a""".stripMargin,
    // the quantile-sketch oracle re-derives the whole pipeline: the
    // 60-bit md5 row hash (the h60/KMV convention), the min-16 sample
    // per source ((hash, value)-ordered — MinKPairs' tiebreak), and the
    // nearest-rank integer arithmetic (n·p + 99) // 100
    "q_quantile_sketch" ->
      s"""WITH h AS (
        |  SELECT source,
        |    ${h60("'qs:' || CAST(doc_id AS VARCHAR)")} AS hv,
        |    CAST(length(text) AS BIGINT) AS v
        |  FROM documents),
        |r AS (
        |  SELECT source, hv, v,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, v) AS rn
        |  FROM h),
        |s AS (SELECT source, v FROM r WHERE rn <= 16),
        |o AS (
        |  SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS vr,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM s)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_sample,
        |  max(CASE WHEN vr = (n * 25 + 99) // 100 THEN v END) AS p25,
        |  max(CASE WHEN vr = (n * 50 + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN vr = (n * 75 + 99) // 100 THEN v END) AS p75,
        |  max(CASE WHEN vr = (n * 90 + 99) // 100 THEN v END) AS p90
        |FROM o GROUP BY source""".stripMargin,
    // z-order: quantization via HUGEINT floor division (equal to the
    // Spark DECIMAL `div` on these non-negative quantities), interleave
    // as the same 32-term shift/mask sum
    "q_zorder" -> zorderSql,
    // skipping never changes results: the pruned scan + filter must
    // equal the plain filter over the source table
    "q_skipping_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300
        |  AND l_suppkey BETWEEN 10 AND 60""".stripMargin,
    // count-min: both hash rows' bucket counts re-derived, estimate =
    // min over rows, threshold = ceil of the share of the stream total
    "q_heavy_hitters" ->
      s"""WITH t AS (
        |  SELECT regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM documents),
        |tok AS (SELECT unnest(toks) AS tok FROM t),
        |b AS (
        |  SELECT i, ${h60("'cm' || CAST(i AS VARCHAR) || ':' || tok")} % 32 AS bucket,
        |    count(*) AS cnt
        |  FROM tok CROSS JOIN range(2) r(i) GROUP BY 1, 2),
        |dd AS (SELECT DISTINCT tok FROM tok),
        |est AS (
        |  SELECT dd.tok, min(b.cnt) AS est_count
        |  FROM dd CROSS JOIN range(2) r(i)
        |  JOIN b ON b.i = r.i
        |    AND b.bucket = ${h60("'cm' || CAST(r.i AS VARCHAR) || ':' || dd.tok")} % 32
        |  GROUP BY 1)
        |SELECT tok, est_count FROM est
        |WHERE est_count >= ceil(0.01 * (SELECT count(*) FROM tok))""".stripMargin,
    // temperature rates: sqrt weight fixed-pointed at 1e6, exact integer
    // totals, HUGEINT integral division — mirrors temperatureRates step
    // for step (sqrt is correctly-rounded IEEE, so w6 is bit-identical)
    "q_temperature_rates" ->
      """WITH stats AS (SELECT lang, count(*) AS n FROM documents
        |    WHERE lang IS NOT NULL GROUP BY lang),
        |  s AS (SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM stats),
        |  tot AS (SELECT sum(w6) AS tw, sum(n) AS tn FROM s)
        |SELECT lang, n, least(100, CAST(
        |    (40::HUGEINT * tn * w6) // (tw * n) AS BIGINT)) AS rate
        |FROM s, tot""".stripMargin,
    "q_temperature_mix" ->
      s"""WITH stats AS (SELECT lang, count(*) AS n FROM documents
        |    WHERE lang IS NOT NULL GROUP BY lang),
        |  s AS (SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM stats),
        |  tot AS (SELECT sum(w6) AS tw, sum(n) AS tn FROM s),
        |  rates AS (SELECT lang, least(100, CAST(
        |      (40::HUGEINT * tn * w6) // (tw * n) AS BIGINT)) AS rate FROM s, tot)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE ${h60("'tmix:' || CAST(doc_id AS VARCHAR)")} % 100 < r.rate""".stripMargin,
    "q_epoch_order" ->
      s"""SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |  ${h60("'epoch1:' || CAST(doc_id AS VARCHAR)")} AS h FROM documents)""".stripMargin,
    "q_source_cap" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) <= 10""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ${h60("'strat:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |  ORDER BY h ASC, doc_id ASC) <= 3""".stripMargin,
    "q_curation_pipeline2" ->
      s"""WITH keepids AS (
        |  SELECT doc_id FROM ($gopherRulesSql) gg WHERE gg.gopher_keep),
        |k AS (SELECT d.* FROM documents d JOIN keepids USING (doc_id)),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM k),
        |canon AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS m FROM fp)
        |  WHERE doc_id = m),
        |c AS (SELECT k.* FROM k JOIN canon USING (doc_id)),
        |u AS (
        |  SELECT doc_id, source, text,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END
        |    + CASE WHEN ${h60("'upsample:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |        (CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 30 WHEN 'src2' THEN 0 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS copies
        |  FROM c),
        |uc AS (
        |  SELECT doc_id, source, text,
        |    CAST(unnest(generate_series(1, copies)) AS INT) AS copy
        |  FROM u WHERE copies > 0),
        |t2 AS (
        |  SELECT doc_id, source, copy,
        |    regexp_extract_all(coalesce(text, ''), '\\S+') AS toks
        |  FROM uc),
        |w2 AS (
        |  SELECT *, len(toks) AS n,
        |    CASE WHEN len(toks) <= 30 THEN 1
        |         ELSE 1 + (len(toks) - 30 + 19) // 20 END AS nw
        |  FROM t2),
        |x2 AS (
        |  SELECT doc_id, source, copy, toks, n,
        |    unnest(generate_series(0, nw - 1)) AS wi
        |  FROM w2)
        |SELECT doc_id, source, copy, CAST(wi AS INT) AS window_idx,
        |  CAST(least(30, n - wi * 20) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[wi*20+1 : wi*20+30], ' ') AS chunk_text
        |FROM x2""".stripMargin,
    // stride = 30 - 10 = 20; window count is pure integer arithmetic in
    // both engines ((n - 30 + 19) // 20), slices are token-aligned
    "q_window_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(coalesce(text, ''), '\S+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 30 THEN 1
        |         ELSE 1 + (len(toks) - 30 + 19) // 20 END AS nw
        |  FROM t),
        |x AS (SELECT doc_id, toks, n, unnest(generate_series(0, nw - 1)) AS wi FROM w)
        |SELECT doc_id, CAST(wi AS INT) AS window_idx,
        |  CAST(least(30, n - wi * 20) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[wi*20+1 : wi*20+30], ' ') AS chunk_text
        |FROM x""".stripMargin,
    "q_upsample" ->
      s"""WITH f AS (
        |  SELECT d.doc_id, d.source,
        |    CASE d.source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END
        |    + CASE WHEN ${h60("'upsample:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |        (CASE d.source WHEN 'src0' THEN 50 WHEN 'src1' THEN 30 WHEN 'src2' THEN 0 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents d)
        |SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS INT) AS copy
        |FROM f WHERE copies > 0""".stripMargin,
    // the oracle removes by raw line text where the Spark side removes by
    // 64-bit line hash — equal outputs absent a hash collision, which the
    // gate therefore also pins
    "q_line_dedup" ->
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM lined),
        |freq AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, pos, line FROM l
        |         WHERE line NOT IN (SELECT line FROM freq))
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
        |  CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(string_split(d.text, chr(10))) - count(k.line) AS BIGINT) AS n_removed
        |FROM lined d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id, d.text""".stripMargin,
    // the LineIndex counting stages: digest halves via the composable
    // md5 spelling (h1 = hex chars 1-15, h2 = 17-29 — Md5Hash60's
    // bit-identity contract), counts per the kind's semantics
    // (distinct docs for lines, occurrences for windows/shingles)
    "q_frequent_lines" ->
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS line
        |  FROM lined)
        |SELECT
        |  CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(md5(line), 17, 13)) AS BIGINT) AS h2,
        |  count(DISTINCT doc_id) AS line_df
        |FROM l GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3""".stripMargin,
    "q_frequent_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, len(toks) - 19)) AS pos FROM t),
        |w AS (SELECT md5(array_to_string(toks[pos:pos+19], ' ')) AS m FROM u)
        |SELECT
        |  CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(m, 17, 13)) AS BIGINT) AS h2,
        |  count(*) AS win_df
        |FROM w GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_frequent_shingles" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    'Doc ' || doc_id || ' says ' || text || '.' ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' Shared sentence one. Shared sentence two. Shared sentence three.'
        |      ELSE '' END ||
        |    ' Doc ' || doc_id || ' closes now.' AS t2
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_extract_all(coalesce(t2, ''), '[^.!?]*[.!?]'),
        |      s -> regexp_replace(s, '^\s+|\s+$', '')), s -> s != '') AS sents
        |  FROM dirty),
        |u AS (SELECT doc_id, sents,
        |  unnest(generate_series(1, len(sents) - 2)) AS pos FROM t),
        |w AS (SELECT md5(array_to_string(sents[pos:pos+2], ' ')) AS m FROM u)
        |SELECT
        |  CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS h1,
        |  CAST(('0x' || substr(m, 17, 13)) AS BIGINT) AS h2,
        |  count(*) AS n_occ
        |FROM w GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // sequential-Poisson priority: EXACT integer arithmetic end to end —
    // DuckDB `//` is floor division, Spark `div` truncates, identical for
    // the non-negative Portable hash
    "q_weighted_sample" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} // n_chars AS pri
        |    FROM documents WHERE n_chars > 0)
        |  ORDER BY pri ASC, doc_id ASC LIMIT 25)""".stripMargin,
    "q_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1)
        |SELECT w1, w2, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p_cond
        |FROM bc JOIN wt USING (w1) WHERE n >= 5""".stripMargin,
    // PMI over the shared bigram stream: margins and N from the count
    // frame itself (one normaliser), HUGEINT products (== Spark's
    // DECIMAL(38,0) here), one double division, ln, round 6
    "q_pmi" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |m1 AS (SELECT w1, sum(n) AS c1 FROM bc GROUP BY 1),
        |m2 AS (SELECT w2, sum(n) AS c2 FROM bc GROUP BY 1),
        |tt AS (SELECT sum(n) AS nn FROM bc)
        |SELECT bc.w1, bc.w2, CAST(bc.n AS BIGINT) AS n,
        |  round(ln(CAST(CAST(bc.n AS HUGEINT) * nn AS DOUBLE) /
        |           CAST(CAST(c1 AS HUGEINT) * c2 AS DOUBLE)), 6) AS pmi
        |FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2), tt
        |WHERE bc.n >= 5""".stripMargin,
    // BM25: idf and per-term scores round 9dp then decimal-sum (the
    // lm-score contract); every double literal spelled EXACTLY as the
    // Spark expression computes it ((1.2 + 1.0), (1.0 - 0.75))
    "q_bm25" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS dl
        |  FROM documents),
        |c AS (SELECT count(*) AS nd,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
        |  WHERE tok IN ('hash', 'join', 'spark') GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT tok,
        |    round(ln((CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 9) AS idf
        |  FROM df, c),
        |s AS (SELECT tf.doc_id,
        |    CAST(round(idf.idf * (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avgdl)), 9)
        |      AS DECIMAL(28,9)) AS s
        |  FROM tf JOIN idf USING (tok) JOIN lens USING (doc_id), c),
        |sc AS (SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
        |  FROM s GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |QUALIFY row_number() OVER (ORDER BY score DESC, doc_id ASC) <= 20""".stripMargin,
    // per-term ln rounded to 9 dp then decimal-summed (the q_entropy
    // determinism contract); pruned bigrams take the fixed -10 penalty
    "q_lm_score" -> lmScoreSql,
    // trigram stats: context denominators over ALL (w1,w2) continuations
    // BEFORE the minCount prune, exactly like the bigram oracle
    "q_trigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b3 AS (
        |  SELECT a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |tc AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |ct AS (SELECT w1, w2, sum(n) AS tot FROM tc GROUP BY 1, 2)
        |SELECT w1, w2, w3, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p_cond
        |FROM tc JOIN ct USING (w1, w2) WHERE n >= 5""".stripMargin,
    // stupid backoff: ln(p3) when the trigram survives its prune
    // (minCount 3), else ln(0.4 · p2) from the bigram model (minCount
    // 5, oldest context word dropped), else the fixed -10 penalty —
    // each term rounded 9 dp then decimal-summed (the lm-score
    // contract); the backoff bigram keys on the trigram's (w2, w3)
    "q_lm_score3" -> lmScore3Sql,
    // order-5 stupid backoff: ln(p5) when the 5-gram survives its prune
    // (minCount 2), else the α^j-discounted 4/3/2-gram chain (prunes
    // 2/3/5, oldest context word dropped per hop, α products nested
    // right), else the fixed -10 penalty — the q_lm_score3 contract at
    // the production order
    "q_lm_score5" -> lmScore5Sql,
    // order-5 buckets: quartile cuts via quantile_cont over the order-5
    // backoff scores (the q_ppl_buckets3 recipe one order up)
    "q_ppl_buckets5" ->
      s"""WITH sc AS (SELECT * FROM ($lmScore5Sql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp5, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp5, 0.75), 6) AS p75
        |  FROM sc WHERE n_5grams > 0)
        |SELECT doc_id, n_5grams, avg_logp5,
        |  CASE WHEN n_5grams = 0 THEN 'unscored'
        |       WHEN avg_logp5 >= p75 THEN 'head'
        |       WHEN avg_logp5 >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin,
    // order-3 buckets: quartile cuts via quantile_cont over the backoff
    // scores (the q_ppl_buckets recipe at order 3)
    "q_ppl_buckets3" ->
      s"""WITH sc AS (SELECT * FROM ($lmScore3Sql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp3, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp3, 0.75), 6) AS p75
        |  FROM sc WHERE n_trigrams > 0)
        |SELECT doc_id, n_trigrams, avg_logp3,
        |  CASE WHEN n_trigrams = 0 THEN 'unscored'
        |       WHEN avg_logp3 >= p75 THEN 'head'
        |       WHEN avg_logp3 >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin,
    // DSIR: one shared bigram stream scored under the src0-trained target
    // model (minCount 2) and the whole-corpus raw model (minCount 5);
    // decimal sums, ratio from the rounded means
    "q_dsir" ->
      s"""$dsirCtes
        |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(st AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp_target,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp_raw,
        |  round(CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(st AS DOUBLE) / nb, 6)
        |             ELSE 0.0 END
        |      - CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nb, 6)
        |             ELSE 0.0 END, 6) AS log_ratio
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin,
    // order-3 DSIR: the shared trigram stream scored under four models
    // (src0-trained target tri/bi at prunes 2/2, whole-corpus raw at
    // 3/5), each side the stupid-backoff coalesce; decimal sums, ratio
    // from the rounded means — the q_dsir contract one order up
    "q_dsir3" ->
      s"""$dsir3Ctes
        |SELECT d.doc_id, CAST(coalesce(nt, 0) AS BIGINT) AS n_trigrams,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(st AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp_target,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp_raw,
        |  round(CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(st AS DOUBLE) / nt, 6)
        |             ELSE 0.0 END
        |      - CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(sr AS DOUBLE) / nt, 6)
        |             ELSE 0.0 END, 6) AS log_ratio
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin,
    // the order-3 DSIR pipeline end to end: the q_dsir_sample
    // weight/priority tail over the backoff log-ratio
    "q_dsir3_sample" ->
      s"""$dsir3Ctes,
        |sc AS (SELECT doc_id,
        |    round(round(CAST(st AS DOUBLE) / nt, 6)
        |        - round(CAST(sr AS DOUBLE) / nt, 6), 6) AS log_ratio
        |  FROM agg),
        |w AS (SELECT doc_id,
        |    greatest(1, CAST(round((log_ratio + 10.0) * 1000, 0) AS BIGINT)) AS dsir_w
        |  FROM sc),
        |kk AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} // dsir_w AS pri
        |    FROM w)
        |  ORDER BY pri ASC, doc_id ASC LIMIT 25)
        |SELECT d.doc_id, d.source, w.dsir_w
        |FROM documents d JOIN w USING (doc_id) JOIN kk USING (doc_id)""".stripMargin,
    // the complete DSIR pipeline: scorable docs weighted by the shifted
    // 6dp log-ratio (monotone integer map, no transcendental exp in the
    // gate), then sequential-Poisson weighted sampling — q_weighted_sample's
    // exact priority spelling over the DSIR weights
    "q_dsir_sample" ->
      s"""$dsirCtes,
        |sc AS (SELECT doc_id,
        |    round(round(CAST(st AS DOUBLE) / nb, 6)
        |        - round(CAST(sr AS DOUBLE) / nb, 6), 6) AS log_ratio
        |  FROM agg),
        |w AS (SELECT doc_id,
        |    greatest(1, CAST(round((log_ratio + 10.0) * 1000, 0) AS BIGINT)) AS dsir_w
        |  FROM sc),
        |kk AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} // dsir_w AS pri
        |    FROM w)
        |  ORDER BY pri ASC, doc_id ASC LIMIT 25)
        |SELECT d.doc_id, d.source, w.dsir_w
        |FROM documents d JOIN w USING (doc_id) JOIN kk USING (doc_id)""".stripMargin,
    // KL terms from exact integer counts: one double division inside the
    // ln (9 dp), term 9 dp, decimal sum per source, final 6 dp
    // Pearson corr from exact integer power sums: values fixed-pointed
    // at 2 decimals, HUGEINT sums/differences (== Spark's DECIMAL(38,0)
    // on these magnitudes), one double divide+sqrt rounded at 6
    "q_corr" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS HUGEINT) AS xi,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS yi
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |s AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(xi) AS sx, sum(yi) AS sy, sum(xi * yi) AS sxy,
        |    sum(xi * xi) AS sxx, sum(yi * yi) AS syy
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS corr
        |FROM s""".stripMargin,
    // per-interval weights in exact micros, weighted sum in HUGEINT,
    // one double division; last observation carries no interval
    "q_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    CAST(round(value * 1000000) AS HUGEINT) AS vf
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |s AS (SELECT user_id, us, vf,
        |    lead(us) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS nxt
        |  FROM e),
        |f AS (SELECT * FROM s WHERE nxt IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  round(CAST(sum(vf * CAST(nxt - us AS HUGEINT)) AS DOUBLE) /
        |    (CAST(max(nxt) - min(us) AS DOUBLE) * 1000000.0), 6) AS twap
        |FROM f GROUP BY 1""".stripMargin,
    // median fill over the dirtied value column; all-null groups stay null
    "q_impute" ->
      """WITH de AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 89 = 0 THEN NULL ELSE value END AS value
        |  FROM events),
        |m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM de WHERE value IS NOT NULL GROUP BY 1)
        |SELECT de.event_id, de.event_type, de.value,
        |  COALESCE(de.value, m.med) AS value_imputed,
        |  (de.value IS NULL AND m.med IS NOT NULL) AS was_imputed
        |FROM de LEFT JOIN m ON de.event_type = m.event_type""".stripMargin,
    // the winsorize CTE feeding the rank window — composed exactly as
    // the Spark pipeline chains the operators
    "q_feature_pipeline" ->
      """WITH v AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |f AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25), 6) AS p25,
        |    round(quantile_cont(value, 0.75), 6) AS p75
        |  FROM v GROUP BY 1),
        |b AS (SELECT event_type,
        |    p25 - 1.5 * (p75 - p25) AS lo,
        |    p75 + 1.5 * (p75 - p25) AS hi
        |  FROM f),
        |c AS (SELECT v.event_id, v.event_type,
        |    least(greatest(v.value, b.lo), b.hi) AS clipped
        |  FROM v JOIN b ON v.event_type = b.event_type)
        |SELECT event_id, event_type, clipped,
        |  round(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY clipped ASC), 6) AS rank_norm
        |FROM c""".stripMargin,
    // means and variance numerators in HUGEINT; the t quotient and
    // Welch-Satterthwaite df in doubles, every step spelled as Spark
    // computes it
    "q_abtest" ->
      """WITH s AS (
        |  SELECT
        |    CAST(count(*) FILTER (event_type = 'view') AS HUGEINT) AS na,
        |    sum(CAST(round(value * 100) AS HUGEINT))
        |      FILTER (event_type = 'view') AS s1a,
        |    sum(CAST(round(value * 100) AS HUGEINT) *
        |        CAST(round(value * 100) AS HUGEINT))
        |      FILTER (event_type = 'view') AS s2a,
        |    CAST(count(*) FILTER (event_type = 'purchase') AS HUGEINT) AS nb,
        |    sum(CAST(round(value * 100) AS HUGEINT))
        |      FILTER (event_type = 'purchase') AS s1b,
        |    sum(CAST(round(value * 100) AS HUGEINT) *
        |        CAST(round(value * 100) AS HUGEINT))
        |      FILTER (event_type = 'purchase') AS s2b
        |  FROM events WHERE value IS NOT NULL
        |    AND event_type IN ('view', 'purchase')),
        |t AS (SELECT *,
        |    CAST(s1a AS DOUBLE) / (CAST(na AS DOUBLE) * 100.0) AS ma,
        |    CAST(s1b AS DOUBLE) / (CAST(nb AS DOUBLE) * 100.0) AS mb,
        |    CAST(na * s2a - s1a * s1a AS DOUBLE) /
        |      (CAST(na * na * (na - 1) AS DOUBLE) * 10000.0) AS va,
        |    CAST(nb * s2b - s1b * s1b AS DOUBLE) /
        |      (CAST(nb * nb * (nb - 1) AS DOUBLE) * 10000.0) AS vb
        |  FROM s)
        |SELECT 'view' AS group_a, 'purchase' AS group_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  CASE WHEN na < 2 OR nb < 2 OR va + vb = 0.0 THEN NULL
        |    ELSE round((ma - mb) / sqrt(va + vb), 6) END AS t,
        |  CASE WHEN na < 2 OR nb < 2 OR va + vb = 0.0 THEN NULL
        |    ELSE round(((va + vb) * (va + vb)) /
        |      ((va * va) / CAST(na - 1 AS DOUBLE) +
        |       (vb * vb) / CAST(nb - 1 AS DOUBLE)), 6) END AS df
        |FROM t""".stripMargin,
    // anti-join orphan detection over the deterministically dirtied
    // child (dirt CTE spelled identically to the Spark helper)
    "q_ref_orphans" ->
      """WITH de AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 101 = 0 THEN NULL
        |         WHEN event_id % 97 = 0 THEN user_id + 1000000
        |         ELSE user_id END AS user_id
        |  FROM events)
        |SELECT event_id, user_id FROM de
        |WHERE user_id IS NOT NULL
        |  AND user_id NOT IN (SELECT c_custkey FROM customer)""".stripMargin,
    "q_ref_integrity" ->
      """WITH de AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 101 = 0 THEN NULL
        |         WHEN event_id % 97 = 0 THEN user_id + 1000000
        |         ELSE user_id END AS user_id
        |  FROM events),
        |f AS (SELECT de.user_id IS NULL AS isn,
        |    (de.user_id IS NOT NULL AND c.c_custkey IS NULL) AS orph
        |  FROM de LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON de.user_id = c.c_custkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN isn THEN 1 ELSE 0 END) AS BIGINT) AS n_null_refs,
        |  CAST(sum(CASE WHEN isn THEN 0 ELSE 1 END) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN orph THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |  round(CAST(sum(CASE WHEN orph THEN 1 ELSE 0 END) AS DOUBLE) /
        |    greatest(sum(CASE WHEN isn THEN 0 ELSE 1 END), 1), 6) AS orphan_rate
        |FROM f""".stripMargin,
    // percent_rank is (rank-1)/(n-1) in both engines; ties share a rank
    "q_rank_normalize" ->
      """SELECT event_id, event_type, value,
        |  round(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY value ASC), 6) AS rank_norm
        |FROM events WHERE value IS NOT NULL""".stripMargin,
    // null rhs counts as its own class (count(DISTINCT) skips nulls,
    // add the null class back via max(isnull))
    "q_fd_violations" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) +
        |    max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_distinct_rhs
        |FROM orders GROUP BY 1
        |HAVING count(DISTINCT o_orderpriority) +
        |  max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) > 1""".stripMargin,
    "q_key_profile" ->
      """SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_null,
        |  round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6) AS uniqueness,
        |  (count(DISTINCT o_orderkey) = count(*) AND
        |   count(*) FILTER (o_orderkey IS NULL) = 0) AS is_key
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT o_custkey) AS BIGINT),
        |  CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT),
        |  round(CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(*), 6),
        |  (count(DISTINCT o_custkey) = count(*) AND
        |   count(*) FILTER (o_custkey IS NULL) = 0)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(count(*) FILTER (o_orderstatus IS NULL) AS BIGINT),
        |  round(CAST(count(DISTINCT o_orderstatus) AS DOUBLE) / count(*), 6),
        |  (count(DISTINCT o_orderstatus) = count(*) AND
        |   count(*) FILTER (o_orderstatus IS NULL) = 0)
        |FROM orders""".stripMargin,
    // json_extract over TRY_CAST-validated payloads == try_parse_json's
    // null-on-unparseable contract (any well-formed JSON — object,
    // array, scalar, bare null — is valid in both engines); a parseable
    // object missing the key is valid with a null field in both
    "q_json_extract" ->
      """SELECT event_id, event_type,
        |  TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k,
        |  (TRY_CAST(props AS JSON) IS NOT NULL) AS valid_json
        |FROM events""".stripMargin,
    "q_json_stats" ->
      """WITH e AS (
        |  SELECT event_type,
        |    TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, k // 10 AS k_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct
        |FROM e WHERE k IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // exact-decimal window sum / window count, round 6 — the dsum
    // rationale applied to a ROWS frame
    "q_moving_avg" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  round(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) /
        |        count(*) OVER w, 6) AS mavg_3
        |FROM events
        |WHERE ts IS NOT NULL AND value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the recurrence unrolled as a recursive CTE; (x-e)/16.0 is exact
    // (|x-e| < 2^53, divisor a power of two) so trunc == Spark's div
    "q_ewma" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS xs,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS rn
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT user_id, rn, event_id, xs AS ew FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn, s.event_id,
        |    r.ew + CAST(trunc(CAST(s.xs - r.ew AS DOUBLE) / 16.0) AS BIGINT)
        |  FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
        |SELECT user_id, event_id, ew AS ewma_s6 FROM r""".stripMargin,
    // (ts, event_id)-ordered lead pairs; probabilities are exact-count
    // ratios rounded at 6dp
    "q_transitions" ->
      """WITH pr AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS to_type
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / tt.tot, 6) AS p
        |FROM c JOIN tt USING (from_type)""".stripMargin,
    // FILTERed aggregates are the long-form spelling of the same single
    // grouped aggregation the pivot runs
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(25,4)))
        |    FILTER (o_orderstatus = 'F') AS DOUBLE), 0.0) AS total_f,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(25,4)))
        |    FILTER (o_orderstatus = 'O') AS DOUBLE), 0.0) AS total_o,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p,
        |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(25,4)))
        |    FILTER (o_orderstatus = 'P') AS DOUBLE), 0.0) AS total_p
        |FROM orders GROUP BY 1""".stripMargin,
    // raw power sums in HUGEINT (== Spark's DECIMAL(38,0) at these
    // magnitudes); g1 = A/(B*sqrt(B)), g2 = C/B^2 - 3 — the fixed-point
    // scale cancels; only the final divide/sqrt runs in doubles
    "q_skew_stats" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 10) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS s1, sum(x*x) AS s2, sum(x*x*x) AS s3,
        |    sum(x*x*x*x) AS s4
        |  FROM v GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 10.0), 6) AS mean,
        |  CASE WHEN n*s2 - s1*s1 = 0 THEN NULL ELSE
        |    round(CAST(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS DOUBLE) /
        |      (CAST(n*s2 - s1*s1 AS DOUBLE) * sqrt(CAST(n*s2 - s1*s1 AS DOUBLE))), 6)
        |  END AS skewness,
        |  CASE WHEN n*s2 - s1*s1 = 0 THEN NULL ELSE
        |    round(CAST(n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS DOUBLE) /
        |      (CAST(n*s2 - s1*s1 AS DOUBLE) * CAST(n*s2 - s1*s1 AS DOUBLE)) - 3.0, 6)
        |  END AS kurtosis
        |FROM s""".stripMargin,
    // floor(value / width) binning: division and floor are correctly
    // rounded IEEE ops, identical in any engine
    "q_histogram" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |gb AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(n) AS n_g FROM gb GROUP BY 1)
        |SELECT gb.event_type, gb.bin, gb.n,
        |  round(CAST(gb.n AS DOUBLE) / g.n_g, 6) AS share
        |FROM gb JOIN g ON gb.event_type = g.event_type""".stripMargin,
    // median and MAD rounded to 6dp BEFORE the gate (exact-quantile
    // interpolation differs across engines in the last ulp); the
    // comparison |v-med6| > 3*mad6 is then single correctly-rounded ops
    "q_outliers" ->
      """WITH v AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM v GROUP BY 1),
        |d AS (SELECT v.event_id, v.event_type, v.value, m.med,
        |    abs(v.value - m.med) AS dev
        |  FROM v JOIN m ON v.event_type = m.event_type),
        |md AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.med, md.mad
        |FROM d JOIN md ON d.event_type = md.event_type
        |WHERE d.dev > 3.0 * md.mad""".stripMargin,
    // quarter quantiles round 6dp before the fence arithmetic; fences
    // and the clip are single correctly-rounded ops
    "q_winsorize" ->
      """WITH v AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |f AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25), 6) AS p25,
        |    round(quantile_cont(value, 0.75), 6) AS p75
        |  FROM v GROUP BY 1),
        |b AS (SELECT event_type,
        |    p25 - 1.5 * (p75 - p25) AS lo,
        |    p75 + 1.5 * (p75 - p25) AS hi
        |  FROM f)
        |SELECT v.event_id, v.event_type, v.value,
        |  least(greatest(v.value, b.lo), b.hi) AS clipped,
        |  (v.value < b.lo OR v.value > b.hi) AS was_clipped
        |FROM v JOIN b ON v.event_type = b.event_type""".stripMargin,
    // GROUPING(a, b) bitmask: first argument = most significant bit in
    // both engines (the SQL-standard encoding)
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    // change points via null-safe lag inequality; valid_to/version over
    // one row per VERSION (the second window never sees the event stream)
    "q_scd2" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |    o_orderkey AS tie,
        |    lag(o_orderstatus) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM orders WHERE o_orderdate IS NOT NULL
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |ch AS (SELECT o_custkey, o_orderstatus, valid_from, tie FROM c
        |  WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
        |SELECT o_custkey, o_orderstatus, valid_from,
        |  lead(valid_from) OVER wv AS valid_to,
        |  CAST(row_number() OVER wv AS BIGINT) AS version,
        |  (lead(valid_from) OVER wv IS NULL) AS is_current
        |FROM ch
        |WINDOW wv AS (PARTITION BY o_custkey
        |  ORDER BY valid_from ASC, tie ASC)""".stripMargin,
    // PSI over fixed-width length bins; group share zero -> eps substitute,
    // 9dp terms decimal-summed (the vocab_drift determinism recipe)
    "q_psi" ->
      """WITH bn AS (
        |  SELECT source AS grp, CAST(floor(n_chars / 50) AS BIGINT) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |gb AS (SELECT grp, bin, count(*) AS n_gb FROM bn GROUP BY 1, 2),
        |g AS (SELECT grp, sum(n_gb) AS n_g FROM gb GROUP BY 1),
        |b AS (SELECT bin, sum(n_gb) AS n_b FROM gb GROUP BY 1),
        |t AS (SELECT sum(n_b) AS n FROM b),
        |grid AS (
        |  SELECT g.grp, b.bin, n_g, n_b, n, coalesce(n_gb, 0) AS n_gb
        |  FROM g CROSS JOIN b CROSS JOIN t
        |  LEFT JOIN gb ON gb.grp = g.grp AND gb.bin = b.bin),
        |terms AS (SELECT grp,
        |  round((greatest(CAST(n_gb AS DOUBLE) / n_g, 0.000001)
        |       - CAST(n_b AS DOUBLE) / n)
        |    * ln(greatest(CAST(n_gb AS DOUBLE) / n_g, 0.000001)
        |       / (CAST(n_b AS DOUBLE) / n)), 9) AS term
        |  FROM grid)
        |SELECT grp AS source,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi
        |FROM terms GROUP BY 1""".stripMargin,
    "q_vocab_drift" ->
      """WITH t AS (
        |  SELECT source,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, count(*) AS c_st FROM t GROUP BY 1, 2),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT sum(c_t) AS nn FROM ct)
        |SELECT st.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(
        |    round((CAST(c_st AS DOUBLE) / ns.n_s) *
        |      round(ln(CAST(c_st * nn AS DOUBLE) / CAST(ns.n_s * c_t AS DOUBLE)), 9), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl_nats
        |FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY 1, 2""".stripMargin,
    // quartile cuts via quantile_cont — quarter-fraction interpolation is
    // engine-exact (Stats contract), both sides round cuts to 6 dp
    "q_ppl_buckets" ->
      s"""WITH sc AS (SELECT * FROM ($lmScoreSql) s0),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp, 0.75), 6) AS p75
        |  FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  CASE WHEN n_bigrams = 0 THEN 'unscored'
        |       WHEN avg_logp >= p75 THEN 'head'
        |       WHEN avg_logp >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin,
    "q_entropy" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, sum(c) AS n, count(*) AS nd,
        |    sum(CAST(round(c * ln(c), 9) AS DECIMAL(28,9))) AS s
        |  FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
        |  CASE WHEN coalesce(a.n, 0) > 0
        |       THEN round((ln(CAST(a.n AS DOUBLE)) - CAST(a.s AS DOUBLE) / a.n)
        |                  / 0.6931471805599453, 6)
        |       ELSE 0.0 END AS entropy
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id""".stripMargin,
    "q_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |g AS (
        |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |df AS (SELECT gram, count(*) AS nd FROM g GROUP BY 1),
        |boiler AS (SELECT gram FROM df WHERE nd >= 3),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
        |nb AS (SELECT g.doc_id, count(*) AS n_boiler FROM g JOIN boiler USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CASE WHEN coalesce(tot.n_grams, 0) > 0
        |       THEN round(CAST(coalesce(nb.n_boiler, 0) AS DOUBLE) / tot.n_grams, 6)
        |       ELSE 0.0 END AS boiler_ratio
        |FROM documents d LEFT JOIN tot ON tot.doc_id = d.doc_id
        |  LEFT JOIN nb ON nb.doc_id = d.doc_id""".stripMargin,
    "q_redact" ->
      s"""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '\\b(customer|key)\\b', '[TERM]', 'g'),
        |    '${graft.ops.Curate.EmailPattern}', '[EMAIL]', 'g') AS text,
        |  CAST(len(regexp_extract_all(text, '\\b(customer|key)\\b'))
        |     + len(regexp_extract_all(text, '${graft.ops.Curate.EmailPattern}'))
        |    AS BIGINT) AS n_redactions
        |FROM documents""".stripMargin,
    // the card oracle re-derives the Luhn mod-10 arithmetic in SQL
    // (digit list reversed via negative indexing, double-every-second,
    // subtract 9 over 9, sum % 10) — the checksum itself is on the
    // hook, not just the fixture outcome; the corpus carries no digits
    // so the injected span is the row's only candidate (regexp_extract
    // first-match is total coverage here by construction)
    "q_redact_cards" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 11 = 0 THEN ' 4539578763621486'
        |                 WHEN doc_id % 11 = 5 THEN ' 4539-5787-6362-1486'
        |                 WHEN doc_id % 11 = 7 THEN ' 4539578763621487'
        |                 WHEN doc_id % 11 = 9 THEN ' 3782 822463 10005'
        |                 ELSE '' END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    regexp_extract(text, '${graft.ops.Curate.CardPattern}') AS cand
        |  FROM base),
        |dd AS (
        |  SELECT doc_id, text, cand,
        |    regexp_replace(cand, '[^0-9]', '', 'g') AS dg
        |  FROM c),
        |l AS (
        |  SELECT doc_id, text, cand,
        |    cand <> '' AND len(dg) BETWEEN 13 AND 19 AND
        |    list_sum(list_transform(range(1, len(dg) + 1), i ->
        |      CASE WHEN i % 2 = 0
        |           THEN CASE WHEN 2 * CAST(dg[-i] AS INT) > 9
        |                     THEN 2 * CAST(dg[-i] AS INT) - 9
        |                     ELSE 2 * CAST(dg[-i] AS INT) END
        |           ELSE CAST(dg[-i] AS INT) END)) % 10 = 0 AS ok
        |  FROM dd)
        |SELECT doc_id,
        |  CASE WHEN ok
        |       THEN regexp_replace(text, '\\b' || cand || '\\b', '[CARD]', 'g')
        |       ELSE text END AS text,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_cards
        |FROM l""".stripMargin,
    // link-extraction oracle: the SAME shared tag/href pattern constants
    // (ControlClass convention; single quotes doubled for the SQL
    // literal), unnest+subscripts for tag position, CASE-coalesced
    // double/single/unquoted href, then the urlCte host derivation and
    // domainSql over the extracted hrefs (CTE chain shared with the
    // composed q_link_rank oracle)
    "q_extract_links" ->
      s"""WITH $linkCtes
        |SELECT doc_id, link_pos, href, host, $domainSql AS domain
        |FROM lnk""".stripMargin,
    // robots oracle: the expected directive rows ENUMERATED from the
    // fixture formulas (group numbers known by construction — the
    // orphan rule, the comment and the case-varied keys never surface),
    // not re-parsed from text
    "q_robots_rules" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120)
        |SELECT doc_id, CAST(rule_pos AS BIGINT) AS rule_pos,
        |  CAST(grp AS BIGINT) AS grp, directive, value
        |FROM (
        |  SELECT doc_id, 0 AS rule_pos, 0 AS grp, 'user-agent' AS directive,
        |    '*' AS value FROM d
        |  UNION ALL SELECT doc_id, 1, 0, 'disallow',
        |    '/private' || (doc_id % 5) || '/' FROM d
        |  UNION ALL SELECT doc_id, 2, 0, 'allow',
        |    '/private' || (doc_id % 5) || '/public' FROM d
        |  UNION ALL SELECT doc_id, 3, 1, 'user-agent',
        |    'bot' || (doc_id % 4) FROM d
        |  UNION ALL SELECT doc_id, 4, 1, 'user-agent', 'helper' FROM d
        |  UNION ALL SELECT doc_id, 5, 1, 'crawl-delay',
        |    CAST(doc_id % 7 + 1 AS VARCHAR) FROM d
        |  UNION ALL SELECT doc_id, 6, 1, 'disallow', '/' FROM d
        |  UNION ALL SELECT doc_id, 7, -1, 'sitemap',
        |    'http://site' || (doc_id % 7) || '.example/sitemap.xml' FROM d
        |) rows""".stripMargin,
    // permission oracle: doc_id%4==1 hosts own a bot1 group (deny-all —
    // own group outranks *); everywhere else the * group's longest
    // prefix decides: j=0 /privateK/x blocked by /privateK/, j=1 the
    // longer allow overrides, j=2 and j=3 match nothing
    "q_robots_filter" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |u AS (
        |  SELECT doc_id, doc_id * 4 + j.i AS url_id, j.i AS j,
        |    CASE j.i
        |      WHEN 0 THEN '/private' || (doc_id % 5) || '/x'
        |      WHEN 1 THEN '/private' || (doc_id % 5) || '/public/y'
        |      WHEN 2 THEN '/other'
        |      ELSE '/' END AS path
        |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS i) j)
        |SELECT doc_id, url_id, path,
        |  CASE WHEN doc_id % 4 = 1 THEN false
        |       WHEN j = 0 THEN false
        |       ELSE true END AS allowed
        |FROM u""".stripMargin,
    // frontier oracle: the linkCtes href chain → canonical (scheme +
    // host + query-stripped path) → min-id survivorship per canonical →
    // the org class blocked by its /q disallow, com (no robots) and net
    // (delay 2) pass → slots by url order within host
    "q_crawl_frontier" ->
      s"""WITH $linkCtes,
        |canon AS (
        |  SELECT doc_id * 10 + link_pos AS url_id, host,
        |    CASE WHEN p = '' THEN '/'
        |         ELSE regexp_replace(p, '(.)/$$', '\\1') END AS path,
        |    regexp_extract(href, '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
        |      host ||
        |      CASE WHEN p = '' THEN '/'
        |           ELSE regexp_replace(p, '(.)/$$', '\\1') END AS url_canon
        |  FROM (
        |    SELECT *, regexp_extract(href,
        |      '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p
        |    FROM lnk)),
        |surv AS (
        |  SELECT min(url_id) AS url_id FROM canon GROUP BY url_canon),
        |rows AS (
        |  SELECT c.host, c.url_id, c.path
        |  FROM canon c JOIN surv s ON c.url_id = s.url_id),
        |allowed AS (
        |  SELECT * FROM rows WHERE host NOT LIKE '%.org')
        |SELECT host, url_id, path,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY url_id) - 1
        |    AS BIGINT) AS slot,
        |  CASE WHEN host LIKE '%.net' THEN 2.0 ELSE 1.0 END AS delay_s,
        |  (row_number() OVER (PARTITION BY host ORDER BY url_id) - 1) *
        |    CASE WHEN host LIKE '%.net' THEN 2.0 ELSE 1.0 END AS offset_s
        |FROM allowed""".stripMargin,
    // wildcard oracle: the four verdict classes by construction — only
    // the longer-allow (j=1) and anchor-escaping (j=3) paths pass
    "q_robots_wildcard" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |u AS (
        |  SELECT doc_id, doc_id * 4 + j.i AS url_id, j.i AS j,
        |    CASE j.i
        |      WHEN 0 THEN '/d' || (doc_id % 3) || 'abc'
        |      WHEN 1 THEN '/d' || (doc_id % 3) || 'z/keep'
        |      WHEN 2 THEN '/end' || (doc_id % 5)
        |      ELSE '/end' || (doc_id % 5) || 'x' END AS path
        |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS i) j)
        |SELECT doc_id, url_id, path,
        |  (j = 1 OR j = 3) AS allowed
        |FROM u""".stripMargin,
    // sitemap oracle: the rows enumerated from the fixture formulas —
    // even docs contribute urlset entries 0 and 2 (entry 1 is loc-less
    // and provably absent, yet entry 2 keeps ordinal 2), odd docs the
    // two sitemapindex entries; escapes pre-unescaped by construction
    "q_sitemap_urls" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120)
        |SELECT doc_id, CAST(entry_pos AS BIGINT) AS entry_pos, kind, loc,
        |  lastmod, changefreq, priority
        |FROM (
        |  SELECT doc_id, 0 AS entry_pos, 'url' AS kind,
        |    'http://s' || (doc_id % 7) || '.example/p' || (doc_id % 5) ||
        |      '?a=1&b=' || (doc_id % 3) AS loc,
        |    '2024-0' || (doc_id % 9 + 1) || '-01' AS lastmod,
        |    CASE (doc_id % 3) WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |      ELSE 'monthly' END AS changefreq,
        |    CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
        |  FROM d WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, 2, 'url',
        |    'http://s' || (doc_id % 7) || '.example/q' || (doc_id % 11),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS DOUBLE)
        |  FROM d WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, 0, 'sitemap',
        |    'http://site' || (doc_id % 7) || '.example/maps/m' ||
        |      (doc_id % 5) || '.xml.gz',
        |    '2024-02-0' || (doc_id % 9 + 1), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS DOUBLE)
        |  FROM d WHERE doc_id % 2 = 1
        |  UNION ALL SELECT doc_id, 1, 'sitemap',
        |    'http://site' || (doc_id % 7) || '.example/&' ||
        |      (doc_id % 3) || '.xml',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS DOUBLE)
        |  FROM d WHERE doc_id % 2 = 1
        |) rows""".stripMargin,
    // discovery oracle: every doc points at the site{doc%7} sitemap,
    // whose two urlset entries are p{K}/q{K} formulas of the same
    // ordinal — enumerated directly, never re-parsing XML
    "q_sitemap_frontier" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |e AS (SELECT unnest(range(2)) AS i)
        |SELECT doc_id,
        |  'http://site' || (doc_id % 7) || '.example/sitemap.xml'
        |    AS sitemap_url,
        |  CAST(e.i AS BIGINT) AS entry_pos,
        |  'http://site' || (doc_id % 7) || '.example/' ||
        |    (CASE e.i WHEN 0 THEN 'p' ELSE 'q' END) || (doc_id % 7) AS loc
        |FROM d CROSS JOIN e""".stripMargin,
    // schedule oracle: slot = the within-host url ordinal j by
    // construction; delay = doc%7+1 on the bot1-owning hosts (their own
    // group carries the crawl-delay line), defaultDelay 1.0 everywhere
    // else (the * group has no delay); offset = slot × delay
    "q_crawl_schedule" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |u AS (
        |  SELECT doc_id, doc_id * 4 + j.i AS url_id, j.i AS j,
        |    CASE j.i
        |      WHEN 0 THEN '/private' || (doc_id % 5) || '/x'
        |      WHEN 1 THEN '/private' || (doc_id % 5) || '/public/y'
        |      WHEN 2 THEN '/other'
        |      ELSE '/' END AS path
        |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS i) j)
        |SELECT doc_id, url_id, path, j AS slot,
        |  CASE WHEN doc_id % 4 = 1 THEN CAST(doc_id % 7 + 1 AS DOUBLE)
        |       ELSE 1.0 END AS delay_s,
        |  j * (CASE WHEN doc_id % 4 = 1 THEN CAST(doc_id % 7 + 1 AS DOUBLE)
        |            ELSE 1.0 END) AS offset_s
        |FROM u""".stripMargin,
    // the COMPOSED crawl-graph oracle: anchors → hrefs → registrable
    // domains (the linkCtes chain), the synthetic per-page url's domain
    // (the urlCte derivation inlined as pgh/pgd), the distinct
    // (page domain → link domain) edge list hashed into the portable
    // 60-bit node space, and the SAME integer PageRank iteration CTEs
    // as q_pagerank (pagerankIterCtes — one recurrence, two oracles),
    // names joined back at the end
    "q_link_rank" ->
      s"""WITH $linkCtes,
        |ld AS (
        |  SELECT doc_id, $domainSql AS link_domain
        |  FROM (SELECT doc_id, host FROM lnk)),
        |pgh AS (
        |  SELECT doc_id, lower(regexp_extract(regexp_extract(
        |    (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END ||
        |     CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
        |     source ||
        |     CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END ||
        |     CASE WHEN doc_id % 11 = 0 THEN ':8080'
        |          WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END ||
        |     '/p' || CAST(doc_id % 5 AS VARCHAR) ||
        |     CASE WHEN doc_id % 6 = 0 THEN '?ref=' || CAST(doc_id % 3 AS VARCHAR)
        |          ELSE '' END),
        |    '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '^([^:]+)', 1)) AS host
        |  FROM documents),
        |pgd AS (SELECT doc_id, $domainSql AS page_domain FROM pgh),
        |edges0 AS (
        |  SELECT DISTINCT page_domain, link_domain
        |  FROM pgd JOIN ld USING (doc_id)
        |  WHERE page_domain <> '' AND link_domain <> ''),
        |edges AS (
        |  SELECT ${h60("'lg:' || page_domain")} AS src,
        |    ${h60("'lg:' || link_domain")} AS dst
        |  FROM edges0),
        |${pagerankIterCtes(3)},
        |nm AS (
        |  SELECT domain, ${h60("'lg:' || domain")} AS node FROM (
        |    SELECT DISTINCT page_domain AS domain FROM edges0
        |    UNION
        |    SELECT DISTINCT link_domain AS domain FROM edges0))
        |SELECT nm.domain, pr3.rank
        |FROM pr3 JOIN nm ON pr3.node = nm.node""".stripMargin,
    // the near-decontamination oracle reads the SAME pr pair frame as
    // q_dedup_minhash/q_dedup_cluster (one LSH pipeline, three gates)
    // restricted to eval x corpus pairs — the probe contract is exactly
    // "minhashPairs on the new x corpus subset"
    "q_decontaminate_near" ->
      s"""WITH $shingleCtes,
        |$minhashPairCtes
        |SELECT doc_b AS doc_id, CAST(count(*) AS BIGINT) AS n_near,
        |  max(jaccard) AS max_jaccard
        |FROM pr WHERE doc_a < 50 AND doc_b >= 50
        |GROUP BY doc_b""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // the bloom path must be indistinguishable from the exact path —
    // literally the same oracle
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_curation_pipeline" ->
      s"""WITH q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      0.4 * least($ntok / 100.0, 1.0) + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1))
        |        + 0.3 * least(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\\b')) AS DOUBLE) / greatest($ntok, 1) * 5.0, 1.0) AS score
        |    FROM documents)
        |  WHERE score >= 0.5),
        |kept AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
        |dd AS (
        |  SELECT doc_id, lang, source FROM (
        |    SELECT doc_id, lang, source,
        |      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |    FROM kept)
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
        |mixed AS (
        |  SELECT * FROM dd
        |  WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |                WHEN 'src2' THEN 50 ELSE 75 END)
        |SELECT doc_id, lang, source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang, source,
        |  ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h FROM mixed)""".stripMargin,
    // the ingest-chain oracle recomputes the whole composed pipeline
    // from the fixture constants: line/span artifacts reduce to their
    // SEMANTICS (a line stripped iff corpus-frequent; the block span
    // always stripped; a DUPLICATE corpus text makes its line-1
    // corpus-frequent, so dup docs lose the whole line at the LINE
    // stage — n_boiler 2, n_dup 0), then the C4 line battery, the
    // default-threshold Gopher metrics over the composed text, the
    // m-class contamination/card/email facts, and the final redacted
    // string — the Bloom filters, shingle hashing, and sentence
    // machinery are all on the hook against a plain-string recompute
    "q_curation_ingest" ->
      s"""WITH dup AS (
        |  SELECT text FROM documents GROUP BY text HAVING count(*) > 1),
        |base AS (
        |  SELECT d.doc_id, d.doc_id % 4 AS m,
        |    (dup.text IS NOT NULL) AS is_dup, d.text
        |  FROM documents d LEFT JOIN dup ON dup.text = d.text),
        |comp AS (
        |  SELECT doc_id, m, is_dup,
        |    -- t3: the FINAL text (post span-rebuild, single line)
        |    (CASE WHEN is_dup THEN '' ELSE text || '. ' END) ||
        |    (CASE m WHEN 0 THEN 'Pay [CARD] for this now. '
        |            WHEN 1 THEN 'Mail [EMAIL] about this today. '
        |            WHEN 2 THEN '$IngestEval '
        |            ELSE '' END) ||
        |    '$IngestExtras' AS t3,
        |    -- tc4: the PRE-span text the C4/Gopher stages read (the
        |    -- duplicated block still present, lines intact)
        |    (CASE WHEN is_dup THEN ''
        |          ELSE text || '. $IngestBlock' || chr(10) END) ||
        |    (CASE m WHEN 0 THEN 'Pay [CARD] for this now. '
        |            WHEN 1 THEN 'Mail [EMAIL] about this today. '
        |            WHEN 2 THEN '$IngestEval '
        |            ELSE '' END) ||
        |    '$IngestExtras' ||
        |    (CASE WHEN m = 3 THEN chr(10) || '$IngestTail' ELSE '' END) AS tc4
        |  FROM base),
        |c4 AS (
        |  SELECT *,
        |    array_to_string(list_filter(string_split(tc4, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]\\s*$$')
        |        AND len(regexp_extract_all(l, '\\S+')) >= 3
        |        AND NOT contains(lower(l), 'javascript')), chr(10)) AS t4
        |  FROM comp),
        |c4f AS (
        |  SELECT *,
        |    (CAST(len(regexp_extract_all(t4, '[.!?]')) AS BIGINT) >= 5
        |      AND NOT contains(lower(tc4), 'lorem ipsum')
        |      AND NOT contains(tc4, '{')) AS c4_keep
        |  FROM c4),
        |g AS (
        |  SELECT *,
        |    CAST(len(regexp_extract_all(t4, '\\S+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(t4, '\\S')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS mean_word_len,
        |    CAST(len(regexp_extract_all(t4, '#')) + len(regexp_extract_all(t4, '\\.\\.\\.'))
        |      + len(regexp_extract_all(t4, '\\x{2026}')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS symbol_ratio,
        |    CAST(len(list_filter(string_split(t4, chr(10)),
        |        l -> regexp_matches(l, '^\\s*[-*\\x{2022}]'))) AS DOUBLE)
        |      / greatest(len(string_split(t4, chr(10))), 1) AS bullet_ratio,
        |    CAST(len(list_filter(string_split(t4, chr(10)),
        |        l -> regexp_matches(l, '(\\.\\.\\.|\\x{2026})\\s*$$'))) AS DOUBLE)
        |      / greatest(len(string_split(t4, chr(10))), 1) AS ellipsis_ratio,
        |    CAST(len(list_filter(regexp_extract_all(t4, '\\S+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(t4, '\\S+')), 1) AS alpha_ratio,
        |    CAST(CAST(regexp_matches(lower(t4), '\\bthe\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bbe\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bto\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bof\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\band\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bthat\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bhave\\b') AS INT)
        |      + CAST(regexp_matches(lower(t4), '\\bwith\\b') AS INT) AS BIGINT) AS n_stop
        |  FROM c4f),
        |gk AS (
        |  SELECT *,
        |    (n_words >= 50 AND n_words <= 100000
        |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |      AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        |      AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        |      AND n_stop >= 2) AS gopher_keep
        |  FROM g)
        |SELECT doc_id,
        |  t3 AS text,
        |  (c4_keep AND gopher_keep AND NOT (m = 2)) AS keep,
        |  c4_keep, gopher_keep,
        |  (m = 2) AS might_contaminated,
        |  CAST(CASE WHEN is_dup THEN 2 ELSE 1 END AS BIGINT) AS n_boilerplate_lines,
        |  CAST(CASE WHEN is_dup THEN 0 ELSE 3 END AS BIGINT) AS n_dup_sentences,
        |  CAST(CASE WHEN m = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_tail_dropped,
        |  CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
        |  CAST(CASE WHEN m = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_redactions
        |FROM gk""".stripMargin,
    "q_split_assign" ->
      s"""SELECT doc_id, source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents)""".stripMargin,
    "q_mixture" ->
      s"""SELECT doc_id, source FROM documents
        |WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 100 <
        |  CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |              WHEN 'src2' THEN 50 ELSE 75 END""".stripMargin,
    "q_pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,
    "q_pack_text" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, text,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |  FROM t)
        |SELECT source, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  string_agg(text, ' ' ORDER BY doc_id ASC) AS packed_text
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q_truncate" ->
      """SELECT doc_id,
        |  array_to_string(regexp_extract_all(text, '\S+')[1:32], ' ') AS text,
        |  CAST(least(len(regexp_extract_all(text, '\S+')), 32) AS BIGINT) AS n_tokens_kept
        |FROM documents""".stripMargin,
    "q_pack_chunks_sharded" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id % 4 ASC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,
    "q_topk_groups" ->
      """SELECT l_suppkey, line_id,
        |  CAST(rank AS BIGINT) AS "rank", l_extendedprice
        |FROM (
        |  SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS line_id,
        |    l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber ASC) AS rank
        |  FROM lineitem)
        |WHERE rank <= 3""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "q_hotcold_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "q_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, token,
        |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, CAST(rank AS BIGINT) AS "rank", tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rank
        |  FROM s)
        |WHERE rank <= 5""".stripMargin,
    "q_quantiles" ->
      """WITH t AS (
        |  SELECT source, len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT source, CAST(count(n_tokens) AS BIGINT) AS n,
        |  CAST(min(n_tokens) AS BIGINT) AS min_v,
        |  CAST(max(n_tokens) AS BIGINT) AS max_v,
        |  round(quantile_cont(n_tokens, 0.25), 6) AS p25,
        |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
        |  round(quantile_cont(n_tokens, 0.75), 6) AS p75
        |FROM t GROUP BY 1""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  CAST($ntok AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '\\w{1,4}|[^\\w\\s]')) AS BIGINT) AS n_tokens_bpe,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '$punct')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '\\S')) AS DOUBLE) / greatest($ntok, 1) AS avg_token_len
         |FROM documents""".stripMargin,
    // same deterministic combining-mark dirt (chr() keeps the SQL pure
    // ASCII: 769 = U+0301 combining acute, 776 = U+0308 combining
    // diaeresis, 233 = precomposed U+00E9), normalized by DuckDB's own
    // utf8proc NFC — an independent normalizer implementation agreeing
    // byte-for-byte with java.text.Normalizer
    // NFKC golden values: the folded form of the injected dirt is pure
    // ASCII, stated directly
    "q_unicode_nfkc" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN text || ' fine A1' ELSE text END AS norm_text,
        |  doc_id % 11 = 0 AS changed
        |FROM documents""".stripMargin,
    // golden-values oracle: DuckDB independently states the repaired
    // text (233 = U+00E9 é, 8217 = U+2019 right single quote) the
    // guarded decode(encode(...)) repair must reproduce on dirty rows,
    // and that clean rows pass through byte-identical
    "q_mojibake" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' caf' || chr(233) || ' won' || chr(8217) || 't'
        |    ELSE text END AS fixed_text,
        |  doc_id % 7 = 0 AS changed
        |FROM documents""".stripMargin,
    // the three tag-strip regexes are the SHARED constants (Java regex
    // and RE2 read them identically: inline (?is), non-greedy, \b, no
    // backreferences); entity decode — the one step RE2 cannot express
    // generally (no chr() of a capture) — is chained replace over
    // exactly the injected entities, which equals the general one-pass
    // decoder because the corpus text contains no '&' (verified: 0 rows
    // at every sf). Same whitespace collapse + trim on both sides.
    "q_html_strip" -> {
      val ss = graft.ops.TextOps.ScriptStyleBlock
      val cm = graft.ops.TextOps.HtmlComment
      val tg = graft.ops.TextOps.HtmlTagOrDecl
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN '<div class="x"><p>' || text || '</p><script>var x = 1 < 2;</script><style>p { color: red }</style><!-- hidden --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>'
        |      ELSE text END AS t2
        |  FROM documents),
        |stripped AS (
        |  SELECT doc_id, t2,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(t2,
        |          '$ss', ' ', 'g'), '$cm', ' ', 'g'), '$tg', ' ', 'g'),
        |        '&amp;', '&'), '&#66;', 'B'), '&#x43;', 'C'), '&nbsp;', ' '),
        |      '\\s+', ' ', 'g')) AS clean_text
        |  FROM dirty)
        |SELECT doc_id, clean_text, clean_text != t2 AS changed
        |FROM stripped""".stripMargin
    },
    // the composed ingest pipeline: per-class stages re-expressed with
    // the SAME shared constants ($ss/$cm/$tg tags, $cc controls,
    // nfc_normalize) in the SAME order the Spark pipeline applies them
    // (collapse+trim inside the html stage, control strip after, NFC
    // last); the mojibake class states the repaired suffix as golden
    // (the q_mojibake precedent — DuckDB has no encoding surface).
    // changed = clean_text != t2 in both engines, no class special-case
    "q_ingest_clean" -> {
      val ss = graft.ops.TextOps.ScriptStyleBlock
      val cm = graft.ops.TextOps.HtmlComment
      val tg = graft.ops.TextOps.HtmlTagOrDecl
      val cc = graft.ops.TextOps.ControlClass
      s"""WITH dirty AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 13
        |      WHEN 0 THEN '<div class="x"><p>' || text || '</p><script>var x = 1 < 2;</script><!-- c --><b>bold</b> &amp; A&#66;&#x43;&nbsp;end</div>'
        |      WHEN 1 THEN text || ' caf' || chr(195) || chr(169) || ' won' || chr(226) || chr(128) || chr(153) || 't'
        |      WHEN 2 THEN chr(65279) || text || ' zero' || chr(8203) || 'width' || chr(7) || ' soft' || chr(173) || 'hyphen'
        |      WHEN 3 THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've caf' || chr(233)
        |      ELSE text END AS t2
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, t2, nfc_normalize(regexp_replace(
        |    CASE doc_id % 13
        |      WHEN 0 THEN trim(regexp_replace(
        |        replace(replace(replace(replace(
        |          regexp_replace(regexp_replace(regexp_replace(t2,
        |            '$ss', ' ', 'g'), '$cm', ' ', 'g'), '$tg', ' ', 'g'),
        |          '&amp;', '&'), '&#66;', 'B'), '&#x43;', 'C'), '&nbsp;', ' '),
        |        '\\s+', ' ', 'g'))
        |      WHEN 1 THEN trim(regexp_replace(
        |        text || ' caf' || chr(233) || ' won' || chr(8217) || 't',
        |        '\\s+', ' ', 'g'))
        |      ELSE trim(regexp_replace(t2, '\\s+', ' ', 'g')) END,
        |    '$cc', '', 'g')) AS clean_text
        |  FROM dirty)
        |SELECT doc_id, clean_text, clean_text != t2 AS changed
        |FROM cleaned""".stripMargin
    },
    // C4 battery twin: same synthetic page, same dirt classes; the line
    // pass is a list_filter lambda with the SAME three predicates
    // (terminal punct incl. closing quote, >=3 words, no javascript),
    // sentences counted on the SURVIVING text in both engines. Patterns
    // are line-local after the split, so Java's $-before-final-newline
    // quirk cannot diverge from RE2 (TextOps.C4LineEnd scaladoc)
    "q_c4_rules" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || '.' || chr(10) || 'Keep this line yes?' || chr(10) ||
        |    'Another fine sentence stays here.' || chr(10) || 'too short.' || chr(10) ||
        |    'no terminal punctuation here' ||
        |    CASE doc_id % 19
        |      WHEN 0 THEN chr(10) || 'lorem ipsum dolor sit amet.'
        |      WHEN 1 THEN chr(10) || 'A brace { landed here.'
        |      WHEN 2 THEN chr(10) || 'Menu requires javascript to render.'
        |      WHEN 3 THEN chr(10) || 'Visit our casino tonight!'
        |      ELSE '' END AS t2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, t2,
        |    list_filter(string_split(t2, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]\s*$')
        |      AND len(regexp_extract_all(l, '\S+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    len(string_split(t2, chr(10))) AS n_raw_lines
        |  FROM dirty),
        |g AS (
        |  SELECT doc_id,
        |    array_to_string(kept, chr(10)) AS clean_text,
        |    CAST(n_raw_lines AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |    NOT regexp_matches(lower(t2), '\b(casino|viagra)\b') AS r_badwords,
        |    NOT contains(lower(t2), 'lorem ipsum') AS r_lorem,
        |    NOT contains(t2, '{') AS r_brace,
        |    CAST(len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) AS BIGINT) AS n_sentences
        |  FROM f)
        |SELECT doc_id, clean_text, n_lines, n_kept_lines, r_badwords, r_lorem,
        |  r_brace, n_sentences, n_sentences >= 3 AS r_sentences,
        |  (n_sentences >= 3 AND r_badwords AND r_lorem AND r_brace) AS c4_keep
        |FROM g""".stripMargin,
    // sentence-span dedup twin: the same shingle/rank chain with KEEPER
    // PROTECTION — a sentence is removed iff a flagged (rk>1) shingle
    // covers it and no keeper (rk=1) shingle of the doc does; the
    // lookaround-free sentence regex, the WHITESPACE trim (regex, not
    // trim() — both engines' trim() strips spaces only, and sentencesCol
    // r11 moved to an all-whitespace trim so line-break-adjacent
    // sentences match their artifact twins), and the
    // md5-of-joined-shingle are the Spark spellings verbatim.
    // coalesce(t2, '') keeps the oracle total like the Spark side
    // (concat of a NULL text is NULL)
    "q_dedup_sentences" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    'Doc ' || doc_id || ' says ' || text || '.' ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' Shared sentence one. Shared sentence two. Shared sentence three.'
        |      ELSE '' END ||
        |    ' Doc ' || doc_id || ' closes now.' AS t2
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_extract_all(coalesce(t2, ''), '[^.!?]*[.!?]'),
        |      s -> regexp_replace(s, '^\s+|\s+$', '')), s -> s != '') AS sents
        |  FROM dirty),
        |u AS (SELECT doc_id, sents,
        |  unnest(generate_series(1, len(sents) - 2)) AS pos FROM t),
        |w AS (SELECT doc_id, pos,
        |  md5(array_to_string(sents[pos:pos+2], ' ')) AS sh FROM u),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rk,
        |  count(*) OVER (PARTITION BY sh) AS cnt FROM w),
        |p AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rk > 1),
        |kp AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rk = 1),
        |e AS (SELECT doc_id, unnest(sents) AS s,
        |  generate_subscripts(sents, 1) AS spos FROM t),
        |cov AS (SELECT DISTINCT e.doc_id, e.spos
        |  FROM e JOIN p ON p.doc_id = e.doc_id
        |    AND e.spos BETWEEN p.pos AND p.pos + 2),
        |prot AS (SELECT DISTINCT e.doc_id, e.spos
        |  FROM e JOIN kp ON kp.doc_id = e.doc_id
        |    AND e.spos BETWEEN kp.pos AND kp.pos + 2),
        |rem AS (SELECT doc_id, spos FROM cov
        |  EXCEPT SELECT doc_id, spos FROM prot),
        |kept AS (
        |  SELECT e.doc_id, e.s, e.spos
        |  FROM e LEFT JOIN rem ON rem.doc_id = e.doc_id AND rem.spos = e.spos
        |  WHERE rem.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY spos) AS txt,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.txt, '') AS clean_text,
        |  CAST(len(t.sents) AS BIGINT) AS n_sentences,
        |  CAST(len(t.sents) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    // the SAME ControlClass constant drives both engines (\x{…} means
    // the same thing in Java regex and RE2 — the PunctClass convention);
    // dirt via chr(): 65279 = BOM, 8203 = ZWSP, 7 = BEL, 173 = SHY
    "q_clean_text" -> {
      val cc = graft.ops.TextOps.ControlClass
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN chr(65279) || text || ' zero' || chr(8203) || 'width' || chr(7) || ' soft' || chr(173) || 'hyphen'
        |      ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(t2, '$cc', '', 'g') AS clean_text,
        |  CAST(length(t2) - length(regexp_replace(t2, '$cc', '', 'g')) AS BIGINT) AS n_removed
        |FROM dirty""".stripMargin
    },
    "q_unicode_nfc" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've caf' || chr(233)
        |      ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t2) AS norm_text,
        |  nfc_normalize(t2) != t2 AS changed
        |FROM dirty""".stripMargin,
    // buckets via the portable 60-bit hash; weights joined as micro-unit
    // BIGINTs so the sum is exact integer arithmetic in both engines
    "q_classifier_score" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(${h60("tok")} % 64 AS INT) AS bkt FROM t),
         |w AS (SELECT * FROM (VALUES $classifierValues) AS w(bkt, wt)),
         |s AS (SELECT f.doc_id, count(*) AS nf, sum(wt) AS sm
         |      FROM f JOIN w ON w.bkt = f.bkt GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nf, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(sm, 0) + 7500000 AS BIGINT) AS score_micro,
         |  CAST(CAST(coalesce(sm, 0) + 7500000 AS BIGINT) AS DOUBLE) / 1000000.0 AS score,
         |  (coalesce(sm, 0) + 7500000) > 0 AS keep
         |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin,
    // NB training replicated in SQL: bucket counts -> 6dp log-odds ->
    // micro-int weights -> the scoring join; same feature spelling as
    // q_classifier_score
    "q_nb_classify" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
         |  FROM documents),
         |f AS (SELECT doc_id,
         |  CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS c,
         |  CAST(${h60("tok")} % 64 AS INT) AS bkt FROM t),
         |cnt AS (SELECT bkt,
         |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         |  sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS n0
         |  FROM f GROUP BY 1),
         |tot AS (SELECT CAST(sum(n1) AS DOUBLE) AS t1, CAST(sum(n0) AS DOUBLE) AS t0 FROM cnt),
         |dc AS (SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS DOUBLE) AS d1,
         |  CAST(count(*) AS DOUBLE) AS dt FROM documents),
         |wts AS (SELECT gs.bkt,
         |  CAST(round(round(ln((coalesce(n1, 0) + 1.0) / (t1 + 64.0))
         |    - ln((coalesce(n0, 0) + 1.0) / (t0 + 64.0)), 6) * 1000000, 0) AS BIGINT) AS wt
         |  FROM (SELECT unnest(generate_series(0, 63)) AS bkt) gs
         |  LEFT JOIN cnt ON cnt.bkt = gs.bkt, tot),
         |bs AS (SELECT CAST(round(round(ln(d1 / (dt - d1)), 6) * 1000000, 0) AS BIGINT) AS bm FROM dc),
         |s AS (SELECT f.doc_id, count(*) AS nf, sum(wt) AS sm
         |      FROM f JOIN wts ON wts.bkt = f.bkt GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nf, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(sm, 0) + bm AS BIGINT) AS score_micro,
         |  CAST(CAST(coalesce(sm, 0) + bm AS BIGINT) AS DOUBLE) / 1000000.0 AS score,
         |  (coalesce(sm, 0) + bm) > 0 AS keep
         |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id, bs""".stripMargin,
    "q_gopher_rules" -> gopherRulesSql,
    "q_text_quality" ->
      s"""SELECT doc_id, n_tokens, stop_ratio, punct_ratio, score, score >= 0.5 AS keep
         |FROM (
         |  SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
         |    0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) + 0.3 * least(stop_ratio * 5.0, 1.0) AS score
         |  FROM (
         |    SELECT doc_id,
         |      CAST($ntok AS BIGINT) AS n_tokens,
         |      CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\\b')) AS DOUBLE) / greatest($ntok, 1) AS stop_ratio,
         |      CAST(len(regexp_extract_all(text, '$punct')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
         |    FROM documents))""".stripMargin,
    "q_lang_id" ->
      """SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS correct
        |FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN zh > 0 THEN 'zh'
        |         WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |         WHEN de >= fr AND de >= es THEN 'de'
        |         WHEN fr >= es THEN 'fr'
        |         ELSE 'es' END AS predicted_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh,
        |      len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|it|you|that|for)\b')) AS en,
        |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|ich|mit)\b')) AS de,
        |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un|une|des|que|pour)\b')) AS fr,
        |      len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|un|una|que|por|para)\b')) AS es
        |    FROM documents))""".stripMargin,
    // multi-class NB training replicated in SQL (the q_nb_classify
    // recipe, one log-likelihood table per class instead of one
    // log-odds vector): char-trigram features off the normText twin,
    // per-(lang, bucket) counts -> 6dp per-class log-likelihood ->
    // micro-int weights + priors -> the scoring join, argmax via the
    // (total DESC, lang ASC) window — the engine's struct-max tie order
    "q_lang_id_trained" -> langIdTrainedSql,
    // the CCNet pipeline composed end to end: the trained-language-ID
    // oracle picks the predicted-en slice, the LM oracle trains/scores
    // ON THAT SLICE, the quartile bucket wrapper splits it — every
    // stage an already-gated recipe, the gate is the SEAMS
    "q_ccnet_pipeline" ->
      s"""WITH pred AS (
        |  SELECT doc_id, predicted_lang FROM ($langIdTrainedSql) p),
        |en AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN pred ON pred.doc_id = d.doc_id
        |  WHERE pred.predicted_lang = 'en'),
        |${lmScoreCtesFrom("en")},
        |sc AS (${lmScoreSelectFrom("en")}),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logp, 0.25), 6) AS p25,
        |    round(quantile_cont(avg_logp, 0.75), 6) AS p75
        |  FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  CASE WHEN n_bigrams = 0 THEN 'unscored'
        |       WHEN avg_logp >= p75 THEN 'head'
        |       WHEN avg_logp >= p25 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN cuts""".stripMargin,
    // the per-language dispatch: every language's model recomputed as a
    // lang-keyed aggregation (counts, totals, prune, p_cond — the
    // q_lm_score recipe with plang threaded through every CTE), then
    // each document's bigrams scored against ITS language's rows — a
    // mis-dispatched document (scored under another language's model)
    // mismatches, which is the seam this gate exists for
    "q_ccnet_dispatch" ->
      s"""WITH pred AS (
        |  SELECT doc_id, predicted_lang FROM ($langIdTrainedSql) p),
        |src AS (SELECT d.doc_id, d.text, pred.predicted_lang AS plang
        |  FROM documents d JOIN pred ON pred.doc_id = d.doc_id),
        |t AS (
        |  SELECT doc_id, plang,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM src),
        |e AS (SELECT doc_id, plang, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS pos FROM t),
        |b2 AS (
        |  SELECT a.doc_id, a.plang, a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT plang, w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2, 3),
        |wt AS (SELECT plang, w1, sum(n) AS tot FROM bc GROUP BY 1, 2),
        |-- p in EXACT INTEGER MICROS (statsFromCountsExact): totals like
        |-- 640 = 2^7*5 put odd counts exactly on the .5e-6 boundary,
        |-- where engine round()s disagree
        |st AS (
        |  SELECT plang, w1, w2,
        |    CAST((n * 2000000 + tot) // (tot * 2) AS DOUBLE) / 1000000.0 AS p
        |  FROM bc JOIN wt USING (plang, w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b2.doc_id, b2.plang, coalesce(round(ln(st.p), 9), -10.0) AS lp
        |  FROM b2 LEFT JOIN st ON st.plang = b2.plang
        |    AND st.w1 = b2.w1 AND st.w2 = b2.w2),
        |agg AS (
        |  SELECT doc_id, plang, count(*) AS nb, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1, 2),
        |-- the 6dp mean in EXACT INTEGER MICROS (half away from zero):
        |-- per-language sums hit exact .5e-6 quotient boundaries, where a
        |-- double round(s/n, 6) split the engines at sf0.1
        |ni AS (
        |  SELECT doc_id, plang, nb,
        |    CAST(s * 1000000000 AS BIGINT) AS sn, nb * 1000 AS dd
        |  FROM agg)
        |SELECT d.doc_id, d.plang AS predicted_lang,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN
        |    CAST(CASE WHEN sn >= 0 THEN (sn * 2 + dd) // (dd * 2)
        |              ELSE -(((0 - sn) * 2 + dd) // (dd * 2)) END AS DOUBLE)
        |      / 1000000.0
        |  ELSE 0.0 END AS avg_logp
        |FROM src d LEFT JOIN ni ON ni.doc_id = d.doc_id""".stripMargin,
    // the WAT link-graph seam: per-target-host in-link degree
    // recomputed relationally from the fixture formulas (k <
    // (doc+j)%3 links per well-formed envelope, target host
    // l{k}.example; the (doc+j)%5=3 damaged class contributes nothing)
    "q_wat_links" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS j
        |  FROM documents WHERE doc_id < 120),
        |lk AS (
        |  SELECT doc_id, j,
        |    UNNEST(generate_series(0, CAST((doc_id + j) % 3 AS BIGINT) - 1)) AS k
        |  FROM recs WHERE (doc_id + j) % 5 <> 3)
        |SELECT 'l' || k || '.example' AS host,
        |  CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM lk GROUP BY 1""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b AS (
        |  SELECT a.doc_id, a.tok || ' ' || c.tok AS bg
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS nd FROM b GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0
        |       THEN 1.0 - CAST(nd AS DOUBLE) / nb ELSE 0.0 END AS repetition_ratio
        |FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id""".stripMargin,
    "q_snapshot_diff" ->
      """WITH tomorrow AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
        |o AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fo FROM documents),
        |nn AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fn FROM tomorrow)
        |SELECT coalesce(o.doc_id, nn.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN nn.doc_id IS NULL THEN 'removed'
        |       WHEN fo <> fn THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  CAST(count(*) AS BIGINT) AS group_size, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, lang, source, fingerprint FROM (
        |  SELECT doc_id, lang, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents)
        |QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)""".stripMargin,
    "q_containment" ->
      s"""WITH $shingleCtes,
        |keep AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) <= 100),
        |kd AS (SELECT d.doc_id, d.shingle FROM d JOIN keep USING (shingle)),
        |kn AS (SELECT doc_id, count(*) AS nk FROM kd GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM kd a JOIN kd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cont_a, cont_b, greatest(cont_a, cont_b) AS containment
        |FROM (
        |  SELECT doc_a, doc_b,
        |    round(CAST(common AS DOUBLE) / ka.nk, 6) AS cont_a,
        |    round(CAST(common AS DOUBLE) / kb.nk, 6) AS cont_b
        |  FROM pr JOIN kn ka ON ka.doc_id = doc_a JOIN kn kb ON kb.doc_id = doc_b)
        |WHERE greatest(cont_a, cont_b) >= 0.5""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH $shingleCtes,
        |p AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM d x JOIN d y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) AS jaccard
        |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
        |WHERE round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) >= 0.7""".stripMargin,
    // exact-substring dedup: duplicated length-20 token windows, merged per
    // doc into maximal spans (ExactSubstr); md5-of-window parity with Spark
    "q_substr_spans" -> substrSpansSql(selectSpans = true),
    // the doc-level reduction of the same span CTE chain: disjoint span
    // cover summed per doc over the total token count, 0.0 coalesced
    "q_dup_fraction" ->
      s"""$substrCtes,
        |dfr AS (
        |  SELECT doc_id, sum(end_tok - start_tok + 1) AS ndup
        |  FROM sp GROUP BY doc_id),
        |tokc AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
        |SELECT tokc.doc_id, CAST(tokc.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(dfr.ndup, 0) AS BIGINT) AS n_dup_tokens,
        |  CASE WHEN tokc.n_tokens > 0
        |       THEN round(CAST(coalesce(dfr.ndup, 0) AS DOUBLE) / tokc.n_tokens, 6)
        |       ELSE 0.0 END AS dup_fraction
        |FROM tokc LEFT JOIN dfr USING (doc_id)""".stripMargin,
    "q_substr_strip" -> substrSpansSql(selectSpans = false),
    "q_substr_strip_flag" -> substrStripFlagSql,
    // portable-hash twins of the LSH pipelines: DuckDB recomputes the exact
    // 60-bit md5-derived signatures NearDup produces under HashMode.Portable,
    // so banding/candidate selection is replicated bit-for-bit
    "q_dedup_minhash" ->
      s"""WITH $shingleCtes,
        |$minhashPairCtes
        |SELECT doc_a, doc_b, jaccard FROM pr""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) AS tok
        |  FROM documents),
        |hh AS (SELECT doc_id, ${h60("tok")} AS h FROM tk),
        |v AS (
        |  SELECT doc_id,
        |$simhashVoteSql
        |  FROM hh GROUP BY 1),
        |s AS (SELECT doc_id, $simhashFoldSql AS simhash FROM v)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM s x JOIN s y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,
    "q_winnow_pairs" ->
      s"""WITH $shingleCtes,
        |hh AS (
        |  SELECT doc_id, pos, ${h60("shingle")} AS h,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM shf),
        |wins AS (
        |  SELECT doc_id, pos, nh,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM hh),
        |fp AS (
        |  SELECT DISTINCT doc_id, fingerprint FROM (
        |    SELECT doc_id, m AS fingerprint FROM wins WHERE nh >= 4 AND pos <= nh - 3
        |    UNION ALL
        |    SELECT doc_id, min(h) AS fingerprint FROM hh WHERE nh < 4 GROUP BY doc_id))
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS common_fingerprints
        |FROM fp x JOIN fp y ON y.fingerprint = x.fingerprint AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |reach AS (
        |  SELECT src AS doc_id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
        |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1)
        |SELECT doc.doc_id, coalesce(cl.cluster, doc.doc_id) AS cluster,
        |  doc.doc_id = coalesce(cl.cluster, doc.doc_id) AS is_canonical
        |FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |reach AS (
        |  SELECT src AS doc_id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
        |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1),
        |m AS (
        |  SELECT doc.doc_id, coalesce(cl.cluster, doc.doc_id) AS cluster, doc.n_chars
        |  FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id),
        |best AS (
        |  SELECT cluster, doc_id AS canonical_id FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster
        |    ORDER BY n_chars DESC, doc_id ASC) = 1)
        |SELECT m.doc_id, m.cluster, best.canonical_id,
        |  m.doc_id = best.canonical_id AS is_canonical
        |FROM m JOIN best USING (cluster)""".stripMargin,
    // golden oracle: the verdict is fully determined by lineitemBroken vs the
    // lineitem schema; the only data-dependent part is the null count for the
    // missing-but-required column, which the oracle computes from the table
    "q_validate" ->
      """SELECT * FROM (VALUES
        |  ('error', 'type mismatch for l_quantity: expected int, observed double'),
        |  ('error', 'missing required column: l_shipmode'),
        |  ('warning', 'missing optional column: l_comment')
        |) AS t(severity, message)
        |UNION ALL
        |SELECT 'error',
        |  'column l_shipmode contains ' || count(*) ||
        |  ' null value(s) but is required in the contract'
        |FROM lineitem
        |HAVING count(*) > 0""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin,
    "q_ann_radius" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 10)
        |SELECT probe_id, n.vec_id AS neighbor_id,
        |  round(list_dot_product(pv, v) / (pn * nrm), 6) AS cosine
        |FROM n CROSS JOIN p
        |WHERE n.vec_id <> probe_id
        |  AND round(list_dot_product(pv, v) / (pn * nrm), 6) >= 0.3""".stripMargin,
    "q_dedup_semantic" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |assign AS (
        |  SELECT n.vec_id, n.v, n.nrm, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4""".stripMargin,
    // multi-probe: rank <= 2 replaces the argmax; a pair sharing both
    // probed clusters appears twice in the join, so the canonical
    // (minimum shared) cid is a GROUP BY min — the Spark side emits only
    // that block, no distinct needed
    "q_dedup_semantic_mp" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |a2 AS (
        |  SELECT n.vec_id, n.v, n.nrm, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) <= 2)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, min(a.cid) AS cid,
        |  min(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)) AS cosine
        |FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |GROUP BY a.vec_id, b.vec_id
        |HAVING min(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)) >= 0.4""".stripMargin,
    // PQ-coded SemDeDup: same coarse assignment as q_dedup_semantic, codes
    // and refined codebook from the shared pqCtes, approx score = exact
    // decimal sum of per-block cross-table terms (rounded 6 dp per term),
    // margin prefilter, then the exact-cosine verify decides membership
    "q_dedup_semantic_pq" ->
      s"""WITH $pqCtes,
        |cc AS (SELECT vec_id AS ccid, v AS ccv, nrm AS ccn FROM n WHERE vec_id < 16),
        |assign AS (
        |  SELECT n.vec_id, ccid AS cid FROM n CROSS JOIN cc
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, ccv) / (n.nrm * ccn), 6) DESC, ccid ASC) = 1),
        |ct AS (
        |  SELECT x.block, x.code AS ca, y.code AS cb,
        |    round(list_dot_product(x.c, y.c), 6) AS t
        |  FROM cb1 x JOIN cb1 y USING (block)),
        |prs AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cid
        |  FROM assign x JOIN assign y ON x.cid = y.cid AND x.vec_id < y.vec_id),
        |apx AS (
        |  SELECT id_a, id_b, cid,
        |    CAST(sum(CAST(ct.t AS DECIMAL(25,6))) AS DOUBLE) AS sm
        |  FROM prs
        |  JOIN a1 xa ON xa.vec_id = id_a
        |  JOIN a1 yb ON yb.vec_id = id_b AND yb.block = xa.block
        |  JOIN ct ON ct.block = xa.block AND ct.ca = xa.code AND ct.cb = yb.code
        |  GROUP BY 1, 2, 3),
        |cand AS (
        |  SELECT id_a, id_b, cid FROM apx
        |  JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        |  WHERE round(sm / (na.nrm * nb.nrm), 6) >= 0.0)
        |SELECT id_a AS vec_a, id_b AS vec_b, cid,
        |  round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS cosine
        |FROM cand
        |JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        |WHERE round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) >= 0.4""".stripMargin,
    "q_ann_brute" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 10),
        |s AS (
        |  SELECT probe_id, n.vec_id AS neighbor_id,
        |    round(list_dot_product(pv, v) / (pn * nrm), 6) AS cosine
        |  FROM n CROSS JOIN p WHERE n.vec_id <> probe_id)
        |SELECT probe_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS "rank",
        |  cosine
        |FROM s
        |QUALIFY "rank" <= 5""".stripMargin,
    // q_ann_ivf's assignment spelling + a per-cluster lowest-id quota
    "q_cluster_sample" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |assign AS (
        |  SELECT n.vec_id, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1)
        |SELECT vec_id, cid FROM assign
        |QUALIFY row_number() OVER (PARTITION BY cid ORDER BY vec_id ASC) <= 40""".stripMargin,
    "q_ann_ivf" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |assign AS (
        |  SELECT n.vec_id, n.v, n.nrm, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |p AS (SELECT vec_id AS pid, v AS pv, nrm AS pn FROM n WHERE vec_id < 10),
        |pc AS (
        |  SELECT pid, pv, pn, cid FROM p CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY pid
        |    ORDER BY round(list_dot_product(pv, cv) / (pn * cn), 6) DESC, cid ASC) <= 2),
        |s AS (
        |  SELECT pid AS probe_id, a.vec_id AS neighbor_id,
        |    round(list_dot_product(pv, a.v) / (pn * a.nrm), 6) AS cosine
        |  FROM pc JOIN assign a USING (cid) WHERE a.vec_id <> pid)
        |SELECT probe_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS "rank",
        |  cosine
        |FROM s
        |QUALIFY "rank" <= 5""".stripMargin,
    // the same coarse pruning as q_ann_ivf, with the threshold filter in
    // place of the rank — the radius search's scale path
    "q_ann_radius_ivf" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |assign AS (
        |  SELECT n.vec_id, n.v, n.nrm, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |p AS (SELECT vec_id AS pid, v AS pv, nrm AS pn FROM n WHERE vec_id < 10),
        |pc AS (
        |  SELECT pid, pv, pn, cid FROM p CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY pid
        |    ORDER BY round(list_dot_product(pv, cv) / (pn * cn), 6) DESC, cid ASC) <= 2)
        |SELECT pid AS probe_id, a.vec_id AS neighbor_id,
        |  round(list_dot_product(pv, a.v) / (pn * a.nrm), 6) AS cosine
        |FROM pc JOIN assign a USING (cid)
        |WHERE a.vec_id <> pid
        |  AND round(list_dot_product(pv, a.v) / (pn * a.nrm), 6) >= 0.3""".stripMargin,
    // one Lloyd iteration replicated in SQL: seed centroids (vec_id < 16),
    // rounded-cosine argmax assignment, per-dim DECIMAL(25,6) means (the
    // kmeansCentroids determinism contract), then the same IVF search as
    // q_ann_ivf against the refined centroids
    "q_ann_ivf_refined" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |a0 AS (
        |  SELECT n.vec_id, n.v, cid FROM n CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |xd AS (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a0),
        |m AS (
        |  SELECT cid, dim,
        |    CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m
        |  FROM xd GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(m ORDER BY dim ASC) AS cv FROM m GROUP BY 1),
        |c AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c1),
        |assign AS (
        |  SELECT n.vec_id, n.v, n.nrm, cid FROM n CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |p AS (SELECT vec_id AS pid, v AS pv, nrm AS pn FROM n WHERE vec_id < 10),
        |pc AS (
        |  SELECT pid, pv, pn, cid FROM p CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY pid
        |    ORDER BY round(list_dot_product(pv, cv) / (pn * cn), 6) DESC, cid ASC) <= 2),
        |s AS (
        |  SELECT pid AS probe_id, a.vec_id AS neighbor_id,
        |    round(list_dot_product(pv, a.v) / (pn * a.nrm), 6) AS cosine
        |  FROM pc JOIN assign a USING (cid) WHERE a.vec_id <> pid)
        |SELECT probe_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS "rank",
        |  cosine
        |FROM s
        |QUALIFY "rank" <= 5""".stripMargin,
    // two full Lloyd iterations replicated in SQL: lowest-id seeds,
    // rounded-cosine argmax assignment (ties to the lower cid), per-dim
    // DECIMAL(25,6) means — kmeansCentroids' determinism contract —
    // then the refined centroids exploded per dimension (0-based, as
    // posexplode emits); an all-zero refined centroid is dropped like
    // the engine's null-cn filter
    "q_kmeans" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id < 8 AND nrm > 0),
        |a1 AS (
        |  SELECT n.vec_id, n.v, cid FROM n CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |x1 AS (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a1),
        |m1 AS (SELECT cid, dim,
        |    CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m
        |  FROM x1 GROUP BY 1, 2),
        |c1l AS (SELECT cid, list(m ORDER BY dim ASC) AS cv FROM m1 GROUP BY 1),
        |c1 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c1l
        |  WHERE sqrt(list_dot_product(cv, cv)) > 0),
        |a2 AS (
        |  SELECT n.vec_id, n.v, cid FROM n CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |x2 AS (SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a2),
        |m2 AS (SELECT cid, dim,
        |    CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m
        |  FROM x2 GROUP BY 1, 2),
        |fin AS (SELECT cid, list(m ORDER BY dim ASC) AS cv FROM m2 GROUP BY 1),
        |keep AS (SELECT cid FROM fin WHERE sqrt(list_dot_product(cv, cv)) > 0)
        |SELECT m2.cid, CAST(dim - 1 AS BIGINT) AS dim, m
        |FROM m2 JOIN keep USING (cid)""".stripMargin,
    // PQ trained+encoded in SQL (see pqCtes), brute approx scoring over
    // the whole corpus, pool of topK×rerank, exact cosine re-rank
    "q_ann_pq" -> annPqSql,
    // the persisted-artifact twin: PqIndex.build + search under the same
    // parameters IS annPq (frozen-codebook determinism, spec-pinned), so
    // the ORACLE is shared — the gate puts the persist→reload→search
    // seam on the same replayed-SQL hook, never an engine echo
    "q_ann_pq_index" -> annPqSql,
    // same PQ tail, but candidates pruned to the probes' top-2 coarse
    // clusters first (the q_ann_ivf assignment, verbatim)
    "q_ann_ivfpq" ->
      s"""WITH $pqCtes,
        |cc AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |asg AS (
        |  SELECT n.vec_id, cid FROM n CROSS JOIN cc
        |  QUALIFY row_number() OVER (PARTITION BY n.vec_id
        |    ORDER BY round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) DESC, cid ASC) = 1),
        |pc AS (
        |  SELECT probe_id, cid FROM p CROSS JOIN cc
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |    ORDER BY round(list_dot_product(pv, cv) / (pn * cn), 6) DESC, cid ASC) <= 2),
        |apn AS (
        |  SELECT pc.probe_id, a1.vec_id,
        |    list_aggregate(list(tt.t ORDER BY tt.block ASC), 'sum') AS num
        |  FROM pc
        |  JOIN asg ON asg.cid = pc.cid
        |  JOIN a1 ON a1.vec_id = asg.vec_id
        |  JOIN tt ON tt.probe_id = pc.probe_id
        |    AND tt.block = a1.block AND tt.code = a1.code
        |  GROUP BY 1, 2),
        |ap AS (
        |  SELECT probe_id, vec_id, round(num / (pn * nrm), 6) AS approx
        |  FROM apn JOIN p USING (probe_id) JOIN n USING (vec_id)
        |  WHERE vec_id <> probe_id),
        |cand AS (
        |  SELECT probe_id, vec_id FROM ap
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |    ORDER BY approx DESC, vec_id ASC) <= 20),
        |s AS (
        |  SELECT probe_id, vec_id AS neighbor_id,
        |    round(list_dot_product(pv, v) / (pn * nrm), 6) AS cosine
        |  FROM cand JOIN p USING (probe_id) JOIN n USING (vec_id))
        |SELECT probe_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS "rank",
        |  cosine
        |FROM s
        |QUALIFY "rank" <= 5""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) % 3 = 0 THEN 'image'
        |       WHEN octet_length(CAST(text AS BLOB)) % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) % 1280 + 64 AS BIGINT) AS width,
        |  CAST((octet_length(CAST(text AS BLOB)) * 7) % 720 + 64 AS BIGINT) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) % 30 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // the video-probe oracle recomputes dims/duration/codec from the
    // fixture formulas alone — the container assembly (box sizes, EBML
    // varints, 16.16 fixed point, float64 Duration x TimecodeScale) is
    // what the probe must parse back correctly to match
    "q_video_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 320 + (doc_id % 5) * 16
        |            ELSE 640 + (doc_id % 4) * 8 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 240 + (doc_id % 3) * 16
        |            ELSE 360 + (doc_id % 2) * 8 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1500 + doc_id * 10
        |            ELSE 2000 + doc_id * 5 END AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN (CASE WHEN doc_id % 4 < 2 THEN 'avc1' ELSE 'hvc1' END)
        |       ELSE (CASE WHEN doc_id % 4 = 1 THEN 'V_VP8' ELSE 'V_VP9' END)
        |  END AS codec
        |FROM documents WHERE doc_id < 120""".stripMargin,
    // video-hash oracle: the q_audio_dhash recipe over the media-payload
    // byte formula — lanes i%4, grid (i*17) div len, exact Σv² with
    // empty slots coalesced to 0, strict next-slot comparison, bit 63
    // via the two's-complement weight
    "q_video_dhash" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |p AS (SELECT doc_id, 160 + (doc_id % 7) * 24 AS len FROM d),
        |sp AS (
        |  SELECT doc_id, i.i % 4 AS lane, (i.i * 17) // len AS b,
        |    ((i.i * i.i) % 211 + (doc_id % 29) * 7 + (i.i % 13) * 5) % 256 AS v
        |  FROM p
        |  CROSS JOIN (SELECT unnest(range(304)) AS i) i
        |  WHERE i.i < len),
        |en AS (
        |  SELECT doc_id, lane, b, sum(CAST(v AS BIGINT) * v) AS e
        |  FROM sp GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT doc_id, l.i AS lane, g.i AS b
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(4)) AS i) l
        |  CROSS JOIN (SELECT unnest(range(17)) AS i) g),
        |eg AS (
        |  SELECT grid.doc_id, grid.lane, grid.b, coalesce(en.e, 0) AS e
        |  FROM grid LEFT JOIN en USING (doc_id, lane, b)),
        |bits AS (
        |  SELECT a.doc_id, a.lane * 16 + a.b AS bit_i,
        |    CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM eg a JOIN eg n ON n.doc_id = a.doc_id AND n.lane = a.lane
        |    AND n.b = a.b + 1
        |  WHERE a.b < 16)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS format,
        |  CAST(sum(bit * (CASE WHEN bit_i = 63 THEN -9223372036854775808
        |                       ELSE CAST(power(2, bit_i) AS BIGINT) END))
        |    AS BIGINT) AS vhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    // the WARC oracle rebuilds every record field from the fixture
    // formulas alone — one row per (doc, response ordinal), ordinals
    // 0..doc%3 — never from bytes: the framing walk, gzip members, the
    // HTTP envelope, URL parsing, and link extraction must all agree
    // with a plain arithmetic recompute
    // file-reader oracle: the response-record formulas of
    // q_warc_records (the same fixture bytes, now round-tripped through
    // disk and the binaryFile scan), envelope fields only
    "q_warc_files" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS rec_index
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id, rec_index,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id || '/' || rec_index AS target_uri,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  CAST(CASE WHEN (doc_id + rec_index) % 5 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
        |  CASE WHEN rec_index % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS content_type,
        |  CASE rec_index % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |       ELSE NULL END AS charset
        |FROM recs""".stripMargin,
    // random-access fetch oracle: the prefix lookup selects exactly the
    // doc_id % 7 == 3 host class, and each fetched record's envelope +
    // declared-charset body must equal the q_warc_records formulas for
    // that class — the offsets, member seeks, and one-record parses are
    // all on the hook because ANY mis-anchored fetch parses a different
    // (or no) record
    "q_warc_fetch" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS rec_index
        |  FROM documents WHERE doc_id < 120 AND doc_id % 7 = 3)
        |SELECT doc_id, CAST(rec_index AS BIGINT) AS rec_index,
        |  'http://site3.example/page/' || doc_id || '/' || rec_index AS target_uri,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  CAST(CASE WHEN (doc_id + rec_index) % 5 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
        |  (CASE WHEN rec_index % 3 = 1 THEN 'caf' || chr(233) || ' ' ELSE '' END) ||
        |  CASE WHEN rec_index % 2 = 0
        |       THEN '<p>doc ' || doc_id || ' rec ' || rec_index || '</p> <a href="http://ref'
        |            || ((doc_id + rec_index) % 5) || '.example/x">link</a>'
        |       ELSE 'plain payload doc ' || doc_id || ' rec ' || rec_index END AS payload_text
        |FROM recs""".stripMargin,
    // CDX oracle: the SURT key from the fixture URI formulas —
    // site{K}.example reverses to example,site{K} — responses only
    // (the warcinfo record carries no URI), rec_index offset by the
    // leading warcinfo record
    "q_warc_cdx" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS i
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id, i + 1 AS rec_index,
        |  'example,site' || (doc_id % 7) || ')/page/' || doc_id || '/' || i
        |    AS urlkey,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
        |    'T00:00:00Z' AS warc_date,
        |  CAST(CASE WHEN (doc_id + i) % 5 = 0 THEN 404 ELSE 200 END AS BIGINT)
        |    AS http_status,
        |  CAST(NULL AS VARCHAR) AS payload_digest
        |FROM recs""".stripMargin,
    // revisit oracle: the canonical original of each digest class is
    // MIN(doc_id) over the doc%10 residue (computed relationally, not
    // assumed from the id range); the missing-digest class resolves to
    // nulls on both orig columns
    "q_warc_revisit" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |origs AS (
        |  SELECT doc_id % 10 AS res, MIN(doc_id) AS orig FROM d GROUP BY 1)
        |SELECT doc_id, CAST(rec_index AS BIGINT) AS rec_index, target_uri,
        |  payload_digest, orig_doc_id, orig_rec_index
        |FROM (
        |  SELECT d.doc_id, 1 AS rec_index,
        |    'http://site' || (d.doc_id % 7) || '.example/page/' ||
        |      d.doc_id || '/1' AS target_uri,
        |    'sha1:R' || (d.doc_id % 10) AS payload_digest,
        |    o.orig AS orig_doc_id, CAST(0 AS BIGINT) AS orig_rec_index
        |  FROM d JOIN origs o ON d.doc_id % 10 = o.res
        |  UNION ALL SELECT doc_id, 2,
        |    'http://site' || (doc_id % 7) || '.example/page/' ||
        |      doc_id || '/2',
        |    'sha1:X' || doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM d
        |) rows""".stripMargin,
    // meta-charset oracle: the five response classes enumerated with
    // their intended characters — chr(233) é on the sniffed latin-1,
    // header-utf-8, decoy and header-less rows, chr(8220) U+201C on the
    // cp1252 http-equiv row; charset carries the HEADER declaration
    // only (null when the page relied on its meta), so a sniff that
    // leaked into the column, a decode that ignored the sniff, or a
    // flat-regex scan that fell for the og:url decoy (big5) all
    // hash-mismatch their rows
    "q_warc_meta_charset" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120)
        |SELECT doc_id, CAST(rec_index AS BIGINT) AS rec_index, charset,
        |  payload_text
        |FROM (
        |  SELECT doc_id, 0 AS rec_index, CAST(NULL AS VARCHAR) AS charset,
        |    '<meta charset="iso-8859-1">caf' || chr(233) || ' doc ' || doc_id
        |      AS payload_text FROM d
        |  UNION ALL SELECT doc_id, 1, 'utf-8',
        |    '<meta charset="iso-8859-1">caf' || chr(233) ||
        |      ' header wins ' || doc_id FROM d
        |  UNION ALL SELECT doc_id, 2, CAST(NULL AS VARCHAR),
        |    '<meta http-equiv="Content-Type" ' ||
        |      'content="text/html; charset=windows-1252">q' || chr(8220) ||
        |      ' doc ' || doc_id FROM d
        |  UNION ALL SELECT doc_id, 3, CAST(NULL AS VARCHAR),
        |    '<meta property="og:url" ' ||
        |      'content="http://x.example/?charset=big5">' ||
        |      '<meta charset="iso-8859-1">og caf' || chr(233) ||
        |      ' ' || doc_id FROM d
        |  UNION ALL SELECT doc_id, 4, CAST(NULL AS VARCHAR),
        |    '<meta http-equiv="Content-Type" ' ||
        |      'content="text/html; charset=iso-8859-1">nt caf' || chr(233) ||
        |      ' ' || doc_id FROM d
        |) rows""".stripMargin,
    // WET oracle: every conversion-record field recomputed from the
    // closed-form formulas (URI/date reuse the WARC fixture spellings;
    // the (doc+j)%4=3 class is the empty extraction) — the framing, the
    // gzip walk and the UTF-8 decode are what the engine must get right
    "q_wet_records" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS j
        |  FROM documents WHERE doc_id < 120),
        |rows AS (
        |  SELECT doc_id, j,
        |    CASE WHEN (doc_id + j) % 4 = 3 THEN ''
        |         ELSE 'wet doc ' || doc_id || ' rec ' || j ||
        |           ' token' || ((doc_id + j) % 5) || ' end' END AS text
        |  FROM recs)
        |SELECT doc_id, CAST(j AS BIGINT) AS rec_index,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id || '/' || j AS target_uri,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  text, CAST(length(text) AS BIGINT) AS n_chars
        |FROM rows""".stripMargin,
    // WAT oracle: the extracted envelope fields recomputed from the
    // formulas — title T{doc}-{j}, (doc+j)%3 links with l0 first, and
    // the (doc+j)%5=3 DAMAGED-JSON class pinned to null fields/0 links
    // (the malformed-total contract on the hook, never a throw)
    "q_wat_records" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS j
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id, CAST(j AS BIGINT) AS rec_index,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id || '/' || j AS target_uri,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  CASE WHEN (doc_id + j) % 5 = 3 THEN CAST(NULL AS VARCHAR)
        |       ELSE 'http://site' || (doc_id % 7) || '.example/page/' || doc_id || '/' || j
        |       END AS wat_uri,
        |  CASE WHEN (doc_id + j) % 5 = 3 THEN CAST(NULL AS VARCHAR)
        |       ELSE 'T' || doc_id || '-' || j END AS title,
        |  CAST(CASE WHEN (doc_id + j) % 5 = 3 THEN 0
        |       ELSE (doc_id + j) % 3 END AS BIGINT) AS n_links,
        |  CASE WHEN (doc_id + j) % 5 <> 3 AND (doc_id + j) % 3 > 0
        |       THEN 'http://l0.example/' || doc_id || '/' || j
        |       ELSE CAST(NULL AS VARCHAR) END AS first_link
        |FROM recs""".stripMargin,
    "q_warc_records" ->
      """WITH recs AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS rec_index
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id, rec_index,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id || '/' || rec_index AS target_uri,
        |  '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS warc_date,
        |  CAST(CASE WHEN (doc_id + rec_index) % 5 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
        |  CASE WHEN rec_index % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS content_type,
        |  CASE rec_index % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |       ELSE NULL END AS charset,
        |  'site' || (doc_id % 7) || '.example' AS host,
        |  '/page/' || doc_id || '/' || rec_index AS path,
        |  -- chr(233) = the e-acute the latin-1 class stores as byte 0xE9:
        |  -- only a DECLARED-charset decode reads it back (a UTF-8 cast
        |  -- would yield the replacement character and hash-mismatch)
        |  (CASE WHEN rec_index % 3 = 1 THEN 'caf' || chr(233) || ' ' ELSE '' END) ||
        |  CASE WHEN rec_index % 2 = 0
        |       THEN '<p>doc ' || doc_id || ' rec ' || rec_index || '</p> <a href="http://ref'
        |            || ((doc_id + rec_index) % 5) || '.example/x">link</a>'
        |       ELSE 'plain payload doc ' || doc_id || ' rec ' || rec_index END AS payload_text,
        |  CAST(CASE WHEN rec_index % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_links,
        |  CASE WHEN rec_index % 2 = 0
        |       THEN 'http://ref' || ((doc_id + rec_index) % 5) || '.example/x'
        |       ELSE NULL END AS first_href
        |FROM recs""".stripMargin,
    // the decode oracle never touches bytes: it re-derives every pixel
    // and PCM sample from the same closed-form modular formula the
    // Spark side ENCODES through the real JDK codecs and decodes back —
    // an independent recomputation of what the codec round-trip must
    // reproduce bit-exactly (lossless formats only, by design)
    "q_multimodal_decode" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |img AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM d WHERE doc_id % 3 <> 1),
        |ipx AS (
        |  SELECT doc_id, format, c.i AS channel,
        |    (doc_id*31 + x.i*7 + y.i*13 + c.i*29) % 256 AS v
        |  FROM img
        |  CROSS JOIN (SELECT unnest(range(8)) AS i) x
        |  CROSS JOIN (SELECT unnest(range(6)) AS i) y
        |  CROSS JOIN (SELECT unnest(range(3)) AS i) c
        |  WHERE x.i < w AND y.i < h),
        |wv AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, 16 + doc_id % 17 AS nfr
        |  FROM d WHERE doc_id % 3 = 1),
        |spx AS (
        |  SELECT doc_id, 'wav' AS format, c.i AS channel,
        |    (doc_id*31 + c.i*29 + f.i*7) % 65536 - 32768 AS v
        |  FROM wv
        |  CROSS JOIN (SELECT unnest(range(2)) AS i) c
        |  CROSS JOIN (SELECT unnest(range(33)) AS i) f
        |  WHERE c.i < nch AND f.i < nfr),
        |allv AS (SELECT * FROM ipx UNION ALL SELECT * FROM spx)
        |SELECT doc_id, format, CAST(channel AS BIGINT) AS channel,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS v_mean,
        |  CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
        |FROM allv GROUP BY 1, 2, 3""".stripMargin,
    // the resize oracle names the exact source pixel each output
    // position samples: nearest-neighbor floor mapping
    // src = (dst * srcDim) // outDim in integer arithmetic, value from
    // the same closed-form formula the Spark side ENCODED through the
    // real JDK codecs — decoder, mapping, and channel order all on the
    // hook per pixel (a stronger gate than the stats-level decode one)
    "q_image_resize" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |img AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM d WHERE doc_id % 3 <> 1),
        |px AS (
        |  SELECT doc_id, format, c.i AS channel, x.i AS x, y.i AS y,
        |    (doc_id*31 + ((x.i * w) // 6)*7 + ((y.i * h) // 4)*13 + c.i*29) % 256 AS v
        |  FROM img
        |  CROSS JOIN (SELECT unnest(range(6)) AS i) x
        |  CROSS JOIN (SELECT unnest(range(4)) AS i) y
        |  CROSS JOIN (SELECT unnest(range(3)) AS i) c)
        |SELECT doc_id, format, CAST(channel AS BIGINT) AS channel,
        |  CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CAST(v AS BIGINT) AS v
        |FROM px
        |UNION ALL
        |SELECT doc_id, 'wav' AS format, 0, 0, 0, CAST(NULL AS BIGINT)
        |FROM d WHERE doc_id % 3 = 1""".stripMargin,
    // the dHash oracle recomputes all 64 difference bits from the
    // fixture formula: the 9x8 grid via the same integer floor mapping,
    // the integer luma, the strict > comparison, and the two's-
    // complement packing (bit 63's weight spelled as -2^63 so the sum
    // stays BIGINT-exact; power(2, i) for i <= 62 is a power of two —
    // exactly representable in a double, so the CAST is lossless)
    "q_image_dhash" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |img AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM d WHERE doc_id % 3 <> 1),
        |g AS (
        |  SELECT doc_id, format, x.i AS gx, y.i AS gy,
        |    (299 * ((doc_id*31 + ((x.i * w) // 9)*97 + ((y.i * h) // 8)*131) % 256)
        |   + 587 * ((doc_id*31 + ((x.i * w) // 9)*97 + ((y.i * h) // 8)*131 + 29) % 256)
        |   + 114 * ((doc_id*31 + ((x.i * w) // 9)*97 + ((y.i * h) // 8)*131 + 58) % 256)) // 1000 AS luma
        |  FROM img
        |  CROSS JOIN (SELECT unnest(range(9)) AS i) x
        |  CROSS JOIN (SELECT unnest(range(8)) AS i) y),
        |b AS (
        |  SELECT a.doc_id, a.format, a.gy * 8 + a.gx AS bit_i,
        |    CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
        |  FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.gy = a.gy
        |    AND n.gx = a.gx + 1
        |  WHERE a.gx < 8)
        |SELECT doc_id, format,
        |  CAST(sum(bit * (CASE WHEN bit_i = 63 THEN -9223372036854775808
        |                       ELSE CAST(power(2, bit_i) AS BIGINT) END))
        |    AS BIGINT) AS dhash
        |FROM b GROUP BY 1, 2
        |UNION ALL
        |SELECT doc_id, 'wav' AS format, CAST(NULL AS BIGINT) AS dhash
        |FROM d WHERE doc_id % 3 = 1""".stripMargin,
    // the JPEG oracle checks the INVARIANT CONTRACT, never pixel
    // values (IDCT-implementation variance): n recomputed from the
    // closed-form jpegDims — the one value-exact fact about a decoded
    // JPEG — and the Spark-side tolerance/determinism/perceptual-hash
    // booleans must all come back TRUE
    "q_jpeg_decode" ->
      """SELECT doc_id, 'jpeg' AS format,
        |  CAST((24 + (doc_id % 5) * 8) * (16 + (doc_id % 3) * 8) AS BIGINT) AS n,
        |  true AS mean_ok, true AS det_ok, true AS hash_ok
        |FROM documents WHERE doc_id < 120""".stripMargin,
    "q_dedup_perceptual" -> perceptualSql,
    "q_dedup_perceptual_probe" -> perceptualProbeSql,
    // the audio-hash oracle recomputes the 17-slot grid (floor mapping
    // (f*17) // nfr), the exact Σv² energies over the WAVY sample
    // formula (stride 4409 — non-monotone energies, so bits genuinely
    // vary) — empty slots coalesced to 0, the convention the operator's
    // zero-initialised array gives — the strict louder-than bits, and
    // the same two's-complement packing as the image dHash oracle
    "q_audio_dhash" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |wv AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, 16 + doc_id % 17 AS nfr
        |  FROM d WHERE doc_id % 3 = 1),
        |sp AS (
        |  SELECT doc_id, c.i AS ch, (f.i * 17) // nfr AS b,
        |    (doc_id*31 + c.i*29 + f.i*4409) % 65536 - 32768 AS v
        |  FROM wv
        |  CROSS JOIN (SELECT unnest(range(2)) AS i) c
        |  CROSS JOIN (SELECT unnest(range(33)) AS i) f
        |  WHERE c.i < nch AND f.i < nfr),
        |en AS (
        |  SELECT doc_id, ch, b, sum(CAST(v AS BIGINT) * v) AS e
        |  FROM sp GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT doc_id, c.i AS ch, g.i AS b
        |  FROM wv
        |  CROSS JOIN (SELECT unnest(range(2)) AS i) c
        |  CROSS JOIN (SELECT unnest(range(17)) AS i) g
        |  WHERE c.i < nch),
        |eg AS (
        |  SELECT grid.doc_id, grid.ch, grid.b, coalesce(en.e, 0) AS e
        |  FROM grid LEFT JOIN en USING (doc_id, ch, b)),
        |bits AS (
        |  SELECT a.doc_id, a.ch * 16 + a.b AS bit_i,
        |    CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM eg a JOIN eg n ON n.doc_id = a.doc_id AND n.ch = a.ch
        |    AND n.b = a.b + 1
        |  WHERE a.b < 16)
        |SELECT doc_id, 'wav' AS format,
        |  CAST(sum(bit * (CASE WHEN bit_i = 63 THEN -9223372036854775808
        |                       ELSE CAST(power(2, bit_i) AS BIGINT) END))
        |    AS BIGINT) AS ahash
        |FROM bits GROUP BY doc_id
        |UNION ALL
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(NULL AS BIGINT) AS ahash
        |FROM d WHERE doc_id % 3 <> 1""".stripMargin,
    // frame-sampling oracle: window index f // 8 over the closed-form
    // PCM samples, exact integer Σv / Σv² / min / max per (channel,
    // window) — full and partial trailing windows both re-derived
    "q_audio_frames" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |wv AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS nch, 16 + doc_id % 17 AS nfr
        |  FROM d WHERE doc_id % 3 = 1),
        |sp AS (
        |  SELECT doc_id, c.i AS channel, f.i // 8 AS win,
        |    (doc_id*31 + c.i*29 + f.i*7) % 65536 - 32768 AS v
        |  FROM wv
        |  CROSS JOIN (SELECT unnest(range(2)) AS i) c
        |  CROSS JOIN (SELECT unnest(range(33)) AS i) f
        |  WHERE c.i < nch AND f.i < nfr),
        |agg AS (
        |  SELECT doc_id, 'wav' AS format, channel, win,
        |    count(*) AS n, sum(v) AS s_sum, sum(v*v) AS s_sumsq,
        |    min(v) AS s_min, max(v) AS s_max
        |  FROM sp GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, format, CAST(channel AS BIGINT) AS channel,
        |  CAST(win AS BIGINT) AS win, CAST(n AS BIGINT) AS n,
        |  CAST(s_sum AS BIGINT) AS s_sum, CAST(s_sumsq AS BIGINT) AS s_sumsq,
        |  CAST(s_min AS BIGINT) AS s_min, CAST(s_max AS BIGINT) AS s_max
        |FROM agg
        |UNION ALL
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  0, 0, 0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM d WHERE doc_id % 3 <> 1""".stripMargin
  )

  /** The 13-gram decontamination oracle — shared verbatim by
    * q_decontaminate (exact) and q_decontaminate_bloom (bloom-prefiltered,
    * output-identical by construction). */
  private def decontaminateSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |p AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos, toks FROM t),
      |g13 AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[pos:pos+12], ' ') AS gram
      |  FROM p WHERE pos + 12 <= len(toks)),
      |ev AS (SELECT DISTINCT gram FROM g13 WHERE doc_id < 50)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM g13 s JOIN ev ON ev.gram = s.gram
      |WHERE s.doc_id >= 50
      |GROUP BY 1""".stripMargin

  /** Shared PQ prologue for the q_ann_pq / q_ann_ivfpq oracles — the SQL
    * twin of `PQ.train(m=8, k=16, iterations=1)` + `PQ.encode` on dim-64
    * embeddings (dsub = 8): seed codebooks from the 16 lowest vec_ids
    * (code = id rank), one Lloyd round (rounded `‖c‖²−2s·c` argmin with
    * ties to the lower code, per-(block,code,dim) DECIMAL(25,6) means,
    * empty codes keep their seed centroid), re-encode (`a1`), probe set
    * (`p`), and per-(probe,block,code) lookup tables (`tt`). The approx
    * numerator is summed in ascending block order downstream
    * (`list(t ORDER BY block)`) to mirror Spark's sequential reduce. */
  /** The q_ann_pq result replayed end to end in SQL — also the
    * q_ann_pq_index oracle: the persisted artifact's build→search is
    * spec-pinned identical to the self-contained annPq under the same
    * parameters, so both gates share ONE recomputed oracle (never an
    * engine echo). */
  private lazy val annPqSql: String =
    s"""WITH $pqCtes,
      |apn AS (
      |  SELECT tt.probe_id, a1.vec_id,
      |    list_aggregate(list(tt.t ORDER BY tt.block ASC), 'sum') AS num
      |  FROM a1 JOIN tt ON tt.block = a1.block AND tt.code = a1.code
      |  GROUP BY 1, 2),
      |ap AS (
      |  SELECT probe_id, vec_id, round(num / (pn * nrm), 6) AS approx
      |  FROM apn JOIN p USING (probe_id) JOIN n USING (vec_id)
      |  WHERE vec_id <> probe_id),
      |cand AS (
      |  SELECT probe_id, vec_id FROM ap
      |  QUALIFY row_number() OVER (PARTITION BY probe_id
      |    ORDER BY approx DESC, vec_id ASC) <= 20),
      |s AS (
      |  SELECT probe_id, vec_id AS neighbor_id,
      |    round(list_dot_product(pv, v) / (pn * nrm), 6) AS cosine
      |  FROM cand JOIN p USING (probe_id) JOIN n USING (vec_id))
      |SELECT probe_id, neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS "rank",
      |  cosine
      |FROM s
      |QUALIFY "rank" <= 5""".stripMargin

  private def pqCtes: String =
    """n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |sd AS (
      |  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v
      |  FROM n ORDER BY vec_id ASC LIMIT 16),
      |blk AS (SELECT unnest(range(8)) AS block),
      |cb0 AS (SELECT block, code, v[block*8+1 : block*8+8] AS c FROM sd CROSS JOIN blk),
      |a0 AS (
      |  SELECT n.vec_id, b.block, b.code
      |  FROM n CROSS JOIN cb0 b
      |  QUALIFY row_number() OVER (PARTITION BY n.vec_id, b.block
      |    ORDER BY round(list_dot_product(b.c, b.c)
      |      - 2.0 * list_dot_product(n.v[b.block*8+1 : b.block*8+8], b.c), 6) ASC,
      |      b.code ASC) = 1),
      |xd AS (
      |  SELECT a0.block, a0.code,
      |    generate_subscripts(n.v[a0.block*8+1 : a0.block*8+8], 1) - 1 AS dim,
      |    unnest(n.v[a0.block*8+1 : a0.block*8+8]) AS x
      |  FROM a0 JOIN n USING (vec_id)),
      |mn AS (
      |  SELECT block, code, dim,
      |    CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mv
      |  FROM xd GROUP BY 1, 2, 3),
      |cb1 AS (
      |  SELECT b.block, b.code, coalesce(ml.mc, b.c) AS c
      |  FROM cb0 b LEFT JOIN (
      |    SELECT block, code, list(mv ORDER BY dim ASC) AS mc FROM mn GROUP BY 1, 2) ml
      |    USING (block, code)),
      |a1 AS (
      |  SELECT n.vec_id, b.block, b.code
      |  FROM n CROSS JOIN cb1 b
      |  QUALIFY row_number() OVER (PARTITION BY n.vec_id, b.block
      |    ORDER BY round(list_dot_product(b.c, b.c)
      |      - 2.0 * list_dot_product(n.v[b.block*8+1 : b.block*8+8], b.c), 6) ASC,
      |      b.code ASC) = 1),
      |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 10),
      |tt AS (
      |  SELECT probe_id, block, code,
      |    list_dot_product(pv[block*8+1 : block*8+8], c) AS t
      |  FROM p CROSS JOIN cb1)""".stripMargin

  /** The q_pagerank oracle: the 5 damped iterations unrolled as CTE
    * pairs (contribution sum, then rank update), every quantity a
    * non-negative BIGINT so DuckDB's flooring `//` and Spark's
    * truncating `div` agree bit-for-bit. */
  /** The integer fixed-point PageRank iteration CTE chain (nodes, deg,
    * nn, pr0, c1..prN) over a PRECEDING `edges(src, dst)` CTE — the
    * SQL twin of [[graft.ops.Graph.pageRank]]'s 85/100 recurrence,
    * shared by [[pagerankSql]] and the q_link_rank oracle. */
  private def pagerankIterCtes(iters: Int): String = {
    def step(i: Int) =
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN pr${i - 1} r ON e.src = r.node GROUP BY e.dst),
         |  pr$i AS (SELECT nodes.node,
         |    CAST((1000000000000 - (85 * 1000000000000) // 100) // nn.n
         |      + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS rank
         |    FROM nodes CROSS JOIN nn
         |    LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    s"""nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |  pr0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS rank
       |    FROM nodes CROSS JOIN nn),
       |  ${(1 to iters).map(step).mkString(",\n  ")}""".stripMargin
  }

  private def pagerankSql: String =
    s"""WITH pairs AS (
       |    SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |      CAST(l_suppkey AS BIGINT) + 10000000 AS p
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |  edges AS (SELECT c AS src, p AS dst FROM pairs
       |    UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |  ${pagerankIterCtes(5)}
       |SELECT node, rank FROM pr5 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin

  /** The q_labelprop oracle: 5 synchronous rounds unrolled — per-round
    * (dst, label) vote counts, "count DESC, label ASC" plurality winner,
    * nodes with no in-edges keep their previous label. */
  private def labelpropSql: String = {
    def step(i: Int) =
      s"""v$i AS (SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS c
         |    FROM edges e JOIN lp${i - 1} l ON e.src = l.node GROUP BY 1, 2),
         |  w$i AS (SELECT node, label FROM v$i
         |    QUALIFY row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label ASC) = 1),
         |  lp$i AS (SELECT p.node, COALESCE(w$i.label, p.label) AS label
         |    FROM lp${i - 1} p LEFT JOIN w$i ON p.node = w$i.node)""".stripMargin
    s"""WITH pairs AS (
       |    SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |      CAST(l_suppkey AS BIGINT) + 10000000 AS p
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |  edges AS (SELECT c AS src, p AS dst FROM pairs
       |    UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |  nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |  lp0 AS (SELECT node, node AS label FROM nodes),
       |  ${(1 to 5).map(step).mkString(",\n  ")}
       |SELECT node, label FROM lp5""".stripMargin
  }

  /** The q_trustrank oracle: personalized teleport — base and initial
    * mass are per-node CASE data over the seed semi-join, iterations
    * otherwise identical to [[pagerankSql]]. */
  private def trustrankSql: String = {
    def step(i: Int) =
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN pr${i - 1} r ON e.src = r.node GROUP BY e.dst),
         |  pr$i AS (SELECT based.node,
         |    CAST(based.base + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS rank
         |    FROM based LEFT JOIN c$i ON based.node = c$i.node)""".stripMargin
    s"""WITH pairs AS (
       |    SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |      CAST(l_suppkey AS BIGINT) + 10000000 AS p
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |  edges AS (SELECT c AS src, p AS dst FROM pairs
       |    UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |  nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |  seedsin AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) + 10000000 AS node
       |    FROM supplier WHERE s_nationkey = 0
       |    AND CAST(s_suppkey AS BIGINT) + 10000000 IN (SELECT node FROM nodes)),
       |  ss AS (SELECT CAST(count(*) AS BIGINT) AS s FROM seedsin),
       |  based AS (SELECT nodes.node,
       |      CASE WHEN si.node IS NOT NULL
       |        THEN (1000000000000 - (85 * 1000000000000) // 100) // ss.s
       |        ELSE 0 END AS base,
       |      CASE WHEN si.node IS NOT NULL THEN 1000000000000 // ss.s
       |        ELSE 0 END AS init
       |    FROM nodes CROSS JOIN ss LEFT JOIN seedsin si ON nodes.node = si.node),
       |  pr0 AS (SELECT node, CAST(init AS BIGINT) AS rank FROM based),
       |  ${(1 to 5).map(step).mkString(",\n  ")}
       |SELECT node, rank FROM pr5 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
  }

  /** Shared CTE chain for the BPE oracles: word-type vocabulary →
    * char-unit strings → 5 unrolled merge iterations (pair stats, a
    * deterministic (count DESC, pair ASC) top pick, substring-replace
    * rewrite — units never contain spaces, so substring replacement on
    * the space-joined form IS unit-pair merging, mirroring
    * `ops/Bpe.scala`). */
  /** `n` chained merge-step CTEs. Every multiply-referenced CTE is AS
    * MATERIALIZED: DuckDB otherwise INLINES chained CTEs, which at n=64
    * re-opens the parquet scan per reference (observed as a
    * too-many-open-files failure) and risks exponential plan expansion;
    * materialised, the 64-step oracle runs in ~1 s. */
  private def bpeCtes(n: Int): String = {
    def step(i: Int) =
      s"""u$i AS MATERIALIZED (SELECT s, cnt, string_split(s, ' ') AS us FROM w${i - 1}),
         |  pe$i AS (SELECT unnest([us[i] || ' ' || us[i+1]
         |      FOR i IN generate_series(1, len(us) - 1)]) AS pair, cnt FROM u$i),
         |  pc$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM pe$i GROUP BY 1),
         |  top$i AS MATERIALIZED (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1),
         |  w$i AS (SELECT replace(s, t.pair, replace(t.pair, ' ', '')) AS s, cnt
         |    FROM u$i CROSS JOIN top$i t)""".stripMargin
    s"""WITH words AS MATERIALIZED (
       |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
       |      FROM documents)
       |    GROUP BY 1),
       |  w0 AS MATERIALIZED (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS s,
       |      cnt FROM words),
       |  ${(1 to n).map(step).mkString(",\n  ")}""".stripMargin
  }

  /** The merge-table SELECT over [[bpeCtes]]' top1..topN. */
  private def bpeMergesSelect(n: Int): String =
    "\nSELECT * FROM (\n  " +
      (1 to n).map(i =>
        s"SELECT $i AS step, pair, replace(pair, ' ', '') AS merged, c AS cnt FROM top$i")
        .mkString("\n  UNION ALL ") + ")"

  /** One unrolled Viterbi DP pass for the unigram oracle: dp{p}_0 ..
    * dp{p}_{maxW} over the `words` CTE under the `(piece, wt)` vocab CTE
    * `vcte`, ending in `seg$p(word, cnt, sc, np, seg)` — each step picks
    * the best split of word[0, i) by (score DESC, piece-count ASC,
    * segmentation ASC), the trainer's exact total order. Steps guard
    * `len(word) >= i` so a short word can never match a beyond-the-end
    * substr. MATERIALIZED like [[bpeCtes]] (chained-CTE inlining would
    * blow up the 8-step × 4-lookback plan). */
  private def unigramDp(p: Int, vcte: String, maxW: Int, maxL: Int): String = {
    def step(i: Int): String = {
      val blocks = (math.max(0, i - maxL) until i).map { j =>
        s"""SELECT d.word, d.cnt, d.sc + v.wt AS sc, d.np + 1 AS np,
           |      CASE WHEN d.seg = '' THEN v.piece ELSE d.seg || ' ' || v.piece END AS seg
           |    FROM dp${p}_$j d JOIN $vcte v
           |      ON len(d.word) >= $i AND v.piece = substr(d.word, ${j + 1}, ${i - j})""".stripMargin
      }.mkString("\n    UNION ALL ")
      s"""dp${p}_$i AS MATERIALIZED (
         |  SELECT word, cnt, sc, np, seg FROM (
         |    $blocks)
         |  QUALIFY row_number() OVER (PARTITION BY word
         |    ORDER BY sc DESC, np ASC, seg ASC) = 1)""".stripMargin
    }
    val segUnion = (1 to maxW).map(i =>
      s"SELECT word, cnt, sc, np, seg FROM dp${p}_$i WHERE len(word) = $i")
      .mkString("\n    UNION ALL ")
    s"""dp${p}_0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg FROM words),
       |  ${(1 to maxW).map(step).mkString(",\n  ")},
       |  seg$p AS MATERIALIZED (
       |    $segUnion)""".stripMargin
  }

  /** The unigram trainer replayed end to end: substring seed (all
    * single chars + the top 4·V multis by (freq DESC, piece ASC)),
    * integer-micro log-probs (`round(round(ln(f/tot),6)*1e6)` — the
    * lang-ID weight discipline), two hard-EM passes (unrolled Viterbi
    * DP → piece counts weighted by word frequency → char-floored
    * re-estimation), deterministic prune to V with renormalisation.
    * Ends with `vw(piece, f, wt)` — the fitted vocabulary. maxW = 8 is
    * the fixture's pinned max word length (TestdataInvariantSpec). */
  private def unigramCtes(v: Int = 48, maxL: Int = 4, maxW: Int = 8): String = {
    def em(p: Int, vcte: String): String =
      s"""${unigramDp(p, vcte, maxW, maxL)},
         |  ec$p AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS f FROM (
         |      SELECT unnest(string_split(seg, ' ')) AS piece, cnt FROM seg$p)
         |    GROUP BY 1),
         |  v${p}f AS MATERIALIZED (
         |    SELECT c.piece, greatest(coalesce(e.f, 0), 1) AS f
         |    FROM (SELECT piece FROM v0f WHERE len(piece) = 1) c
         |    LEFT JOIN ec$p e USING (piece)
         |    UNION ALL SELECT piece, f FROM ec$p WHERE len(piece) > 1)""".stripMargin
    s"""WITH words AS MATERIALIZED (
       |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
       |      FROM documents)
       |    GROUP BY 1),
       |  pos AS (SELECT word, cnt,
       |      unnest(generate_series(1, len(word))) AS i FROM words),
       |  sub AS (
       |    SELECT substr(p.word, CAST(p.i AS INT), CAST(ls.l AS INT)) AS piece,
       |      CAST(sum(p.cnt) AS BIGINT) AS f
       |    FROM pos p CROSS JOIN (
       |      SELECT unnest(generate_series(1, $maxL)) AS l) ls
       |    WHERE p.i + ls.l - 1 <= len(p.word) GROUP BY 1),
       |  seedm AS (SELECT piece, f FROM sub WHERE len(piece) > 1
       |    QUALIFY row_number() OVER (ORDER BY f DESC, piece ASC) <= ${4 * v}),
       |  v0f AS MATERIALIZED (
       |    SELECT piece, f FROM sub WHERE len(piece) = 1
       |    UNION ALL SELECT piece, f FROM seedm),
       |  v1 AS MATERIALIZED (SELECT piece,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM v0f)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM v0f),
       |  ${em(1, "v1")},
       |  v2 AS MATERIALIZED (SELECT piece,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM v1f)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM v1f),
       |  ${em(2, "v2")},
       |  nch AS (SELECT count(*) AS n FROM v2f WHERE len(piece) = 1),
       |  keepm AS (SELECT piece, f FROM v2f WHERE len(piece) > 1
       |    QUALIFY row_number() OVER (ORDER BY f DESC, piece ASC)
       |      <= greatest($v - (SELECT n FROM nch), 0)),
       |  vf AS MATERIALIZED (
       |    SELECT piece, f FROM v2f WHERE len(piece) = 1
       |    UNION ALL SELECT piece, f FROM keepm),
       |  vw AS MATERIALIZED (SELECT piece, f,
       |      CAST(round(round(ln(CAST(f AS DOUBLE) / (SELECT sum(f) FROM vf)), 6)
       |        * 1000000, 0) AS BIGINT) AS wt
       |    FROM vf)""".stripMargin
  }

  /** The q_unigram_train oracle: the fitted vocabulary. */
  private def unigramTrainSql: String =
    s"""${unigramCtes()}
       |SELECT piece, CAST(f AS BIGINT) AS freq, wt AS logp_micro FROM vw""".stripMargin

  /** The q_unigram_segment oracle: the final Viterbi pass under the
    * fitted vocabulary gives every word type its (piece count, score);
    * documents sum their words', empty docs keep a (0, 0) row. */
  private def unigramSegmentSql: String =
    s"""${unigramCtes()},
       |  ${unigramDp(3, "vw", 8, 4)},
       |  docw AS (SELECT doc_id,
       |      unnest(regexp_extract_all(lower(text), '\\S+')) AS word
       |    FROM documents),
       |  perword AS (
       |    SELECT docw.doc_id, s.np, s.sc
       |    FROM docw JOIN seg3 s ON s.word = docw.word)
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(p.np), 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(sum(p.sc), 0) AS BIGINT) AS score_micro
       |FROM documents d LEFT JOIN perword p ON p.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** The q_bpe_segment oracle: the training CTEs, then the 5 merges
    * folded (in step order) over every document word and the subword
    * counts summed per document. */
  private def bpeSegmentSql: String = {
    val folded = (1 to 5).foldLeft(
      "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>'") {
      (acc, i) => s"replace($acc, tops.p$i, tops.m$i)"
    }
    val topCols = (1 to 5).map(i => s"t$i.pair AS p$i, t$i.m AS m$i").mkString(", ")
    val topSrcs = (1 to 5)
      .map(i => s"(SELECT pair, replace(pair, ' ', '') AS m FROM top$i) t$i")
      .mkString(" CROSS JOIN ")
    bpeCtes(5) + s""",
      |  docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
      |    FROM documents),
      |  tops AS (SELECT $topCols FROM $topSrcs)
      |SELECT doc_id, CAST(sum(len(string_split($folded, ' '))) AS BIGINT) AS n_tokens
      |FROM docw CROSS JOIN tops GROUP BY doc_id""".stripMargin
  }

  /** The training + per-doc ordered-segmentation CTEs shared by
    * q_bpe_tokenize and q_pack_tokens — merges folded over every word,
    * the per-doc token string rebuilt IN WORD ORDER (`string_agg ...
    * ORDER BY ord`, an explicit subscript sort — a genuinely different
    * order-preservation mechanism than the Spark side's
    * order-by-construction array lambdas). Ends with `seg(doc_id,
    * toks, n_tokens)`; docs with no words are absent, so callers LEFT
    * JOIN to honor `segmentTokens`' every-input-row contract. */
  private def bpeTokenizeCtes: String = {
    val folded = (1 to 5).foldLeft(
      "trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>'") {
      (acc, i) => s"replace($acc, tops.p$i, tops.m$i)"
    }
    val topCols = (1 to 5).map(i => s"t$i.pair AS p$i, t$i.m AS m$i").mkString(", ")
    val topSrcs = (1 to 5)
      .map(i => s"(SELECT pair, replace(pair, ' ', '') AS m FROM top$i) t$i")
      .mkString(" CROSS JOIN ")
    bpeCtes(5) + s""",
      |  docw AS (SELECT doc_id,
      |      unnest(regexp_extract_all(lower(text), '\\S+')) AS word,
      |      generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1) AS ord
      |    FROM documents),
      |  tops AS (SELECT $topCols FROM $topSrcs),
      |  seg AS (SELECT doc_id, string_agg($folded, ' ' ORDER BY ord) AS toks,
      |      CAST(sum(len(string_split($folded, ' '))) AS BIGINT) AS n_tokens
      |    FROM docw CROSS JOIN tops GROUP BY doc_id)""".stripMargin
  }

  private def bpeTokenizeSql: String =
    bpeTokenizeCtes + """
      |SELECT d.doc_id, coalesce(seg.toks, '') AS toks,
      |  CAST(coalesce(seg.n_tokens, 0) AS BIGINT) AS n_tokens
      |FROM documents d LEFT JOIN seg USING (doc_id)""".stripMargin

  /** The q_pack_tokens oracle: segmentation CTEs, then the same
    * cumulative-window chunk assignment as the q_pack_chunks oracle and
    * an id-ordered string_agg with the `</s>` boundary after every doc
    * — the packed stream rebuilt entirely in SQL. */
  private def packTokensSql: String =
    bpeTokenizeCtes + """,
      |  toks AS (SELECT d.doc_id, d.source, coalesce(seg.toks, '') AS toks,
      |      CAST(coalesce(seg.n_tokens, 0) AS BIGINT) AS n_tokens
      |    FROM documents d LEFT JOIN seg USING (doc_id)),
      |  cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM toks),
      |  chunked AS (SELECT *,
      |      CAST(floor((c - n_tokens) / 512.0) AS BIGINT) AS chunk_id FROM cum)
      |SELECT source, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  string_agg(CASE WHEN toks = '' THEN '</s>' ELSE toks || ' </s>' END,
      |    ' ' ORDER BY doc_id ASC) AS packed,
      |  CAST(sum(n_tokens) + count(*) AS BIGINT) AS n_tokens_packed
      |FROM chunked GROUP BY 1, 2""".stripMargin

  /** The q_lm_score3 oracle, reused as a subquery by q_ppl_buckets3. */
  private def lmScore3Sql: String =
    """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b3 AS (
        |  SELECT a.doc_id, a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |tc AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |ct AS (SELECT w1, w2, sum(n) AS tot FROM tc GROUP BY 1, 2),
        |st3 AS (
        |  SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p3
        |  FROM tc JOIN ct USING (w1, w2) WHERE n >= 3),
        |b2 AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1),
        |st2 AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p2
        |  FROM bc JOIN wt USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b3.doc_id,
        |    coalesce(round(ln(st3.p3), 9), round(ln(0.4 * st2.p2), 9), -10.0) AS lp
        |  FROM b3
        |  LEFT JOIN st3 ON st3.w1 = b3.w1 AND st3.w2 = b3.w2 AND st3.w3 = b3.w3
        |  LEFT JOIN st2 ON st2.w1 = b3.w2 AND st2.w2 = b3.w3),
        |agg AS (
        |  SELECT doc_id, count(*) AS nt, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(nt, 0) AS BIGINT) AS n_trigrams,
        |  CASE WHEN coalesce(nt, 0) > 0 THEN round(CAST(s AS DOUBLE) / nt, 6)
        |       ELSE 0.0 END AS avg_logp3
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score5 oracle, reused as a subquery by q_ppl_buckets5 —
    * the q_lm_score3 recipe at the production order: count/stats CTEs
    * for orders 5 (prune 2), 4 (prune 2), 3 (prune 3) and 2 (prune 5),
    * then the stupid-backoff chain with the α discount compounding once
    * per hop, NESTED RIGHT (`0.4 * (0.4 * p)`) so every double
    * multiplication replays the engine's association bit for bit. */
  private def lmScore5Sql: String =
    """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b5 AS (
        |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2, c.tok AS w3, d.tok AS w4, f.tok AS w5
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
        |           JOIN e f ON f.doc_id = a.doc_id AND f.pos = a.pos + 4),
        |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS n FROM b5 GROUP BY 1, 2, 3, 4, 5),
        |x5 AS (SELECT w1, w2, w3, w4, sum(n) AS tot FROM c5 GROUP BY 1, 2, 3, 4),
        |st5 AS (
        |  SELECT w1, w2, w3, w4, w5, round(CAST(n AS DOUBLE) / tot, 6) AS p5
        |  FROM c5 JOIN x5 USING (w1, w2, w3, w4) WHERE n >= 2),
        |b4 AS (
        |  SELECT a.tok AS w1, b.tok AS w2, c.tok AS w3, d.tok AS w4
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3),
        |c4 AS (SELECT w1, w2, w3, w4, count(*) AS n FROM b4 GROUP BY 1, 2, 3, 4),
        |x4 AS (SELECT w1, w2, w3, sum(n) AS tot FROM c4 GROUP BY 1, 2, 3),
        |st4 AS (
        |  SELECT w1, w2, w3, w4, round(CAST(n AS DOUBLE) / tot, 6) AS p4
        |  FROM c4 JOIN x4 USING (w1, w2, w3) WHERE n >= 2),
        |b3 AS (
        |  SELECT a.tok AS w1, c.tok AS w2, d.tok AS w3
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |           JOIN e d ON d.doc_id = a.doc_id AND d.pos = a.pos + 2),
        |c3 AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(n) AS tot FROM c3 GROUP BY 1, 2),
        |st3 AS (
        |  SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p3
        |  FROM c3 JOIN x3 USING (w1, w2) WHERE n >= 3),
        |b2 AS (
        |  SELECT a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |c2 AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(n) AS tot FROM c2 GROUP BY 1),
        |st2 AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p2
        |  FROM c2 JOIN x2 USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b5.doc_id,
        |    coalesce(round(ln(st5.p5), 9),
        |      round(ln(0.4 * st4.p4), 9),
        |      round(ln(0.4 * (0.4 * st3.p3)), 9),
        |      round(ln(0.4 * (0.4 * (0.4 * st2.p2))), 9),
        |      -10.0) AS lp
        |  FROM b5
        |  LEFT JOIN st5 ON st5.w1 = b5.w1 AND st5.w2 = b5.w2 AND st5.w3 = b5.w3
        |    AND st5.w4 = b5.w4 AND st5.w5 = b5.w5
        |  LEFT JOIN st4 ON st4.w1 = b5.w2 AND st4.w2 = b5.w3 AND st4.w3 = b5.w4
        |    AND st4.w4 = b5.w5
        |  LEFT JOIN st3 ON st3.w1 = b5.w3 AND st3.w2 = b5.w4 AND st3.w3 = b5.w5
        |  LEFT JOIN st2 ON st2.w1 = b5.w4 AND st2.w2 = b5.w5),
        |agg AS (
        |  SELECT doc_id, count(*) AS ng, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(ng, 0) AS BIGINT) AS n_5grams,
        |  CASE WHEN coalesce(ng, 0) > 0 THEN round(CAST(s AS DOUBLE) / ng, 6)
        |       ELSE 0.0 END AS avg_logp5
        |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score CTE chain over an arbitrary `(doc_id, text)` source
    * relation — parametrized (r15) so the CCNet composition gate can
    * train/score the LM on a predicted-language SLICE instead of the
    * whole table; `lmScoreSql` below is the whole-table instantiation. */
  private def lmScoreCtesFrom(src: String): String =
    s"""t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM $src),
        |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |b2 AS (
        |  SELECT a.doc_id, a.tok AS w1, c.tok AS w2
        |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
        |wt AS (SELECT w1, sum(n) AS tot FROM bc GROUP BY 1),
        |st AS (
        |  SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
        |  FROM bc JOIN wt USING (w1) WHERE n >= 5),
        |terms AS (
        |  SELECT b2.doc_id, coalesce(round(ln(st.p), 9), -10.0) AS lp
        |  FROM b2 LEFT JOIN st ON st.w1 = b2.w1 AND st.w2 = b2.w2),
        |agg AS (
        |  SELECT doc_id, count(*) AS nb, sum(CAST(lp AS DECIMAL(28,9))) AS s
        |  FROM terms GROUP BY 1)""".stripMargin

  /** The lmScore final select over [[lmScoreCtesFrom]]' `agg`. */
  private def lmScoreSelectFrom(src: String): String =
    s"""SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN coalesce(nb, 0) > 0 THEN round(CAST(s AS DOUBLE) / nb, 6)
        |       ELSE 0.0 END AS avg_logp
        |FROM $src d LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin

  /** The q_lm_score oracle, reused as a subquery by q_ppl_buckets. */
  private def lmScoreSql: String =
    s"WITH ${lmScoreCtesFrom("documents")}\n${lmScoreSelectFrom("documents")}"

  /** The q_lang_id_trained oracle (training replayed bit for bit —
    * char-trigram extraction, h60%64 buckets, per-(lang, bucket) counts
    * → 6 dp per-class log-likelihood → micro-int weights + priors →
    * scoring join, argmax via the (total DESC, lang ASC) window); also
    * embedded by the q_ccnet_pipeline composition as its
    * language-split stage. */
  private def langIdTrainedSql: String =
    s"""WITH nt AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
       |  FROM documents),
       |gi AS (SELECT doc_id, lang, s,
       |  unnest(generate_series(1, greatest(length(s) - 2, 0))) AS i FROM nt),
       |f AS (SELECT doc_id, lang,
       |  CAST(${h60("substr(s, CAST(i AS INT), 3)")} % 64 AS INT) AS bkt FROM gi),
       |langs AS (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL),
       |dc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS d
       |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
       |dt AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM documents
       |  WHERE lang IS NOT NULL),
       |cnt AS (SELECT lang, bkt, count(*) AS n FROM f GROUP BY 1, 2),
       |tc AS (SELECT lang, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1),
       |wts AS (SELECT l.lang, gs.bkt,
       |  CAST(round(round(ln((coalesce(n, 0) + 1.0) / (coalesce(t, 0) + 64.0)), 6)
       |    * 1000000, 0) AS BIGINT) AS wt
       |  FROM langs l
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bkt) gs
       |  LEFT JOIN tc ON tc.lang = l.lang
       |  LEFT JOIN cnt ON cnt.lang = l.lang AND cnt.bkt = gs.bkt),
       |pri AS (SELECT dc.lang,
       |  CAST(round(round(ln(d / tot), 6) * 1000000, 0) AS BIGINT) AS pm
       |  FROM dc, dt),
       |sc AS (SELECT f.doc_id, w.lang, sum(w.wt) AS sm
       |  FROM f JOIN wts w ON w.bkt = f.bkt GROUP BY 1, 2),
       |tot AS (SELECT d.doc_id, p.lang AS cls, coalesce(sm, 0) + pm AS total
       |  FROM documents d CROSS JOIN pri p
       |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = p.lang),
       |best AS (SELECT doc_id, cls AS predicted_lang, total FROM tot
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY total DESC, cls ASC) = 1),
       |nf AS (SELECT doc_id, count(*) AS n FROM f GROUP BY 1)
       |SELECT d.doc_id, d.lang, b.predicted_lang,
       |  b.predicted_lang = d.lang AS correct,
       |  CAST(coalesce(nf.n, 0) AS BIGINT) AS n_feats,
       |  CAST(b.total AS BIGINT) AS score_micro
       |FROM documents d JOIN best b USING (doc_id)
       |LEFT JOIN nf USING (doc_id)""".stripMargin

  /** Shared CTE chain for the ExactSubstr gates (l = 20): duplicated
    * window detection + per-doc island merge; `selectSpans` picks the
    * spans output, else the stripped-text output. */
  private def substrCtes: String = {
    val l = 20
    s"""WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, len(toks) - ${l - 1})) AS pos FROM t),
        |w AS (SELECT doc_id, pos,
        |  md5(array_to_string(toks[pos:pos+${l - 1}], ' ')) AS wh FROM u),
        |dd AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
        |p AS (SELECT w.doc_id, w.pos FROM w JOIN dd USING (wh)),
        |brk AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $l
        |       THEN 0 ELSE 1 END AS b
        |  FROM p),
        |isl AS (SELECT doc_id, pos, sum(b) OVER (
        |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |  FROM brk),
        |sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + ${l - 1} AS end_tok
        |  FROM isl GROUP BY doc_id, g)""".stripMargin
  }

  private def substrSpansSql(selectSpans: Boolean): String =
    if (selectSpans)
      s"""$substrCtes
        |SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(end_tok AS BIGINT) AS end_tok,
        |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens
        |FROM sp""".stripMargin
    else
      s"""$substrCtes,
        |$substrKeptCtes
        |SELECT t.doc_id, coalesce(agg.txt, '') AS text
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Shared DSIR CTE chain (through per-doc decimal sums `agg`): bigram
    * stream over `documents`, src0-trained target model (minCount 2),
    * whole-corpus raw model (minCount 5). */
  private def dsirCtes: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, source, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |b2 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, c.tok AS w2
      |  FROM e a JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
      |bct AS (SELECT w1, w2, count(*) AS n FROM b2 WHERE source = 'src0' GROUP BY 1, 2),
      |wtt AS (SELECT w1, sum(n) AS tot FROM bct GROUP BY 1),
      |smt AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM bct JOIN wtt USING (w1) WHERE n >= 2),
      |bcr AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
      |wtr AS (SELECT w1, sum(n) AS tot FROM bcr GROUP BY 1),
      |smr AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM bcr JOIN wtr USING (w1) WHERE n >= 5),
      |terms AS (
      |  SELECT b2.doc_id,
      |    coalesce(round(ln(smt.p), 9), -10.0) AS lt,
      |    coalesce(round(ln(smr.p), 9), -10.0) AS lr
      |  FROM b2 LEFT JOIN smt ON smt.w1 = b2.w1 AND smt.w2 = b2.w2
      |          LEFT JOIN smr ON smr.w1 = b2.w1 AND smr.w2 = b2.w2),
      |agg AS (SELECT doc_id, count(*) AS nb,
      |  sum(CAST(lt AS DECIMAL(28,9))) AS st, sum(CAST(lr AS DECIMAL(28,9))) AS sr
      |  FROM terms GROUP BY 1)""".stripMargin

  /** Shared ORDER-3 DSIR CTE chain (through per-doc decimal sums `agg`):
    * one shared trigram/bigram stream over `documents`, src0-trained
    * target models (tri/bi prunes 2/2), whole-corpus raw models (3/5),
    * each side's term the stupid-backoff coalesce of the q_lm_score3
    * recipe. */
  private def dsir3Ctes: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, source, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |b3 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, b.tok AS w2, c.tok AS w3
      |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |           JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      |b2 AS (
      |  SELECT a.doc_id, a.source, a.tok AS w1, b.tok AS w2
      |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      |tc3t AS (SELECT w1, w2, w3, count(*) AS n FROM b3 WHERE source = 'src0' GROUP BY 1, 2, 3),
      |cx3t AS (SELECT w1, w2, sum(n) AS tot FROM tc3t GROUP BY 1, 2),
      |st3t AS (SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc3t JOIN cx3t USING (w1, w2) WHERE n >= 2),
      |tc2t AS (SELECT w1, w2, count(*) AS n FROM b2 WHERE source = 'src0' GROUP BY 1, 2),
      |cx2t AS (SELECT w1, sum(n) AS tot FROM tc2t GROUP BY 1),
      |st2t AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc2t JOIN cx2t USING (w1) WHERE n >= 2),
      |tc3r AS (SELECT w1, w2, w3, count(*) AS n FROM b3 GROUP BY 1, 2, 3),
      |cx3r AS (SELECT w1, w2, sum(n) AS tot FROM tc3r GROUP BY 1, 2),
      |st3r AS (SELECT w1, w2, w3, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc3r JOIN cx3r USING (w1, w2) WHERE n >= 3),
      |tc2r AS (SELECT w1, w2, count(*) AS n FROM b2 GROUP BY 1, 2),
      |cx2r AS (SELECT w1, sum(n) AS tot FROM tc2r GROUP BY 1),
      |st2r AS (SELECT w1, w2, round(CAST(n AS DOUBLE) / tot, 6) AS p
      |  FROM tc2r JOIN cx2r USING (w1) WHERE n >= 5),
      |terms AS (
      |  SELECT b3.doc_id,
      |    coalesce(round(ln(st3t.p), 9), round(ln(0.4 * st2t.p), 9), -10.0) AS lt,
      |    coalesce(round(ln(st3r.p), 9), round(ln(0.4 * st2r.p), 9), -10.0) AS lr
      |  FROM b3
      |  LEFT JOIN st3t ON st3t.w1 = b3.w1 AND st3t.w2 = b3.w2 AND st3t.w3 = b3.w3
      |  LEFT JOIN st2t ON st2t.w1 = b3.w2 AND st2t.w2 = b3.w3
      |  LEFT JOIN st3r ON st3r.w1 = b3.w1 AND st3r.w2 = b3.w2 AND st3r.w3 = b3.w3
      |  LEFT JOIN st2r ON st2r.w1 = b3.w2 AND st2r.w2 = b3.w3),
      |agg AS (SELECT doc_id, count(*) AS nt,
      |  sum(CAST(lt AS DECIMAL(28,9))) AS st, sum(CAST(lr AS DECIMAL(28,9))) AS sr
      |  FROM terms GROUP BY 1)""".stripMargin

  /** Shared strip tail: tokens outside every span, re-joined in order. */
  private def substrKeptCtes: String =
    """e AS (SELECT doc_id, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS pos FROM t),
      |kept AS (
      |  SELECT e.doc_id, e.tok, e.pos
      |  FROM e LEFT JOIN sp ON sp.doc_id = e.doc_id
      |    AND e.pos BETWEEN sp.start_tok AND sp.end_tok
      |  WHERE sp.doc_id IS NULL),
      |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
      |  count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)""".stripMargin

  /** q_substr_strip_flag oracle: the exact strip plus the flag path's
    * token accounting. `n_tokens` follows the engine's split contract
    * (an empty doc counts one empty token — greatest(len, 1));
    * `n_removed` counts real tokens cut, identical in both spellings. */
  private def substrStripFlagSql: String =
    s"""$substrCtes,
      |$substrKeptCtes
      |SELECT t.doc_id, coalesce(agg.txt, '') AS text,
      |  CAST(greatest(len(t.toks), 1) AS BIGINT) AS n_tokens,
      |  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
      |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  /** The q_gopher_rules oracle, reusable as a subquery by the composed
    * pipeline gate (DuckDB allows WITH inside a derived table). */
  private def gopherRulesSql: String =
    """WITH g AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(text, '\S')) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS mean_word_len,
         |    CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))
         |      + len(regexp_extract_all(text, '\x{2026}')) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS symbol_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '^\s*[-*\x{2022}]'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS bullet_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(l, '(\.\.\.|\x{2026})\s*$'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS ellipsis_ratio,
         |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
         |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS alpha_ratio,
         |    CAST(CAST(regexp_matches(lower(text), '\bthe\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bbe\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bto\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bof\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\band\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bthat\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bhave\b') AS INT)
         |      + CAST(regexp_matches(lower(text), '\bwith\b') AS INT) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT *,
         |  (r_words AND r_mean_len AND r_symbol AND r_bullet AND r_ellipsis
         |    AND r_alpha AND r_stop) AS gopher_keep
         |FROM (
         |  SELECT g.*,
         |    n_words >= 30 AND n_words <= 100000 AS r_words,
         |    mean_word_len >= 4.0 AND mean_word_len <= 10.0 AS r_mean_len,
         |    symbol_ratio <= 0.1 AS r_symbol,
         |    bullet_ratio <= 0.9 AS r_bullet,
         |    ellipsis_ratio <= 0.3 AS r_ellipsis,
         |    alpha_ratio >= 0.8 AS r_alpha,
         |    n_stop >= 1 AS r_stop
         |  FROM g)""".stripMargin

  /** DuckDB twin of [[graft.ops.HashMode.Portable]]: low 60 bits of md5 as a
    * non-negative BIGINT — bit-identical to the Spark side, so min()/banding
    * order agrees across engines. */
  private def h60(x: String): String =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"

  /** The q_zorder oracle: [[graft.ops.Layout.withZValue]] re-derived —
    * 16-bit quantization against the observed min/max (HUGEINT floor
    * division == Spark's DECIMAL(38,0) integral `div` on non-negative
    * quantities) and the stride-2 Morton interleave as the identical
    * 32-term shift/mask sum. */
  private def zorderSql: String = {
    val bits = 16
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((qa >> $i) & 1) * ${1L << (2 * i + 1)})",
        s"(((qb >> $i) & 1) * ${1L << (2 * i)})")
    }.mkString(" + ")
    s"""WITH mm AS (
      |  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
      |         min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
      |  FROM lineitem),
      |q AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    CAST((${1L << bits}::HUGEINT * (l_partkey - amin)) // (amax - amin + 1) AS BIGINT) AS qa,
      |    CAST((${1L << bits}::HUGEINT * (l_suppkey - bmin)) // (bmax - bmin + 1) AS BIGINT) AS qb
      |  FROM lineitem, mm)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST($terms AS BIGINT) AS zval
      |FROM q""".stripMargin
  }

  /** Shared CTE for the URL-family oracles: `u` mirrors [[docsWithUrl]]'s
    * synthetic url EXPRESSION-FOR-EXPRESSION; `p` mirrors [[UrlOps]]'
    * parse regexes (identical patterns — both engines return '' on no
    * match, which the operators rely on). "query" is quoted: DuckDB
    * reserves the bare word. */
  private val urlCte: String =
    """WITH u AS (
      |  SELECT doc_id, source, lang,
      |    (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END ||
      |     CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |     source ||
      |     CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END ||
      |     CASE WHEN doc_id % 11 = 0 THEN ':8080'
      |          WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END ||
      |     '/p' || CAST(doc_id % 5 AS VARCHAR) ||
      |     CASE WHEN doc_id % 6 = 0 THEN '?ref=' || CAST(doc_id % 3 AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, lang, url,
      |    regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
      |    lower(regexp_extract(
      |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
      |      '^([^:]+)', 1)) AS host,
      |    CAST(nullif(regexp_extract(
      |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
      |      ':([0-9]+)$', 1), '') AS BIGINT) AS port,
      |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
      |    regexp_extract(url, '[?]([^#]*)', 1) AS "query"
      |  FROM u)""".stripMargin

  /** Wavy-luma channel term over (src, pert, sx, sy) columns — shared
    * by the q_dedup_perceptual and q_dedup_perceptual_probe oracles. */
  private def wavyLumaTerm(cOff: Int, coef: Int): String =
    s"$coef * (((src*31 + sx*97 + sy*131 + $cOff) % 256 + " +
      "CASE WHEN pert = 1 AND sx = 0 AND sy = 0 THEN 8 ELSE 0 END) % 256)"

  /** The dHash recomputation CTE chain (dims -> grid -> luma -> bits ->
    * hv(vid, side, h)) over a PRECEDING `var(vid, src, pert, side)` CTE
    * — ONE definition shared by the q_dedup_perceptual and
    * q_dedup_perceptual_probe oracles, so the two gates can never drift
    * apart (the minhashPairCtes convention). `side` just rides along;
    * an oracle that does not need it sets 0. */
  private def dhashHashCtes: String =
    s"""dims AS (
       |  SELECT vid, src, pert, side, 4 + src % 5 AS w, 3 + src % 4 AS h
       |  FROM var),
       |grid AS (
       |  SELECT vid, src, pert, side, x.i AS gx, y.i AS gy,
       |    (x.i * w) // 9 AS sx, (y.i * h) // 8 AS sy
       |  FROM dims
       |  CROSS JOIN (SELECT unnest(range(9)) AS i) x
       |  CROSS JOIN (SELECT unnest(range(8)) AS i) y),
       |g AS (
       |  SELECT vid, side, gx, gy,
       |    (${wavyLumaTerm(0, 299)}
       |   + ${wavyLumaTerm(29, 587)}
       |   + ${wavyLumaTerm(58, 114)}) // 1000 AS luma
       |  FROM grid),
       |b AS (
       |  SELECT a.vid, a.side, a.gy * 8 + a.gx AS bit_i,
       |    CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
       |  FROM g a JOIN g n ON n.vid = a.vid AND n.gy = a.gy
       |    AND n.gx = a.gx + 1
       |  WHERE a.gx < 8),
       |hv AS (
       |  SELECT vid, side, CAST(sum(bit *
       |    (CASE WHEN bit_i = 63 THEN -9223372036854775808
       |          ELSE CAST(power(2, bit_i) AS BIGINT) END)) AS BIGINT) AS h
       |  FROM b GROUP BY vid, side)""".stripMargin

  /** The q_dedup_perceptual oracle: recompute every variant's dHash
    * from the fixture formulas (base pixels, the cross-codec twin's
    * IDENTICAL pixels, the (0,0)+8 perturbation), then brute-force the
    * Hamming filter — legitimate as THE semantics because the banding
    * is recall-lossless by pigeonhole (the operator's output must equal
    * the brute-force filter exactly). */
  private def perceptualSql: String =
    s"""WITH d AS (
       |  SELECT doc_id FROM documents WHERE doc_id < 60 AND doc_id % 3 = 0),
       |var AS (
       |  SELECT doc_id AS vid, doc_id AS src, 0 AS pert, 0 AS side FROM d
       |  UNION ALL SELECT doc_id + 1000, doc_id, 0, 0 FROM d
       |  UNION ALL SELECT doc_id + 2000, doc_id, 1, 0 FROM d),
       |$dhashHashCtes
       |SELECT a.vid AS doc_a, c.vid AS doc_b,
       |  CAST(bit_count(xor(a.h, c.h)) AS BIGINT) AS hamming
       |FROM hv a JOIN hv c ON a.vid < c.vid
       |WHERE bit_count(xor(a.h, c.h)) <= 8""".stripMargin

  /** The q_dedup_perceptual_probe oracle: both sides' hashes recomputed
    * from the wavy formula (arrival vid maps to corpus pixels vid-60 —
    * the cross-codec re-encode arriving later), then the brute-force
    * Hamming restriction corpus × arrivals — again THE semantics, since
    * the banded probe is recall-lossless. Same [[dhashHashCtes]] chain
    * as q_dedup_perceptual. */
  private def perceptualProbeSql: String =
    s"""WITH c AS (
       |  SELECT doc_id FROM documents WHERE doc_id < 60 AND doc_id % 3 = 0),
       |arr AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id >= 60 AND doc_id < 120 AND doc_id % 3 = 0),
       |var AS (
       |  SELECT doc_id AS vid, doc_id AS src, 0 AS pert, 0 AS side FROM c
       |  UNION ALL SELECT doc_id, doc_id - 60, 0, 1 FROM arr),
       |$dhashHashCtes
       |SELECT p.vid AS arrival_id, c2.vid AS corpus_id,
       |  CAST(bit_count(xor(p.h, c2.h)) AS BIGINT) AS hamming
       |FROM hv p JOIN hv c2 ON p.side = 1 AND c2.side = 0
       |WHERE bit_count(xor(p.h, c2.h)) <= 8""".stripMargin

  /** Anchor-extraction CTE chain (through `lnk(doc_id, link_pos, href,
    * host)`): the SQL mirror of [[docsWithAnchors]] +
    * [[graft.ops.UrlOps.extractLinks]] + the urlCte host derivation,
    * with the shared tag/href pattern constants spliced (single quotes
    * doubled for the SQL literal) — shared by the q_extract_links and
    * q_link_rank oracles. */
  private def linkCtes: String =
    s"""abase AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 9 = 0 THEN
       |      ' <a href="https://www' || CAST(doc_id % 7 AS VARCHAR) ||
       |      '.example' || CAST(doc_id % 5 AS VARCHAR) || '.com/p' ||
       |      CAST(doc_id AS VARCHAR) ||
       |      '?u=1">x</a> mid <a class=''k'' href=''http://m.example' ||
       |      CAST(doc_id % 5 AS VARCHAR) ||
       |      '.org/q''>y</a> <a href=http://bare.example' ||
       |      CAST(doc_id % 5 AS VARCHAR) ||
       |      '.net/r class=m>w</a> <a name="n">z</a>'
       |    ELSE '' END AS t2
       |  FROM documents),
       |atg AS (
       |  SELECT doc_id,
       |    regexp_extract_all(t2,
       |      '${graft.ops.UrlOps.ATagPattern.replace("'", "''")}') AS tags
       |  FROM abase),
       |aps AS (
       |  SELECT doc_id, unnest(tags) AS tag,
       |    generate_subscripts(tags, 1) - 1 AS link_pos
       |  FROM atg),
       |ahr AS (
       |  SELECT doc_id, link_pos,
       |    CASE WHEN regexp_extract(tag,
       |           '${graft.ops.UrlOps.HrefDqPattern.replace("'", "''")}', 1) <> ''
       |         THEN regexp_extract(tag,
       |           '${graft.ops.UrlOps.HrefDqPattern.replace("'", "''")}', 1)
       |         WHEN regexp_extract(tag,
       |           '${graft.ops.UrlOps.HrefSqPattern.replace("'", "''")}', 1) <> ''
       |         THEN regexp_extract(tag,
       |           '${graft.ops.UrlOps.HrefSqPattern.replace("'", "''")}', 1)
       |         ELSE regexp_extract(tag,
       |           '${graft.ops.UrlOps.HrefBarePattern.replace("'", "''")}', 1)
       |         END AS href
       |  FROM aps),
       |lnk AS (
       |  SELECT doc_id, CAST(link_pos AS BIGINT) AS link_pos, href,
       |    lower(regexp_extract(
       |      regexp_extract(href, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
       |      '^([^:]+)', 1)) AS host
       |  FROM ahr WHERE href <> '')""".stripMargin

  /** Registrable-domain expression over `host` — the oracle twin of
    * [[UrlOps.registrableDomain]] restricted to the suffixes the
    * synthetic corpus can produce (`co.uk` before `com`, longest first,
    * exactly the operator's match order). */
  private val domainSql: String =
    """CASE WHEN regexp_matches(host, '[.]co[.]uk$')
      |       THEN regexp_extract(host, '([^.]+[.]co[.]uk)$', 1)
      |     WHEN regexp_matches(host, '[.]com$')
      |       THEN regexp_extract(host, '([^.]+[.]com)$', 1)
      |     WHEN regexp_matches(host, '[.]')
      |       THEN regexp_extract(host, '([^.]+[.][^.]+)$', 1)
      |     ELSE host END""".stripMargin.replace("\n", " ")

  /** Fixed toy weight vector for the hashed-classifier gate (64 buckets,
    * values in [-0.50, 0.50]) — a stand-in for any externally trained
    * model; the oracle inlines the SAME micro-unit values. */
  private val ClassifierWeights: Seq[Double] =
    (0 until 64).map(i => (((i * 37) % 101) - 50) / 100.0)
  private def classifierValues: String =
    ClassifierWeights.zipWithIndex
      .map { case (w, i) => s"($i, ${math.round(w * 1e6)})" }.mkString(", ")

  /** Shared shingle prologue mirroring `NearDup.explodedShingles` including
    * the whole-doc fallback for documents with < 3 tokens (`shinglesOf`'s
    * `wholeDocFallback`); `shf` keeps positional order for winnowing, `d`
    * is the distinct set, `n` the per-doc distinct-shingle counts. */
  private def shingleCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
      |sh AS (
      |  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle, a.pos
      |  FROM e a
      |  JOIN e b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |  JOIN e c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      |shf AS (
      |  SELECT doc_id, shingle, pos FROM sh
      |  UNION ALL
      |  SELECT doc_id, array_to_string(toks, ' ') AS shingle, 1 AS pos
      |  FROM t WHERE len(toks) < 3),
      |d AS (SELECT DISTINCT doc_id, shingle FROM shf),
      |n AS (SELECT doc_id, count(*) AS nsh FROM d GROUP BY 1)""".stripMargin

  /** The 32 seeded minhash aggregates — double hashing `min(h1 + i*h2)`
    * over the per-shingle digest halves, the DuckDB spelling of
    * `HashMode.Portable.seededHash(i)` (requires a `prep` CTE providing
    * h1/h2). */
  private def minhashSigSql: String =
    (0 until NearDup.MinHashK)
      .map(i => s"    min(h1 + $i * h2) AS mh$i")
      .mkString(",\n")

  /** Per-shingle digest halves matching `HashMode.Portable.minhashPrep`. */
  private def minhashPrepCte: String =
    """prep AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |    CAST(('0x' || substr(md5(shingle), 17, 13)) AS BIGINT) AS h2
      |  FROM d)""".stripMargin

  /** The full MinHash-LSH pair pipeline as CTEs (after [[shingleCtes]]):
    * signatures → bands → size-blocked candidates → exact verify →
    * `pr(doc_a, doc_b, jaccard)`. ONE definition — q_dedup_minhash reads
    * `pr` directly and q_dedup_cluster builds components over it, so the
    * two gated queries can never drift apart. */
  private def minhashPairCtes: String =
    s"""$minhashPrepCte,
      |sig AS (
      |  SELECT doc_id,
      |$minhashSigSql
      |  FROM prep GROUP BY 1),
      |banded AS (
      |$minhashBandsSql),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM banded x
      |  JOIN banded y ON y.band = x.band AND y.band_hash = x.band_hash
      |    AND x.doc_id < y.doc_id
      |  JOIN n nx ON nx.doc_id = x.doc_id
      |  JOIN n ny ON ny.doc_id = y.doc_id
      |  WHERE least(nx.nsh, ny.nsh) >= 0.7 * greatest(nx.nsh, ny.nsh)),
      |p AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS common
      |  FROM cand c
      |  JOIN d x ON x.doc_id = c.doc_a
      |  JOIN d y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT doc_a, doc_b,
      |    round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) AS jaccard
      |  FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
      |  WHERE round(CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common), 6) >= 0.7)""".stripMargin

  /** The 8 LSH band hashes over 4-signature slices, as a UNION ALL. */
  private def minhashBandsSql: String = {
    val rows = NearDup.MinHashK / NearDup.MinHashBands
    (0 until NearDup.MinHashBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => s"mh$i").mkString(", ")
      s"  SELECT doc_id, $b AS band, ${h60(s"concat_ws(':', $cols)")} AS band_hash FROM sig"
    }.mkString("\n  UNION ALL\n")
  }

  /** ±1 vote per bit of the 60-bit portable hash (simhash twin). */
  private def simhashVoteSql: String =
    (0 until 60)
      .map(j => s"    sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n")

  /** Fold the 60 vote signs back into one BIGINT. */
  private def simhashFoldSql: String =
    (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")

  /** The composite pass predicate of the lineitem demo contract, in spec
    * order — must stay in lockstep with `Expectations.fromContract`. */
  private def splitPassSql: String = Seq(
    "l_orderkey IS NOT NULL", "l_partkey IS NOT NULL", "l_suppkey IS NOT NULL",
    "l_linenumber IS NOT NULL", "l_quantity IS NOT NULL",
    "l_quantity > 5", "l_quantity <= 45",
    "l_extendedprice IS NOT NULL", "l_extendedprice < 95000",
    "l_discount >= 0.02", "l_tax <= 0.07",
    "l_returnflag IS NOT NULL", "l_returnflag IN ('A','N')",
    "regexp_matches(l_linestatus, '^[OF]$')",
    "l_shipdate IS NOT NULL").mkString(" AND ")

  private def flagRowsSql: String = Seq(
    "l_orderkey IS NULL"      -> "not_null_l_orderkey",
    "l_partkey IS NULL"       -> "not_null_l_partkey",
    "l_suppkey IS NULL"       -> "not_null_l_suppkey",
    "l_linenumber IS NULL"    -> "not_null_l_linenumber",
    "l_quantity IS NULL"      -> "not_null_l_quantity",
    "NOT (l_quantity > 5)"    -> "gt_l_quantity",
    "NOT (l_quantity <= 45)"  -> "le_l_quantity",
    "l_extendedprice IS NULL" -> "not_null_l_extendedprice",
    "NOT (l_extendedprice < 95000)" -> "lt_l_extendedprice",
    "NOT (l_discount >= 0.02)" -> "ge_l_discount",
    "NOT (l_tax <= 0.07)"     -> "le_l_tax",
    "l_returnflag IS NULL"    -> "not_null_l_returnflag",
    "NOT (l_returnflag IN ('A','N'))" -> "enum_l_returnflag",
    "NOT regexp_matches(l_linestatus, '^[OF]$')" -> "regex_l_linestatus",
    "l_shipdate IS NULL"      -> "not_null_l_shipdate"
  ).map { case (pred, key) =>
    s"SELECT l_orderkey, l_linenumber, '$key' AS failed_expectation FROM lineitem WHERE $pred"
  }.mkString("\nUNION ALL\n")
}
