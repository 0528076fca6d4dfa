package graft
package gates

import graft.analytics.Analytics
import graft.ops.{NearDup, Skew, TextOps, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** The analytic query surface: TPC-H style joins, event analytics,
  * profiling and warehouse aggregates, sketches and the z-order layout. */
object AnalyticsGates {

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

  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing", (s, d) => Analytics.q1Pricing(t(s, d, "lineitem")),
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
      Some(Pin(1.57, 0.961, baseline = true))),
    Gate("q3_topn_join", (s, d) => Analytics.q3TopN(
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem")),
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
      Some(Pin(1.19, 0.630, baseline = true))),
    Gate("q5_join5", (s, d) => Analytics.q5Join5(
      t(s, d, "region"), t(s, d, "nation"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "orders"), t(s, d, "lineitem")),
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
      Some(Pin(1.31, 0.914, baseline = true))),
    Gate("q_window_latest", (s, d) => Analytics.windowLatest(t(s, d, "lineitem")),
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) = 1""".stripMargin),
    Gate("q_events_window", (s, d) => Analytics.eventsWindow(t(s, d, "events")),
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin),
    Gate("q_events_dedup", (s, d) => Analytics.eventsDedup(t(s, d, "events")),
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts ASC, event_id ASC) = 1""".stripMargin),
    Gate("q_sessions", (s, d) => Analytics.sessionsBatch(t(s, d, "events")),
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
        |FROM s GROUP BY user_id, session_id""".stripMargin),
    // gap-filled hourly resampling: every bucket in each user's span
    // exists, zero-filled — "no row" never masquerades as "no data"
    Gate("q_resample", (s, d) => Analytics.resample(t(s, d, "events")),
      // integral hourly buckets (epoch_us div width — exact in any
      // engine, no timezone-typed output), per-user generate_series grid,
      // zero-filled left join
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
      // budget: 0.66 s warmed (r8).
      Some(Pin(0.85, 0.726))),
    // ordered funnel: earliest view -> first click AFTER it -> first
    // purchase after that; per-user stage timestamps + completed count
    Gate("q_funnel", (s, d) => Analytics.funnel(t(s, d, "events")),
      // per-stage earliest-after-previous via (ts, event_id)-ordered
      // min_by equivalents; stage = completed prefix length
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
      // budget: 0.54 s warmed (r8).
      Some(Pin(0.70, 0.436))),
    // the funnel under a 6-hour conversion window: a stage only counts
    // within maxGap of the previous stage's match
    Gate("q_funnel_window", (s, d) =>
      Analytics.funnel(t(s, d, "events"), maxGapUs = Some(6L * 3600 * 1000000L)),
      // the 6h-window funnel: same per-stage earliest-after-previous CTEs
      // with the conversion-window bound on each stage join
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
      // budget: 1.08 s warmed.
      Some(Pin(1.40, 0.359))),
    // weekly retention triangle anchored on each user's first signup
    Gate("q_cohort", (s, d) => Analytics.cohortRetention(t(s, d, "events")),
      // 7-day periods as epoch_us div width; cohort = min signup period,
      // activity = distinct users per (cohort, offset >= 0)
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
      // budget: 0.30 s warmed (r8).
      Some(Pin(0.39, 0.341))),
    // the triangle normalized by each cohort's size
    Gate("q_retention_rate", (s, d) => Analytics.retentionRates(t(s, d, "events")),
      // triangle joined to its own offset-0 slice; offset 0 reads 1.0
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
      // budget: 0.77 s warmed.
      Some(Pin(1.00, 0.345))),
    // lag-1 value autocorrelation per (user, type) series
    Gate("q_autocorr", (s, d) => Analytics.autocorr(t(s, d, "events")),
      // lead pairs within each (user, type) series feeding the exact
      // power-sum correlation (the q_corr recipe)
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
      // budget: 0.50 s warmed.
      Some(Pin(0.65, 0.378))),
    // each user's dominant activity: deterministic plurality event type
    Gate("q_mode", (s, d) =>
      graft.ops.Stats.modeByGroup(t(s, d, "events"), "user_id", "event_type"),
      // plurality with "count DESC, value ASC" resolution spelled as a
      // row_number over the count frame
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.user_id, c.event_type AS mode, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.tot, 6) AS share
        |FROM c JOIN t USING (user_id)
        |QUALIFY row_number() OVER (PARTITION BY c.user_id
        |  ORDER BY c.n DESC, c.event_type ASC) = 1""".stripMargin,
      Some(Pin(0.66, 0.183))),
    // daily counts per type with period-over-period change
    Gate("q_pop", (s, d) => Analytics.periodOverPeriod(t(s, d, "events")),
      // grid-sized lag over integral day buckets; first bucket per type
      // has null change
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
      // budget: 0.52 s warmed.
      Some(Pin(0.68, 0.165))),
    // UTC hour-of-day load shape per event type
    Gate("q_seasonality", (s, d) => Analytics.hourOfDayProfile(t(s, d, "events")),
      // integral UTC hour buckets (div then mod — engine-exact)
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour_utc,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS tt FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(g.hour_utc AS BIGINT) AS hour_utc, g.n,
        |  round(CAST(g.n AS DOUBLE) / t.tt, 6) AS share
        |FROM g JOIN t USING (event_type)""".stripMargin,
      // budget: 0.56 s warmed.
      Some(Pin(0.73, 0.202))),
    // corpus source-concentration Gini (mixture-tuning health number)
    Gate("q_gini", (s, d) => Analytics.sourceGini(t(s, d, "documents")),
      // ascending-rank integer Gini: (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)),
      // one double division; ties rank by source (tie-order-invariant)
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
      // budget: 0.29 s warmed.
      Some(Pin(0.38, 0.152))),
    // lang x source independence (the categorical A/B companion)
    Gate("q_chi2", (s, d) =>
      graft.ops.Stats.chiSquare(t(s, d, "documents"), "lang", "source"),
      // exact observed counts; expected through a HUGEINT margins product
      // (one double cast), (o-e)^2/e terms 9dp decimal-summed, chi2 6dp;
      // the FULL r x c grid so absent cells contribute their expected mass
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
      // budget: 0.84 s warmed.
      Some(Pin(1.09, 0.280))),
    // one-row corpus duplication health summary
    Gate("q_dup_stats", (s, d) => TextOps.duplicationStats(t(s, d, "documents")),
      // md5-fingerprint groups folded to one corpus-health row
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
      // budget: 0.50 s warmed.
      Some(Pin(0.65, 0.215))),
    // parametric z-score normalization from exact power sums
    Gate("q_zscore", (s, d) => Analytics.zscoreNormalize(t(s, d, "events")),
      // mean and sample std from HUGEINT power sums, both rounded 6dp
      // BEFORE the per-row transform; zero-variance -> null z
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
      // budget: 0.57 s warmed.
      Some(Pin(0.74, 0.291))),
    // trailing 3-event moving average per user (exact-decimal window sum)
    Gate("q_moving_avg", (s, d) => Analytics.movingAvg(t(s, d, "events")),
      // exact-decimal window sum / window count, round 6 — the dsum
      // rationale applied to a ROWS frame
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  round(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) /
        |        count(*) OVER w, 6) AS mavg_3
        |FROM events
        |WHERE ts IS NOT NULL AND value IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
      // benched: time-series analytics: window-framed exact decimal sums.
      // budget: 0.66 s warmed (r8).
      Some(Pin(0.86, 0.380))),
    // exact-integer EWMA (alpha = 1/16): recurrence folded at 6dp fixed
    // point — bit-identical in any engine/partitioning
    Gate("q_ewma", (s, d) => Analytics.ewma(t(s, d, "events")),
      // the recurrence unrolled as a recursive CTE; (x-e)/16.0 is exact
      // (|x-e| < 2^53, divisor a power of two) so trunc == Spark's div
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
      // budget: 0.53 s warmed (r8).
      Some(Pin(0.69, 0.389))),
    // Markov transition matrix of consecutive event types per user
    Gate("q_transitions", (s, d) => Analytics.transitions(t(s, d, "events")),
      // (ts, event_id)-ordered lead pairs; probabilities are exact-count
      // ratios rounded at 6dp
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
      // benched: transition matrix off one per-key window.
      // budget: 0.79 s warmed (r8).
      Some(Pin(1.03, 0.385))),
    // status-pivoted wide cross-tab with explicit pivot values
    Gate("q_pivot", (s, d) => Analytics.pivotSummary(t(s, d, "orders")),
      // FILTERed aggregates are the long-form spelling of the same single
      // grouped aggregation the pivot runs
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
      // budget: 0.40 s warmed (r8).
      Some(Pin(0.52, 0.276))),
    // skewness/kurtosis from exact DECIMAL(38,0) power sums
    Gate("q_skew_stats", (s, d) =>
      graft.ops.Stats.momentsByGroup(t(s, d, "events"), "event_type", "value"),
      // raw power sums in HUGEINT (== Spark's DECIMAL(38,0) at these
      // magnitudes); g1 = A/(B*sqrt(B)), g2 = C/B^2 - 3 — the fixed-point
      // scale cancels; only the final divide/sqrt runs in doubles
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
      // budget: 0.39 s warmed (r8).
      Some(Pin(0.51, 0.320))),
    // interval-weighted average level per user (TWAP)
    Gate("q_twap", (s, d) => Analytics.twap(t(s, d, "events")),
      // per-interval weights in exact micros, weighted sum in HUGEINT,
      // one double division; last observation carries no interval
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
      // budget: 0.65 s warmed.
      Some(Pin(0.85, 0.316))),
    // per-type median imputation over a deterministically dirtied value
    // column (testdata has no null values — dirt spelled identically in
    // the oracle CTE, the dirtyEvents precedent)
    Gate("q_impute", (s, d) =>
      graft.ops.Stats.imputeMedian(
        t(s, d, "events").withColumn("value",
          when(col("event_id") % 89 === 0, lit(null)).otherwise(col("value"))),
        "event_type", "value", idCols = Seq("event_id")),
      // median fill over the dirtied value column; all-null groups stay null
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
      // budget: 0.53 s warmed.
      Some(Pin(0.69, 0.299))),
    // composed robust-feature pipeline: Tukey winsorization feeding the
    // percent-rank transform — outliers clipped BEFORE ranking so the
    // rank grid is outlier-stable, chained exactly as a user would
    Gate("q_feature_pipeline", (s, d) => {
      val clipped = graft.ops.Stats.winsorize(t(s, d, "events"),
        "event_type", "value", idCols = Seq("event_id"))
        .select(col("event_id"), col("event_type"), col("clipped"))
      graft.ops.Stats.rankNormalize(clipped, "event_type", "clipped",
        idCols = Seq("event_id"))
    },
      // the winsorize CTE feeding the rank window — composed exactly as
      // the Spark pipeline chains the operators
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
      // budget: 0.96 s warmed.
      Some(Pin(1.25, 0.555))),
    // Welch's t between view and purchase event values (exact power sums)
    Gate("q_abtest", (s, d) =>
      graft.ops.Stats.welchT(t(s, d, "events"), "event_type", "value",
        "view", "purchase"),
      // means and variance numerators in HUGEINT; the t quotient and
      // Welch-Satterthwaite df in doubles, every step spelled as Spark
      // computes it
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
      // budget: 0.50 s warmed (r8).
      Some(Pin(0.65, 0.228))),
    // referential integrity: events.user_id -> customer.c_custkey over
    // a deterministically dirtied child (testdata FKs are clean, so the
    // dirt is spelled identically in the oracle CTE — docsWithUrl
    // precedent): every 97th event re-pointed at a missing parent,
    // every 101st nulled
    Gate("q_ref_orphans", (s, d) =>
      graft.quality.RefIntegrity.orphans(dirtyEvents(s, d),
        t(s, d, "customer"), "user_id", "c_custkey")
        .select(col("event_id"), col("user_id")),
      // anti-join orphan detection over the deterministically dirtied
      // child (dirt CTE spelled identically to the Spark helper)
      """WITH de AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 101 = 0 THEN NULL
        |         WHEN event_id % 97 = 0 THEN user_id + 1000000
        |         ELSE user_id END AS user_id
        |  FROM events)
        |SELECT event_id, user_id FROM de
        |WHERE user_id IS NOT NULL
        |  AND user_id NOT IN (SELECT c_custkey FROM customer)""".stripMargin,
      // budget: 0.61 s warmed (r8).
      Some(Pin(0.79, 0.285))),
    Gate("q_ref_integrity", (s, d) =>
      graft.quality.RefIntegrity.orphanSummary(dirtyEvents(s, d),
        t(s, d, "customer"), "user_id", "c_custkey"),
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
      // budget: 0.55 s warmed (r8).
      Some(Pin(0.72, 0.261))),
    // uniform-[0,1] rank transform per event type (ties share a rank)
    Gate("q_rank_normalize", (s, d) =>
      graft.ops.Stats.rankNormalize(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id")),
      // percent_rank is (rank-1)/(n-1) in both engines; ties share a rank
      """SELECT event_id, event_type, value,
        |  round(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY value ASC), 6) AS rank_norm
        |FROM events WHERE value IS NOT NULL""".stripMargin,
      // budget: 0.52 s warmed (r8).
      Some(Pin(0.68, 0.321))),
    // FD discovery: customers whose orders span >1 priority
    Gate("q_fd_violations", (s, d) =>
      graft.ops.Stats.fdViolations(t(s, d, "orders"), Seq("o_custkey"),
        "o_orderpriority"),
      // null rhs counts as its own class (count(DISTINCT) skips nulls,
      // add the null class back via max(isnull))
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) +
        |    max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_distinct_rhs
        |FROM orders GROUP BY 1
        |HAVING count(DISTINCT o_orderpriority) +
        |  max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) > 1""".stripMargin,
      // benched: dependency/key profiling (the contract-drafting discovery
      // pass).
      // budget: 0.51 s warmed (r8).
      Some(Pin(0.66, 0.317))),
    // candidate-key uniqueness profile over orders columns
    Gate("q_key_profile", (s, d) =>
      graft.ops.Stats.keyProfile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus")),
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
      // budget: 0.46 s warmed (r8).
      Some(Pin(0.60, 0.315))),
    // typed JSON payload extraction (from_json, malformed -> flagged null)
    Gate("q_json_extract", (s, d) => graft.ops.JsonOps.extractProps(t(s, d, "events")),
      // json_extract over TRY_CAST-validated payloads == try_parse_json's
      // null-on-unparseable contract (any well-formed JSON — object,
      // array, scalar, bare null — is valid in both engines); a parseable
      // object missing the key is valid with a null field in both
      """SELECT event_id, event_type,
        |  TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k,
        |  (TRY_CAST(props AS JSON) IS NOT NULL) AS valid_json
        |FROM events""".stripMargin,
      // benched: semi-structured payload path (from_json projection + the
      // JSON->aggregation pipeline).
      // budget: 0.71 s warmed (r8).
      Some(Pin(0.93, 0.548))),
    // JSON -> aggregation pipeline: payload distribution per type/bucket
    Gate("q_json_stats", (s, d) => graft.ops.JsonOps.propsStats(t(s, d, "events")),
      """WITH e AS (
        |  SELECT event_type,
        |    TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, k // 10 AS k_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct
        |FROM e WHERE k IS NOT NULL GROUP BY 1, 2""".stripMargin,
      // budget: 0.77 s warmed (r8).
      Some(Pin(1.01, 0.705))),
    Gate("q_asof_join", (s, d) => {
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
    },
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
        |  ON p.user_id = v.user_id AND v.view_ts <= p.purchase_ts""".stripMargin),
    Gate("q_asof_forward", (s, d) => {
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
    },
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
        |  ON p.user_id = v.user_id AND v.view_ts >= p.purchase_ts""".stripMargin),
    Gate("q_vocabulary", (s, d) => TextOps.vocabulary(t(s, d, "documents")),
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
        |FROM c""".stripMargin),
    Gate("q_vocab_coverage", (s, d) => TextOps.vocabCoverage(t(s, d, "documents")),
      // cum_share is the EXACT integer prefix frequency over the scalar
      // total (one double division at the end): the engine computes it
      // through a bounded top-K + triangular join (no window), the oracle
      // through DuckDB's ordered window — independent mechanisms, same
      // closed form, and no double-sum ordering ambiguity on either side
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
        |WHERE rank <= 20""".stripMargin),
    Gate("q_range_join", (s, d) => {
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
    },
      """WITH p AS (
        |  SELECT event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |i AS (
        |  SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS start_ts,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT view_id, purchase_id, view_ts, start_ts
        |FROM p JOIN i ON view_ts BETWEEN start_ts AND end_ts""".stripMargin),
    Gate("q_interval_join", (s, d) => {
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
    },
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
      Some(Pin(0.36, 0.279))),
    Gate("q_topk_groups", (s, d) => {
      val li = t(s, d, "lineitem")
      // line_id = orderkey*10+linenumber is unique (linenumber <= 7), so
      // the score-desc/id-asc tiebreak is total and engine-independent
      TopK.topKPerKey(
        li.select(col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          col("l_extendedprice")),
        "l_suppkey", "line_id", "l_extendedprice", 3)
    },
      """SELECT l_suppkey, line_id,
        |  CAST(rank AS BIGINT) AS "rank", l_extendedprice
        |FROM (
        |  SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS line_id,
        |    l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber ASC) AS rank
        |  FROM lineitem)
        |WHERE rank <= 3""".stripMargin,
      Some(Pin(1.16, 0.491, baseline = true))),
    Gate("q_rollup", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag").isNotNull && col("l_linestatus").isNotNull)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Gate("q_salted_join", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ord = t(s, d, "orders").select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      // the salt must be invisible in the result: same aggregate as the
      // plain-join oracle
      Skew.saltedJoin(li, ord, Seq("okey"), salts = 4)
        .groupBy(col("o_orderpriority"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),
    Gate("q_quantiles", (s, d) =>
      // quarter fractions only: their interpolation factors are exact
      // binary fractions, so Spark and the oracle agree bit-for-bit
      // (Stats scaladoc) — 0.9/0.99 would gate on last-ulp libm luck
      graft.ops.Stats.groupedQuantiles(
        t(s, d, "documents").withColumn("n_tokens", TextOps.tokenCount(col("text"))),
        Seq("source"), "n_tokens", Seq(0.25, 0.5, 0.75)),
      """WITH t AS (
        |  SELECT source, len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents)
        |SELECT source, CAST(count(n_tokens) AS BIGINT) AS n,
        |  CAST(min(n_tokens) AS BIGINT) AS min_v,
        |  CAST(max(n_tokens) AS BIGINT) AS max_v,
        |  round(quantile_cont(n_tokens, 0.25), 6) AS p25,
        |  round(quantile_cont(n_tokens, 0.5), 6) AS p50,
        |  round(quantile_cont(n_tokens, 0.75), 6) AS p75
        |FROM t GROUP BY 1""".stripMargin),
    // PSI of each source's length profile against the corpus (bin = 50 chars)
    Gate("q_psi", (s, d) =>
      graft.ops.Stats.psiByGroup(t(s, d, "documents"), "n_chars", "source",
        binWidth = 50),
      // PSI over fixed-width length bins; group share zero -> eps substitute,
      // 9dp terms decimal-summed (the vocab_drift determinism recipe)
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
        |FROM terms GROUP BY 1""".stripMargin),
    // per-group Pearson correlation from exact DECIMAL(38,0) power sums
    // (built-in corr is shuffle-order-nondeterministic in its last ulp)
    Gate("q_corr", (s, d) =>
      graft.ops.Stats.corrByGroup(t(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice"),
      // KL terms from exact integer counts: one double division inside the
      // ln (9 dp), term 9 dp, decimal sum per source, final 6 dp
      // Pearson corr from exact integer power sums: values fixed-pointed
      // at 2 decimals, HUGEINT sums/differences (== Spark's DECIMAL(38,0)
      // on these magnitudes), one double divide+sqrt rounded at 6
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
      // budget: 1.12 s warmed (r8).
      Some(Pin(1.45, 1.127))),
    // equi-width histogram of event values per type (bin = 25.0 units)
    Gate("q_histogram", (s, d) =>
      graft.ops.Stats.histogramByGroup(t(s, d, "events"), "event_type",
        "value", binWidth = 25.0),
      // floor(value / width) binning: division and floor are correctly
      // rounded IEEE ops, identical in any engine
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |gb AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT event_type, sum(n) AS n_g FROM gb GROUP BY 1)
        |SELECT gb.event_type, gb.bin, gb.n,
        |  round(CAST(gb.n AS DOUBLE) / g.n_g, 6) AS share
        |FROM gb JOIN g ON gb.event_type = g.event_type""".stripMargin,
      // budget: 0.45 s warmed (r8).
      Some(Pin(0.59, 0.241))),
    // robust MAD outliers: |v - med| > 3 * MAD per event type
    Gate("q_outliers", (s, d) =>
      graft.ops.Stats.madOutliers(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id")),
      // median and MAD rounded to 6dp BEFORE the gate (exact-quantile
      // interpolation differs across engines in the last ulp); the
      // comparison |v-med6| > 3*mad6 is then single correctly-rounded ops
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
      // budget: 0.80 s warmed (r8).
      Some(Pin(1.04, 0.542))),
    // Tukey-fence winsorization: clip into [p25-1.5*IQR, p75+1.5*IQR]
    Gate("q_winsorize", (s, d) =>
      graft.ops.Stats.winsorize(t(s, d, "events"), "event_type", "value",
        idCols = Seq("event_id")),
      // quarter quantiles round 6dp before the fence arithmetic; fences
      // and the clip are single correctly-rounded ops
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
      // budget: 0.57 s warmed (r8).
      Some(Pin(0.74, 0.469))),
    // CUBE subtotals with the standard GROUPING() bitmask
    Gate("q_cube", (s, d) => Analytics.cubeSummary(t(s, d, "lineitem")),
      // GROUPING(a, b) bitmask: first argument = most significant bit in
      // both engines (the SQL-standard encoding)
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
      // benched: the profiling/warehouse quartet: cube through one Expand +
      // one grid exchange; histogram/outliers/winsorize are groups-sized
      // aggregates broadcast back; scd2 is two per-key windows.
      // budget: 0.45 s warmed (r8), re-based TIGHTER (2.78 -> 0.59) after the
      // finest-level-grid rewrite (2.14 -> 0.45 local) so the 4.8x win cannot
      // silently regress.
      Some(Pin(0.59, 0.294))),
    // SCD type-2 history of each customer's order-status runs
    Gate("q_scd2", (s, d) =>
      Analytics.scd2(t(s, d, "orders"), "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"), col("valid_from"),
          col("valid_to"), col("version"), col("is_current")),
      // change points via null-safe lag inequality; valid_to/version over
      // one row per VERSION (the second window never sees the event stream)
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
      // budget: 0.65 s warmed (r8).
      Some(Pin(0.84, 0.387))),
    // KMV distinct-cardinality sketch: estimated distinct 3-shingles per
    // source from a 64-value buffer — bounded state (O(sources × 64)
    // longs through the exchange), engine-exact estimator (integral
    // division over the portable 60-bit hash; see Sketch scaladoc)
    Gate("q_distinct_kmv", (s, d) => {
      val docs = t(s, d, "documents")
      val sh = docs
        .select(col("source"), col("doc_id"),
          explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
        .select(col("source"),
          explode(array(NearDup.shinglesOf(col("toks")))).as("shs"))
        .select(col("source"), explode(col("shs")).as("shingle"))
      graft.ops.Sketch.distinctKmv(sh, "source", "shingle", k = 64)
    },
      // KMV sketch: the k=64 smallest distinct 60-bit hashes per source
      // re-derived exactly (same md5 bits, same HUGEINT integral division
      // as the Spark DECIMAL(38,0) `div`)
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
        |FROM a""".stripMargin),
    // mergeable min-k quantile sketch: per-source document-length
    // quantiles from a 16-row uniform hash sample — the one-pass
    // bounded-state alternative to sorting the corpus; k=16 < the ~25
    // docs per source even at sf0.01, so the buffer-FULL (estimating)
    // path is what the gate exercises at every scale
    Gate("q_quantile_sketch", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tlen", length(col("text")))
      graft.ops.Sketch.quantileEstimate(
        graft.ops.Sketch.quantileSketch(docs, "source", "doc_id", "tlen", k = 16))
        .withColumnRenamed("group", "source")
    },
      // the quantile-sketch oracle re-derives the whole pipeline: the
      // 60-bit md5 row hash (the h60/KMV convention), the min-16 sample
      // per source ((hash, value)-ordered — MinKPairs' tiebreak), and the
      // nearest-rank integer arithmetic (n·p + 99) // 100
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
      // benched: a corpus-wide bounded aggregation.
      // budget: 0.494 s warmed (r10).
      Some(Pin(0.64, 0.190))),
    // count-min heavy hitters: tokens whose d=2 × w=32 sketch estimate
    // reaches 1% of the stream — bounded counter state, deterministic
    // overestimates (collisions only promote, never hide, a hitter)
    Gate("q_heavy_hitters", (s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
          explode(array(split(TextOps.normText(col("text")), " "))).as("toks"))
        .select(explode(col("toks")).as("tok"))
      graft.ops.Sketch.heavyHitters(toks, "tok", d = 2, w = 32, minShare = 0.01)
    },
      // count-min: both hash rows' bucket counts re-derived, estimate =
      // min over rows, threshold = ceil of the share of the stream total
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
        |WHERE est_count >= ceil(0.01 * (SELECT count(*) FROM tok))""".stripMargin),
    // Z-order (Morton) clustering key: 16-bit quantization against the
    // observed min/max + stride-2 bit interleave — exact integer
    // arithmetic end to end (see Layout scaladoc); LayoutSpec pins the
    // row-group-skipping effect of writing in this order
    Gate("q_zorder", (s, d) =>
      graft.ops.Layout.withZValue(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), bits = 16),
      // z-order: quantization via HUGEINT floor division (equal to the
      // Spark DECIMAL `div` on these non-negative quantities), interleave
      // as the same 32-term shift/mask sum
      zorderSql),
    // the layout machinery end to end: z-ordered write → per-file stats
    // manifest → manifest-pruned read → row filter. The gate pins the
    // skipping CORRECTNESS contract (pruned + filter ≡ full scan +
    // filter, whatever Spark's file assignment did); the skipping
    // EFFECT (files actually dropped) is pinned in LayoutSpec
    // not benched: its cost is the 6M-row z-ordered write, a layout build,
    // not a query.
    Gate("q_skipping_scan", (s, d) => {
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
    },
      // skipping never changes results: the pruned scan + filter must
      // equal the plain filter over the source table
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300
        |  AND l_suppkey BETWEEN 10 AND 60""".stripMargin),
    Gate("q_hotcold_join", (s, d) => {
      // two-path skew join (hot keys broadcast, cold tail shuffles) must
      // be aggregate-identical to the plain join it replaces
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ord = t(s, d, "orders").select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      Skew.hotColdJoin(li, ord, Seq("okey"), hotThreshold = 5)
        .groupBy(col("o_orderpriority"))
        .agg(Analytics.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin)
  )
}
