package graft
package gates

import graft.ops.{HashMode, MediaDecode, MediaTransform, Multimodal, NearDup, UrlOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Crawl and media ingest: URL and domain curation, robots and sitemaps,
  * WARC/WET/WAT records, link extraction, and image, audio and video
  * decode, transforms and perceptual hashes. */
object WebMediaGates {

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

  val gates: Seq[Gate] = Seq(
    // the WAT link-graph seam (r15): envelope outlinks exploded
    // (WetOps.watLinks), hosts parsed by the gated URL decomposition,
    // per-target-host in-link degree — how real pipelines build the
    // web graph without parsing HTML
    Gate("q_wat_links", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      val links = graft.ops.WetOps.watLinks(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.watPayloads(s, ids)))
      graft.ops.UrlOps.parseUrls(links.withColumn("url", col("link")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
    },
      // the WAT link-graph seam: per-target-host in-link degree
      // recomputed relationally from the fixture formulas (k <
      // (doc+j)%3 links per well-formed envelope, target host
      // l{k}.example; the (doc+j)%5=3 damaged class contributes nothing)
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
        |FROM lk GROUP BY 1""".stripMargin),
    Gate("q_multimodal_meta", (s, d) => Multimodal.extractMeta(t(s, d, "documents")),
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) % 3 = 0 THEN 'image'
        |       WHEN octet_length(CAST(text AS BLOB)) % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) % 1280 + 64 AS BIGINT) AS width,
        |  CAST((octet_length(CAST(text AS BLOB)) * 7) % 720 + 64 AS BIGINT) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) % 30 + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin),
    // VIDEO container probing (MP4/ISO-BMFF + WebM/Matroska): header-only
    // — box/EBML walks are fully-specified byte arithmetic, so dims,
    // duration, and codec id are deterministic and oracle-recomputable
    // from the closed-form fixture formulas without any codec library
    // (training corpora increasingly carry video; the metadata pass is
    // what a curation pipeline filters on before paying for decode).
    // Bounded fixture (doc_id < 120), O(1) in sf; even ids MP4, odd WebM.
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_video_meta", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.MediaProbe.probeMeta(s,
        graft.ops.MediaProbe.videoPayloads(s, ids))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("codec"))
    },
      // the video-probe oracle recomputes dims/duration/codec from the
      // fixture formulas alone — the container assembly (box sizes, EBML
      // varints, 16.16 fixed point, float64 Duration x TimecodeScale) is
      // what the probe must parse back correctly to match
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
        |FROM documents WHERE doc_id < 120""".stripMargin),
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
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_video_dhash", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.MediaTransform.videoDhash(s,
        graft.ops.MediaProbe.videoPayloads(s, ids))
    },
      // video-hash oracle: the q_audio_dhash recipe over the media-payload
      // byte formula — lanes i%4, grid (i*17) div len, exact Σv² with
      // empty slots coalesced to 0, strict next-slot comparison, bit 63
      // via the two's-complement weight
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
        |FROM bits GROUP BY doc_id""".stripMargin),
    // WARC crawl-container ingest (the q_video_meta recipe on ISO 28500
    // framing): synthetic WARC files — gzip member-per-record on even
    // ids, plain on odd — with every record field a closed-form function
    // of (doc_id, response ordinal), parsed back by the byte-walk and
    // COMPOSED with the crawl pipeline's next steps (parseUrls on the
    // target URI, extractLinks on the html payloads). The oracle
    // recomputes all of it from the formulas: record framing, the gzip
    // walk, HTTP envelope fields, URL decomposition, and link
    // extraction are all on the hook. Bounded fixture (doc_id<120).
    Gate("q_warc_records", (s, d) => {
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
    },
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
        |FROM recs""".stripMargin),
    // the FILE reader itself on the oracle hook: the synthetic WARC
    // fixtures are written to gate scratch as real files (gzip members
    // on even ids, plain on odd — same bytes as q_warc_records's
    // in-memory frame), read back through the production binaryFile
    // entry (readWarc: scan → per-file byte-walk), the doc id
    // re-derived from the file PATH. Any divergence between the disk
    // path and the in-memory path — glob, content sniff, per-file
    // framing — mismatches rows the q_warc_records formulas pin.
    Gate("q_warc_files", (s, d) => {
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
    },
      // the WARC oracle rebuilds every record field from the fixture
      // formulas alone — one row per (doc, response ordinal), ordinals
      // 0..doc%3 — never from bytes: the framing walk, gzip members, the
      // HTTP envelope, URL parsing, and link extraction must all agree
      // with a plain arithmetic recompute
      // file-reader oracle: the response-record formulas of
      // q_warc_records (the same fixture bytes, now round-tripped through
      // disk and the binaryFile scan), envelope fields only
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
        |FROM recs""".stripMargin),
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
    Gate("q_warc_fetch", (s, d) => {
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
    },
      // random-access fetch oracle: the prefix lookup selects exactly the
      // doc_id % 7 == 3 host class, and each fetched record's envelope +
      // declared-charset body must equal the q_warc_records formulas for
      // that class — the offsets, member seeks, and one-record parses are
      // all on the hook because ANY mis-anchored fetch parses a different
      // (or no) record
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
        |FROM recs""".stripMargin),
    // the CDX lookup projection (web-archive index rows): SURT urlkey
    // over the fixture URIs — host labels reversed, the prefix-scan
    // property — plus capture time, status and the random-access
    // anchor columns; the oracle recomputes urlkey/date/status from
    // the fixture formulas (rec_offset is spec-pinned byte arithmetic,
    // deliberately outside the SQL oracle).
    Gate("q_warc_cdx", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.cdx(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WarcOps.warcPayloads(s, ids)))
        .select(col("doc_id"), col("rec_index"), col("urlkey"),
          col("warc_date"), col("http_status"), col("payload_digest"))
    },
      // CDX oracle: the SURT key from the fixture URI formulas —
      // site{K}.example reverses to example,site{K} — responses only
      // (the warcinfo record carries no URI), rec_index offset by the
      // leading warcinfo record
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
        |FROM recs""".stripMargin),
    // revisit resolution (ISO 28500 §6.7.2 — the digest-keyed dedup
    // mechanism Common-Crawl-style crawls ship): every doc's response
    // record shares its WARC-Payload-Digest with the doc%10 residue
    // class, so the canonical original is the LOWEST doc of the class;
    // each file carries one resolvable revisit and one whose digest no
    // response carries (orig nulls — the un-ingested-shard posture).
    Gate("q_warc_revisit", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.resolveRevisits(
        graft.ops.WarcOps.parseWarc(s,
          graft.ops.WarcOps.warcRevisitPayloads(s, ids)))
    },
      // revisit oracle: the canonical original of each digest class is
      // MIN(doc_id) over the doc%10 residue (computed relationally, not
      // assumed from the id range); the missing-digest class resolves to
      // nulls on both orig columns
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
        |) rows""".stripMargin),
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
    Gate("q_warc_meta_charset", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WarcOps.parseWarc(s,
          graft.ops.WarcOps.warcMetaPayloads(s, ids))
        .select(col("doc_id"), col("rec_index"), col("charset"),
          col("payload_text"))
    },
      // meta-charset oracle: the five response classes enumerated with
      // their intended characters — chr(233) é on the sniffed latin-1,
      // header-utf-8, decoy and header-less rows, chr(8220) U+201C on the
      // cp1252 http-equiv row; charset carries the HEADER declaration
      // only (null when the page relied on its meta), so a sniff that
      // leaked into the column, a decode that ignored the sniff, or a
      // flat-regex scan that fell for the og:url decoy (big5) all
      // hash-mismatch their rows
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
        |) rows""".stripMargin),
    // WET companion format (r15): conversion records over the SAME
    // ISO 28500 byte-walk — synthetic WET files (gzip member-per-record
    // on even ids, plain on odd) with every field closed-form; the
    // projection is the exact (doc_id, text) shape the cleaning chain
    // consumes. rec_index re-based to the conversion ordinal (the
    // warcinfo record holds ordinal 0 — the q_warc_records discipline).
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf; the
    // byte-walk throughput is WARC's, carried by ScaleBudget's warc_ingest.
    Gate("q_wet_records", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WetOps.parseWet(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.wetPayloads(s, ids)))
        .withColumn("rec_index", col("rec_index") - 1)
    },
      // WET oracle: every conversion-record field recomputed from the
      // closed-form formulas (URI/date reuse the WARC fixture spellings;
      // the (doc+j)%4=3 class is the empty extraction) — the framing, the
      // gzip walk and the UTF-8 decode are what the engine must get right
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
        |FROM rows""".stripMargin),
    // WAT companion format (r15): metadata records' JSON envelopes
    // through the declared schema — title/link extraction on the hook,
    // plus the malformed-envelope class pinned to null fields
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf; the
    // byte-walk throughput is WARC's, carried by ScaleBudget's warc_ingest.
    Gate("q_wat_records", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      graft.ops.WetOps.parseWat(
        graft.ops.WarcOps.parseWarc(s, graft.ops.WetOps.watPayloads(s, ids)))
        .withColumn("rec_index", col("rec_index") - 1)
    },
      // WAT oracle: the extracted envelope fields recomputed from the
      // formulas — title T{doc}-{j}, (doc+j)%3 links with l0 first, and
      // the (doc+j)%5=3 DAMAGED-JSON class pinned to null fields/0 links
      // (the malformed-total contract on the hook, never a throw)
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
        |FROM recs""".stripMargin),
    // REAL pixel/sample decode: payloads synthesized from a closed-form
    // modular formula through the actual JDK codecs (PNG/BMP via
    // javax.imageio, PCM WAV via javax.sound), decoded back and reduced
    // to per-channel stats; the oracle recomputes the stats from the
    // formula alone — encoder plumbing, decoder, channel order, and
    // endianness are all on the hook. Bounded fixture set (doc_id<120)
    // keeps the gate O(1) at any sf.
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_multimodal_decode", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaDecode.decodeStats(s, MediaDecode.syntheticPayloads(s, ids))
    },
      // the decode oracle never touches bytes: it re-derives every pixel
      // and PCM sample from the same closed-form modular formula the
      // Spark side ENCODES through the real JDK codecs and decodes back —
      // an independent recomputation of what the codec round-trip must
      // reproduce bit-exactly (lossless formats only, by design)
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
        |FROM allv GROUP BY 1, 2, 3""".stripMargin),
    // nearest-neighbor resize, gated PER OUTPUT PIXEL: every resized
    // value must equal pixelValue(doc, c, (x*w)/outW, (y*h)/outH) — the
    // floor mapping in exact integer arithmetic, so the oracle names the
    // exact source pixel each output position samples. WAV rows in the
    // same fixture set exercise the non-image marker path.
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_image_resize", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaTransform.resizePixels(
        s, MediaDecode.syntheticPayloads(s, ids), outW = 6, outH = 4)
    },
      // the resize oracle names the exact source pixel each output
      // position samples: nearest-neighbor floor mapping
      // src = (dst * srcDim) // outDim in integer arithmetic, value from
      // the same closed-form formula the Spark side ENCODED through the
      // real JDK codecs — decoder, mapping, and channel order all on the
      // hook per pixel (a stronger gate than the stats-level decode one)
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
        |FROM d WHERE doc_id % 3 = 1""".stripMargin),
    // perceptual image hash: 9x8 nearest-neighbor grid, integer ITU-R
    // 601 luma, strict right-neighbour-brighter bits — every one of the
    // 64 bits recomputed by the oracle from the fixture formula; WAV
    // rows gate the null-marker path. Feed the hashes to the simhash
    // Hamming banding for corpus-scale perceptual dedup.
    Gate("q_image_dhash", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      // the WAVY pixel formula (strides 97/131 wrap the byte ring):
      // the stride-7 ramp is monotone within a row, which would reduce
      // every difference bit to "did the grid column advance" — a
      // dims-only hash and a nearly vacuous gate
      MediaTransform.dhash(s, MediaDecode.syntheticPayloads(
        s, ids, img = MediaDecode.syntheticImageWavy))
    },
      // the dHash oracle recomputes all 64 difference bits from the
      // fixture formula: the 9x8 grid via the same integer floor mapping,
      // the integer luma, the strict > comparison, and the two's-
      // complement packing (bit 63's weight spelled as -2^63 so the sum
      // stays BIGINT-exact; power(2, i) for i <= 62 is a power of two —
      // exactly representable in a double, so the CAST is lossless)
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
        |FROM d WHERE doc_id % 3 = 1""".stripMargin),
    // perceptual near-dup END TO END: dHash fingerprints through the
    // SAME pigeonhole Hamming banding as text simhash (hammingPairs —
    // one engine, any 64-bit fingerprint). Fixture: per image doc a
    // cross-CODEC duplicate (bmp of the same pixels — must pair at
    // Hamming 0) and a one-pixel-perturbed near-duplicate (distance
    // formula-determined, oracle-recomputed). Banding is recall-
    // lossless, so the oracle's brute-force bit_count(xor) filter IS
    // the semantics.
    Gate("q_dedup_perceptual", (s, d) => {
      val ids = t(s, d, "documents")
        .filter(col("doc_id") < 60 && col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      NearDup.hammingPairs(
        MediaTransform.dhash(s, MediaDecode.perceptualPayloads(s, ids)),
        maxHamming = 8, hashCol = "dhash")
    }, perceptualSql),
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
    Gate("q_dedup_perceptual_probe", (s, d) => {
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
    }, perceptualProbeSql),
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
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_jpeg_decode", (s, d) => {
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
    },
      // the JPEG oracle checks the INVARIANT CONTRACT, never pixel
      // values (IDCT-implementation variance): n recomputed from the
      // closed-form jpegDims — the one value-exact fact about a decoded
      // JPEG — and the Spark-side tolerance/determinism/perceptual-hash
      // booleans must all come back TRUE
      """SELECT doc_id, 'jpeg' AS format,
        |  CAST((24 + (doc_id % 5) * 8) * (16 + (doc_id % 3) * 8) AS BIGINT) AS n,
        |  true AS mean_ok, true AS det_ok, true AS hash_ok
        |FROM documents WHERE doc_id < 120""".stripMargin),
    // audio energy-contour hash (the dHash audio twin): 17-slot floor-
    // mapped time grid, per-(channel, slot) exact Σv² energy, strict
    // louder-than bits folded across channels — every bit recomputed by
    // the oracle; empty grid slots (nFrames < 17) pin the zero-energy
    // convention; PNG/BMP rows gate the null-marker path
    Gate("q_audio_dhash", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      // the WAVY fixture formula (stride 4409 wraps the 16-bit ring):
      // the stride-7 ramp is monotone over these short clips, so every
      // energy comparison would degenerate to 0 and the gate would be
      // vacuous — slot energies must genuinely rise and fall
      MediaTransform.audioDhash(s, MediaDecode.syntheticPayloads(
        s, ids, wav = MediaDecode.syntheticWavWavy))
    },
      // the audio-hash oracle recomputes the 17-slot grid (floor mapping
      // (f*17) // nfr), the exact Σv² energies over the WAVY sample
      // formula (stride 4409 — non-monotone energies, so bits genuinely
      // vary) — empty slots coalesced to 0, the convention the operator's
      // zero-initialised array gives — the strict louder-than bits, and
      // the same two's-complement packing as the image dHash oracle
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
        |FROM d WHERE doc_id % 3 <> 1""".stripMargin),
    // fixed-window PCM frame-sampling with exact Long Σv / Σv² energy
    // stats per (channel, window); nFrames 16..32 against frameWin=8
    // exercises full AND partial trailing windows; PNG/BMP rows in the
    // fixture set exercise the non-audio marker path.
    // not benched: a bounded fixture (doc_id < 120), O(1) in sf — a
    // constant-work smoke, not a throughput signal.
    Gate("q_audio_frames", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      MediaTransform.frameStats(
        s, MediaDecode.syntheticPayloads(s, ids), frameWin = 8)
    },
      // frame-sampling oracle: window index f // 8 over the closed-form
      // PCM samples, exact integer Σv / Σv² / min / max per (channel,
      // window) — full and partial trailing windows both re-derived
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
        |FROM d WHERE doc_id % 3 <> 1""".stripMargin),
    // testdata has no URL column, so the gated queries parse a synthetic
    // url derived from (doc_id, source) — see docsWithUrl; the operators
    // themselves are generic over any url column
    Gate("q_url_parse", (s, d) =>
      UrlOps.parseUrls(docsWithUrl(s, d))
        .select(col("doc_id"), col("scheme"), col("host"), col("port"),
          col("path"), col("query"), col("domain")),
      s"""$urlCte
        |SELECT doc_id, scheme, host, port, path, "query",
        |  $domainSql AS domain
        |FROM p""".stripMargin),
    Gate("q_domain_cap", (s, d) =>
      UrlOps.capPerDomain(docsWithUrl(s, d), cap = 3)
        .select(col("doc_id"), col("source")),
      s"""$urlCte
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source, $domainSql AS domain FROM p)
        |QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id ASC) <= 3""".stripMargin),
    Gate("q_domain_blocklist", (s, d) =>
      UrlOps.dropBlockedDomains(docsWithUrl(s, d),
        Seq("src3.com", "src7.co.uk"))
        .select(col("doc_id"), col("source"), col("lang")),
      s"""$urlCte
        |SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang, $domainSql AS domain FROM p)
        |WHERE domain NOT IN ('src3.com', 'src7.co.uk')""".stripMargin),
    Gate("q_domain_stats", (s, d) => UrlOps.domainMix(docsWithUrl(s, d)),
      s"""$urlCte
        |SELECT domain, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM (
        |    SELECT count(*) AS n_docs FROM (
        |      SELECT $domainSql AS domain FROM p) GROUP BY domain)), 6) AS share
        |FROM (
        |  SELECT domain, count(*) AS n_docs FROM (
        |    SELECT $domainSql AS domain FROM p) GROUP BY domain)""".stripMargin),
    Gate("q_url_dedup", (s, d) => UrlOps.dedupUrls(docsWithUrl(s, d)),
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
        |GROUP BY url_canon""".stripMargin),
    // crawl-graph link extraction: anchors injected on doc_id % 9 == 0
    // (the corpus carries no '<') — a double-quoted href, a
    // single-quoted href on a decorated tag, an UNQUOTED href (valid
    // HTML, the third value style), and an href-LESS anchor that must
    // occupy link_pos 3 without emitting a row; composed with parseUrls
    // so host + registrable domain gate end to end
    Gate("q_extract_links", (s, d) =>
      UrlOps.parseUrls(UrlOps.extractLinks(docsWithAnchors(s, d)), "href")
        .select(col("doc_id"), col("link_pos"), col("href"),
          col("host"), col("domain")),
      // link-extraction oracle: the SAME shared tag/href pattern constants
      // (ControlClass convention; single quotes doubled for the SQL
      // literal), unnest+subscripts for tag position, CASE-coalesced
      // double/single/unquoted href, then the urlCte host derivation and
      // domainSql over the extracted hrefs (CTE chain shared with the
      // composed q_link_rank oracle)
      s"""WITH $linkCtes
        |SELECT doc_id, link_pos, href, host, $domainSql AS domain
        |FROM lnk""".stripMargin,
      // benched: the crawl-graph link extraction is a corpus-wide projection.
      // budget: 0.360 s warmed (r10).
      Some(Pin(0.47, 0.141))),
    // robots.txt ingestion (RFC 9309): closed-form robots documents —
    // comment lines, an orphan rule before any group (ignored per
    // spec), key case varying by doc, a two-ua RUN sharing one group,
    // colon-carrying sitemap values — parsed to directive rows. The
    // oracle enumerates the expected rows from the formulas (group
    // numbers KNOWN by construction), never re-parsing text.
    Gate("q_robots_rules", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      UrlOps.parseRobots(ids.select(col("doc_id"), robotsFixtureText.as("text")))
    },
      // robots oracle: the expected directive rows ENUMERATED from the
      // fixture formulas (group numbers known by construction — the
      // orphan rule, the comment and the case-varied keys never surface),
      // not re-parsed from text
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
        |) rows""".stripMargin),
    // the permission join over the parsed rules: agent "bot1" owns a
    // group on doc_id%4==1 hosts (deny-all there — own group outranks
    // *), every other host falls to the * group where the longest
    // prefix decides (/privateK/ blocks, the longer /privateK/public
    // allow overrides, unmatched paths pass).
    Gate("q_robots_filter", (s, d) => {
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
    },
      // permission oracle: doc_id%4==1 hosts own a bot1 group (deny-all —
      // own group outranks *); everywhere else the * group's longest
      // prefix decides: j=0 /privateK/x blocked by /privateK/, j=1 the
      // longer allow overrides, j=2 and j=3 match nothing
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
        |FROM u""".stripMargin),
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
    Gate("q_crawl_frontier", (s, d) => {
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
    },
      // frontier oracle: the linkCtes href chain → canonical (scheme +
      // host + query-stripped path) → min-id survivorship per canonical →
      // the org class blocked by its /q disallow, com (no robots) and net
      // (delay 2) pass → slots by url order within host
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
        |FROM allowed""".stripMargin),
    // §2.2.3 wildcard matching (the optional-in-RFC, ubiquitous-in-
    // practice rule syntax): `*` spans any sequence, trailing `$`
    // anchors at the path end, longest rule still decides with allow
    // winning ties. Verdicts are closed-form: j=0 hits the bare `/dK*`
    // disallow, j=1 the longer `/dK*/keep` allow overrides, j=2 the
    // `$`-anchored disallow, j=3 escapes the anchor by one char.
    Gate("q_robots_wildcard", (s, d) => {
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
    },
      // wildcard oracle: the four verdict classes by construction — only
      // the longer-allow (j=1) and anchor-escaping (j=3) paths pass
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
        |FROM u""".stripMargin),
    // sitemap XML ingestion (sitemaps.org 0.9): the frontier source the
    // robots sitemap records point at — urlset AND sitemapindex shapes,
    // loc trimming + entity unescape, optional-field nulls, loc-less
    // entries holding their position, non-numeric priority degrading to
    // null. The oracle enumerates the rows from the fixture formulas.
    Gate("q_sitemap_urls", (s, d) => {
      val ids = t(s, d, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"))
      UrlOps.parseSitemap(
        ids.select(col("doc_id"), sitemapFixtureText.as("text")))
    },
      // sitemap oracle: the rows enumerated from the fixture formulas —
      // even docs contribute urlset entries 0 and 2 (entry 1 is loc-less
      // and provably absent, yet entry 2 keeps ordinal 2), odd docs the
      // two sitemapindex entries; escapes pre-unescaped by construction
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
        |) rows""".stripMargin),
    // the robots→sitemap DISCOVERY seam: the sitemap records parseRobots
    // emits are consumed — each pointer "fetched" (one synthetic urlset
    // per distinct sitemap URL, its entries closed-form functions of
    // the URL's site ordinal), parsed by parseSitemap keyed on the URL
    // string, and joined back to the pointing documents. The oracle
    // enumerates every (doc, pointer, entry) row from the formulas.
    Gate("q_sitemap_frontier", (s, d) => {
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
    },
      // discovery oracle: every doc points at the site{doc%7} sitemap,
      // whose two urlset entries are p{K}/q{K} formulas of the same
      // ordinal — enumerated directly, never re-parsing XML
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |e AS (SELECT unnest(range(2)) AS i)
        |SELECT doc_id,
        |  'http://site' || (doc_id % 7) || '.example/sitemap.xml'
        |    AS sitemap_url,
        |  CAST(e.i AS BIGINT) AS entry_pos,
        |  'http://site' || (doc_id % 7) || '.example/' ||
        |    (CASE e.i WHEN 0 THEN 'p' ELSE 'q' END) || (doc_id % 7) AS loc
        |FROM d CROSS JOIN e""".stripMargin),
    // per-host politeness dispatch over the robots rules: slots in
    // url_id order within each host, offset = slot × crawl-delay, the
    // agent's own group's delay outranking * (doc%4==1 hosts carry a
    // bot1 group with delay doc%7+1; everywhere else the * group has no
    // delay line, so defaultDelay applies).
    Gate("q_crawl_schedule", (s, d) => {
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
    },
      // schedule oracle: slot = the within-host url ordinal j by
      // construction; delay = doc%7+1 on the bot1-owning hosts (their own
      // group carries the crawl-delay line), defaultDelay 1.0 everywhere
      // else (the * group has no delay); offset = slot × delay
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
        |FROM u""".stripMargin),
    // the COMPOSED crawl-graph pipeline, gated end to end: markup →
    // links (extractLinks) → URL layer (parseUrls registrable domains,
    // for the page url AND every link) → (page domain → link domain)
    // edge list → integer fixed-point PageRank over the domain graph —
    // the link-spam/authority score a crawl-curation pass weights
    // domains by. Domain nodes enter the numeric graph engine via the
    // portable 60-bit hash (the oracle recomputes it), names joined
    // back at the end.
    Gate("q_link_rank", (s, d) => {
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
    },
      // the COMPOSED crawl-graph oracle: anchors → hrefs → registrable
      // domains (the linkCtes chain), the synthetic per-page url's domain
      // (the urlCte derivation inlined as pgh/pgd), the distinct
      // (page domain → link domain) edge list hashed into the portable
      // 60-bit node space, and the SAME integer PageRank iteration CTEs
      // as q_pagerank (pagerankIterCtes — one recurrence, two oracles),
      // names joined back at the end
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
        |FROM pr3 JOIN nm ON pr3.node = nm.node""".stripMargin)
  )
}
