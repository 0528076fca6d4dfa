package graft.ops

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC crawl-container ingest — the one step BEFORE the ingest-cleaning
  * chain a real crawl pipeline needs: split raw WARC files (ISO 28500,
  * the format Common Crawl and every archival crawler emit) into one row
  * per record with the fields the downstream curation operators key on:
  * `(target URI, HTTP status, content type, payload)` feeding
  * [[UrlOps.parseUrls]] / [[UrlOps.extractLinks]] /
  * [[graft.stream.StreamCurate]].
  *
  * The [[MediaProbe]] posture throughout: fully-specified byte
  * arithmetic against the PUBLIC spec (WARC/1.0-1.1 record grammar:
  * version line, CRLF-folded named headers, `Content-Length`-framed
  * block, `\r\n\r\n` record separator; RFC 9112 for the HTTP response
  * envelope inside `application/http` blocks), no parsing library, and
  * TOTAL on garbage — a malformed or truncated file yields the records
  * parsed so far and stops, never a throw, because at crawl scale some
  * shard is always damaged.
  *
  * Both physical shapes parse identically: plain `.warc`, and `.warc.gz`
  * with the conventional one-gzip-member-per-record layout (any member
  * split works — the JDK inflater walks concatenated members). Scale
  * shape: the parse is a per-row `mapPartitions` projection — each WARC
  * file expands to its records with no shuffle, no driver involvement,
  * and memory bounded by one file (the input already arrives as an
  * in-memory binary column; payload slices are copies, headers are not
  * retained). */
object WarcOps {

  /** One parsed record. HTTP fields are null for non-`application/http`
    * blocks (warcinfo, metadata, resource records); `payload` is the
    * HTTP message body BYTES for http blocks, the raw block otherwise;
    * `charset` is the Content-Type's declared charset parameter
    * (lowercased, null when absent); `payload_text` is the body decoded
    * under that charset (UTF-8 when absent/unknown/unsupported,
    * malformed sequences replaced — decode is TOTAL like the rest of
    * the parse) for TEXT-SHAPED content types only (the `text/` prefix,
    * json/xml/javascript families, and spec-text non-http blocks) —
    * image/video/binary bodies keep `payload_text` null rather than
    * carrying a payload-sized replacement-char String through every
    * downstream exchange. The decode seam matters: a crawl corpus is full of
    * latin-1/cp1252 pages, and decoding them as UTF-8 is exactly the
    * mojibake [[TextOps.fixMojibake]] exists to repair — honoring the
    * declared charset up front keeps repair for the pages that LIED. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("rec_index", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("http_status", LongType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("charset", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("payload_text", StringType, nullable = true),
    StructField("payload_digest", StringType, nullable = true),
    StructField("rec_offset", LongType, nullable = false)))

  /** Declared charset → JDK charset, total: absent, unknown, or
    * JVM-unsupported names all fall back to UTF-8 (whose String decode
    * replaces malformed input rather than throwing). */
  private[ops] def resolveCharset(declared: Option[String]): java.nio.charset.Charset =
    declared.flatMap { name =>
      try {
        val n = name.trim
        if (n.nonEmpty && java.nio.charset.Charset.isSupported(n))
          Some(java.nio.charset.Charset.forName(n))
        else None
      } catch { case _: Exception => None } // illegal charset NAME syntax
    }.getOrElse(java.nio.charset.StandardCharsets.UTF_8)

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Media type sans parameters, total: `"; charset=x"` and the damaged
    * `";"` both yield their (possibly empty) main type — Java's
    * `";".split(";")` returns an EMPTY array (trailing empties
    * stripped), so a bare `(0)` index would crash the parse on one
    * damaged header. */
  private def mainType(ct: String): String =
    ct.takeWhile(_ != ';').trim.toLowerCase

  /** Index of the next CRLF at or after `from`, or -1. */
  private def findCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Header lines from `from` until the blank CRLF line: lowercased
    * name -> raw value. Returns (headers, offsetPastBlankLine), or None
    * on a structural violation (no blank line before EOF, a line
    * without a colon). WARC header names are case-insensitive
    * (ISO 28500 §4); values are trimmed. Obsolete line folding
    * (continuation lines starting with SP/HT) is folded into the
    * previous value, per the grammar both WARC and HTTP/1.1 inherit. */
  private def parseHeaders(b: Array[Byte], from: Int)
      : Option[(Map[String, String], Int)] = {
    var pos = from
    var last: String = null
    val out = scala.collection.mutable.Map.empty[String, String]
    while (true) {
      val eol = findCrlf(b, pos)
      if (eol < 0) return None
      if (eol == pos) return Some((out.toMap, eol + 2)) // blank line
      val line = new String(b, pos, eol - pos, "UTF-8")
      if (line.head == ' ' || line.head == '\t') {
        if (last == null) return None
        out(last) = out(last) + " " + line.trim
      } else {
        val colon = line.indexOf(':')
        if (colon <= 0) return None
        last = line.substring(0, colon).trim.toLowerCase
        out(last) = line.substring(colon + 1).trim
      }
      pos = eol + 2
    }
    None // unreachable
  }

  /** Parse the HTTP response envelope inside an `application/http`
    * block: (status, content-type-sans-parameters, declared charset,
    * body). None when the block is not a parseable HTTP message — the
    * record still surfaces, with the raw block as payload. */
  private def parseHttp(block: Array[Byte])
      : Option[(Long, Option[String], Option[String], Array[Byte])] = {
    val eol = findCrlf(block, 0)
    if (eol < 0) return None
    val statusLine = new String(block, 0, eol, "UTF-8")
    if (!statusLine.startsWith("HTTP/")) return None
    val parts = statusLine.split(" ", 3)
    // status is 3 digits per RFC 9112; tolerate a few more but bound the
    // run so a hostile all-digit blob cannot overflow toLong into a
    // throw (total-on-garbage holds even inside the http sub-parse)
    if (parts.length < 2 || !parts(1).forall(_.isDigit) ||
        parts(1).isEmpty || parts(1).length > 9)
      return None
    parseHeaders(block, eol + 2).map { case (hs, bodyAt) =>
      val ctRaw = hs.get("content-type")
      val ct = ctRaw.map(mainType)
      // charset parameter (RFC 9110 §8.3): `; charset=utf-8` — name
      // case-insensitive, and the legacy-server forms the crawl actually
      // contains are tolerated: whitespace around '=', single OR double
      // quotes around the value (a missed parse here silently decodes
      // latin-1 pages as UTF-8 mojibake, the exact failure this closes)
      val cs = ctRaw.flatMap(_.split(";").drop(1)
        .map(_.split("=", 2)).collectFirst {
          case Array(k, v) if k.trim.equalsIgnoreCase("charset") =>
            val t = v.trim
            val unq =
              if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
                  (t.head == '\'' && t.last == '\'')))
                t.substring(1, t.length - 1)
              else t
            unq.trim.toLowerCase
        }.filter(_.nonEmpty))
      (parts(1).toLong, ct, cs,
        java.util.Arrays.copyOfRange(block, bodyAt, block.length))
    }
  }

  private def isHtmlWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Attributes of one tag body (the text between `<meta` and `>`), by
    * a linear WHATWG-style scan — names lowercased, values unquoted;
    * valueless attributes map to "". A scanner, not a regex, because
    * attribute-NAME position is what distinguishes a real `charset`
    * attribute from the string `charset=` INSIDE another attribute's
    * value (og:url query strings, content descriptions) — the spurious
    * match a flat pattern cannot avoid. First occurrence of a name
    * wins, per the spec's duplicate-attribute rule. */
  private def scanAttrs(tag: String): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    val n = tag.length
    while (i < n) {
      while (i < n && (isHtmlWs(tag(i)) || tag(i) == '/')) i += 1
      val nameAt = i
      while (i < n && !isHtmlWs(tag(i)) && tag(i) != '=' && tag(i) != '/') i += 1
      val name = tag.substring(nameAt, i).toLowerCase(java.util.Locale.ROOT)
      while (i < n && isHtmlWs(tag(i))) i += 1
      var value = ""
      if (i < n && tag(i) == '=') {
        i += 1
        while (i < n && isHtmlWs(tag(i))) i += 1
        if (i < n && (tag(i) == '"' || tag(i) == '\'')) {
          val q = tag(i); i += 1
          val vAt = i
          while (i < n && tag(i) != q) i += 1
          value = tag.substring(vAt, i)
          if (i < n) i += 1
        } else {
          val vAt = i
          while (i < n && !isHtmlWs(tag(i))) i += 1
          value = tag.substring(vAt, i)
        }
      }
      if (name.nonEmpty && !out.contains(name)) out(name) = value
    }
    out.toMap
  }

  /** Strict tag pattern: quoted runs may carry `>` (HTML permits it).
    * Its failure mode — a tag with an UNBALANCED quote never matches —
    * is covered by the loose fallback below, whose own failure mode (a
    * quoted `>` truncates the tag) the strict pass covers: between
    * them every real-world meta tag is scanned by at least one. */
  private val MetaTagRe = java.util.regex.Pattern.compile(
    "(?i)<meta[ \\t\\n\\f\\r/]((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>")
  private val MetaTagLooseRe = java.util.regex.Pattern.compile(
    "(?i)<meta[ \\t\\n\\f\\r/]([^>]*)>")
  private val CharsetInContentRe = java.util.regex.Pattern.compile(
    "(?i)charset[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']?([a-zA-Z0-9._:-]+)")

  /** WHATWG-style encoding prescan, the subset a crawl decoder needs:
    * scan the first 1024 bytes (the spec's prescan window) as
    * ISO-8859-1 — byte-preserving, so the ASCII-superset markup reads
    * regardless of the page's real encoding — walking the `<meta>` tags
    * in order: a tag's `charset` ATTRIBUTE wins; else a tag carrying
    * `http-equiv="content-type"` contributes the `charset=` parameter
    * of its `content` attribute. Attribute-position discipline per tag
    * (see [[scanAttrs]]): a `charset=` inside some OTHER attribute's
    * value — an og:url query string, a description — never matches,
    * which is exactly where a flat regex goes wrong. Returns the
    * lowercased name; None when absent. (BOM sniffing and the spec's
    * utf-16→utf-8 remapping are intentionally out of scope — headers
    * and metas cover the crawl's mass; unsupported names fall back to
    * UTF-8 in [[resolveCharset]] anyway.) */
  private[ops] def sniffMetaCharset(body: Array[Byte]): Option[String] = {
    if (body == null || body.length == 0) return None
    val prefix = new String(body, 0, math.min(1024, body.length), "ISO-8859-1")
    def scan(pattern: java.util.regex.Pattern): Option[String] = {
      val m = pattern.matcher(prefix)
      while (m.find()) {
        val attrs = scanAttrs(m.group(1))
        val fromAttr = attrs.get("charset").map(_.trim).filter(_.nonEmpty)
        val fromEquiv =
          if (attrs.get("http-equiv").exists(_.trim.equalsIgnoreCase("content-type")))
            attrs.get("content").flatMap { c =>
              val cm = CharsetInContentRe.matcher(c)
              if (cm.find()) Some(cm.group(1)) else None
            }
          else None
        val found = fromAttr.orElse(fromEquiv)
        if (found.isDefined)
          return found.map(_.toLowerCase(java.util.Locale.ROOT))
      }
      None
    }
    // strict pass first (quoted `>` survives), loose pass second (an
    // unbalanced quote in some attribute no longer hides the tag)
    scan(MetaTagRe).orElse(scan(MetaTagLooseRe))
  }

  /** Decompress a (possibly multi-member) gzip stream by an explicit
    * RFC 1952 member walk, tracking where each member STARTS in the
    * compressed file: returns `(decompressed bytes, member table)` where
    * each table entry is `(decompressedStart, compressedStart)`. The
    * compressed starts are what make [[Schema]]'s `rec_offset` a real
    * random-access anchor for `.warc.gz` shards (seek/range-request the
    * member, inflate just it) — a `GZIPInputStream` loop hides them
    * behind its read-ahead buffering.
    *
    * Total like the stream it replaces: members decoded BEFORE damage
    * (truncation mid-member, corrupt deflate data, a garbage trailer)
    * are kept, AND the damaged member's own partially-inflated prefix is
    * kept too — so a damaged shard degrades exactly like a damaged plain
    * file on BOTH gzip layouts (member-per-record and the single-member
    * `gzip file.warc` whole-file layout, where dropping the partial
    * chunk would discard every record decoded before the cut). The
    * record parser downstream is total, so a trailing half-record in the
    * partial bytes is dropped there, never surfaced as garbage.
    * Header parse per RFC 1952: magic, CM=8, FLG bits FEXTRA
    * (XLEN little-endian) / FNAME / FCOMMENT (zero-terminated) / FHCRC
    * (2 bytes) skipped; deflate length read back from the Inflater's
    * `getBytesRead`; 8-byte CRC32+ISIZE trailer. */
  private[ops] def gunzipMembers(bytes: Array[Byte])
      : (Array[Byte], Seq[(Long, Long)]) = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 3))
    val members = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var pos = 0
    var ok = true
    while (ok && pos + 10 <= bytes.length) {
      val memberAt = pos
      if ((bytes(pos) & 0xFF) != 0x1F || (bytes(pos + 1) & 0xFF) != 0x8B ||
          (bytes(pos + 2) & 0xFF) != 8) { ok = false }
      else {
        val flg = bytes(pos + 3) & 0xFF
        var p = pos + 10
        // header walk first (its index arithmetic can run off a
        // truncated buffer before any Inflater exists)
        try {
          if ((flg & 4) != 0) { // FEXTRA
            val xlen = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
            p += 2 + xlen
          }
          if ((flg & 8) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FNAME
          if ((flg & 16) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FCOMMENT
          if ((flg & 2) != 0) p += 2 // FHCRC
          if (p >= bytes.length) throw new java.io.EOFException
        } catch {
          case _: Exception => ok = false
        }
        if (ok) {
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(bytes, p, bytes.length - p)
            val buf = new Array[Byte](64 * 1024)
            val chunk = new java.io.ByteArrayOutputStream(64 * 1024)
            try {
              while (!inf.finished()) {
                val n = inf.inflate(buf)
                if (n > 0) chunk.write(buf, 0, n)
                else if (!inf.finished())
                  throw new java.io.EOFException // truncated deflate data
              }
              val deflateLen = inf.getBytesRead.toInt
              if (p + deflateLen + 8 > bytes.length)
                throw new java.io.EOFException // trailer cut off
              members += ((out.size().toLong, memberAt.toLong))
              chunk.writeTo(out)
              pos = p + deflateLen + 8
            } catch {
              // damage inside this member: keep everything decoded before
              // it AND this member's own partial prefix (see class doc —
              // a truncated single-member .warc.gz must keep its earlier
              // records, not drop the whole file)
              case _: Exception =>
                if (chunk.size() > 0) {
                  members += ((out.size().toLong, memberAt.toLong))
                  chunk.writeTo(out)
                }
                ok = false
            }
          } finally inf.end() // native memory back now, not at GC time
        }
      }
    }
    (out.toByteArray, members.toSeq)
  }

  /** Decompressed bytes only — the callers that never need member
    * offsets (throughput paths, tests asserting decompressed content). */
  private[ops] def gunzipPrefix(bytes: Array[Byte]): Array[Byte] =
    gunzipMembers(bytes)._1

  /** All records of one WARC file (plain or gzip — sniffed on the
    * 0x1f8b magic), in file order. Total: damage yields the records
    * parsed before the damage point, on BOTH the plain and gzip paths
    * (a truncated gzip member keeps earlier members' records via
    * [[gunzipMembers]]). */
  private[ops] def parseFile(docId: Long, bytes: Array[Byte]): Seq[Row] = {
    if (bytes == null || bytes.length == 0) return Nil
    val isGz =
      bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B
    val (b, memberTable) =
      if (isGz) gunzipMembers(bytes) else (bytes, Seq.empty[(Long, Long)])
    // a record's FILE offset: its own position for plain files; for
    // gzip, the compressed start of the member containing it (the CDX
    // offset convention — seek there and inflate one member)
    def fileOffset(decompPos: Long): Long =
      if (!isGz) decompPos
      else {
        // members are sorted by decompressedStart; take the last ≤ pos
        var lo = 0; var hi = memberTable.length - 1; var ans = 0L
        while (lo <= hi) {
          val mid = (lo + hi) / 2
          if (memberTable(mid)._1 <= decompPos) { ans = memberTable(mid)._2; lo = mid + 1 }
          else hi = mid - 1
        }
        ans
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var pos = 0
    var idx = 0L
    var ok = true
    while (ok && pos < b.length) {
      // skip the inter-record CRLFs (two after each block, per spec —
      // tolerate any count, some writers emit extras)
      while (pos + 1 < b.length && b(pos) == '\r' && b(pos + 1) == '\n') pos += 2
      if (pos >= b.length) ok = false
      else {
        // byte offset of this record IN THE FILE: the version line's
        // position for plain .warc; the compressed start of the gzip
        // member containing it for .warc.gz — the CDX random-access
        // anchor (seek there, inflate one member)
        val recAt = fileOffset(pos.toLong)
        val eol = findCrlf(b, pos)
        val version = if (eol < 0) "" else new String(b, pos, eol - pos, "US-ASCII")
        if (!version.startsWith("WARC/")) ok = false
        else parseHeaders(b, eol + 2) match {
          case None => ok = false
          case Some((hs, blockAt)) =>
            // 18 digits < Long.MaxValue: a longer run is damage, not a
            // length — filtering it keeps toLong total (no throw)
            val len = hs.get("content-length").filter(s =>
              s.nonEmpty && s.length <= 18 && s.forall(_.isDigit)).map(_.toLong)
            len match {
              case Some(n) if blockAt + n <= b.length =>
                val block = java.util.Arrays.copyOfRange(b, blockAt, blockAt + n.toInt)
                val isHttp = hs.get("content-type")
                  .exists(_.toLowerCase.startsWith("application/http"))
                val http = if (isHttp) parseHttp(block) else None
                val charset = http.flatMap(_._3)
                val body = http.map(_._4).getOrElse(block)
                // decode ONLY text-shaped payloads: a real crawl shard
                // is majority image/video bodies, and an unconditional
                // decode would carry a replacement-char String as large
                // as the payload through every downstream exchange —
                // binary content types keep payload_text null (the bytes
                // stay in `payload` for the media operators). An ABSENT
                // type reads as text (legacy servers omit Content-Type
                // on html constantly; wget's resource records omit it on
                // text too) — only a POSITIVE binary claim or a damaged
                // http envelope (type unknowable) skips the decode.
                def textType(ct: Option[String]): Boolean = ct.forall(c =>
                  c.startsWith("text/") || c == "application/warc-fields" ||
                    c == "application/json" || c == "application/xml" ||
                    c == "application/javascript" || c == "application/xhtml+xml" ||
                    c.endsWith("+json") || c.endsWith("+xml"))
                val textish =
                  if (isHttp) http.exists(h => textType(h._2))
                  else textType(hs.get("content-type").map(mainType))
                // decode precedence (WHATWG): the HTTP header's declared
                // charset, else the <meta> prescan, else UTF-8. The
                // prescan runs for html types AND for http responses
                // with NO Content-Type at all — the legacy-server class
                // that omits the header on html pages is exactly who
                // relies on a meta (a positively NON-html type never
                // sniffs: a text/plain file QUOTING a meta tag keeps
                // UTF-8). The `charset` COLUMN keeps the header
                // declaration only (null when the page relied on a
                // meta), so consumers can tell the two apart.
                val htmlish = http.exists(_._2.forall(c =>
                  c == "text/html" || c == "application/xhtml+xml"))
                val effCs = charset.orElse(
                  if (htmlish) sniffMetaCharset(body) else None)
                out += Row(docId, idx,
                  hs.get("warc-type").map(_.toLowerCase).orNull,
                  hs.get("warc-target-uri").orNull,
                  hs.get("warc-date").orNull,
                  http.map(_._1).map(Long.box).orNull,
                  http.flatMap(_._2).orNull,
                  charset.orNull,
                  body,
                  if (textish) new String(body, resolveCharset(effCs)) else null,
                  // the writer-declared payload digest (ISO 28500
                  // §5.9, `sha1:BASE32` by convention) — the key
                  // Common-Crawl-style crawls distribute dedup and
                  // revisit identity by; verbatim, null when absent
                  hs.get("warc-payload-digest").orNull,
                  recAt)
                idx += 1
                pos = blockAt + n.toInt
              case _ => ok = false // missing/invalid length or truncated block
            }
        }
      }
    }
    out.toSeq
  }

  /** Split `(idCol, warcCol)` rows — one raw WARC file each — into one
    * row per record ([[Schema]]): a stateless per-partition projection
    * (typed `mapPartitions`, never `.rdd` — an RDD hop is refused on
    * streaming frames), so the same call runs unchanged on a stream of
    * arriving crawl shards. */
  def parseWarc(spark: SparkSession, df: DataFrame,
                idCol: String = "doc_id", warcCol: String = "warc"): DataFrame = {
    val src = df.select(col(idCol).cast(LongType), col(warcCol).cast(BinaryType))
    src.mapPartitions(_.flatMap(r =>
      parseFile(r.getLong(0),
        if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))))(
      org.apache.spark.sql.Encoders.row(Schema))
  }

  /** Schema of the file-reader entry points ([[readWarc]] /
    * [[readWarcStream]]): [[Schema]] with the source file `path`
    * prepended — crawl shards have no intrinsic numeric id, so `doc_id`
    * is the path's stable 64-bit digest ([[pathDocId]]) and the path
    * itself travels alongside for lineage/debugging. */
  val FileSchema: StructType = StructType(
    StructField("path", StringType, nullable = true) +: Schema.fields)

  /** The binaryFile source's fixed schema — spelled out because a
    * STREAMING file source requires an explicit schema. */
  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Stable 64-bit id for a file-sourced WARC: the first 8 bytes of the
    * path's SHA-256 — deterministic across runs/executors (unlike
    * hashCode) and collision-safe at any realistic shard count. */
  private[ops] def pathDocId(path: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** `(path, content)` file rows → one row per record ([[FileSchema]]).
    * Stateless projection — shared by the batch and streaming readers. */
  private def parseFiles(files: DataFrame): DataFrame = {
    val src = files.select(col("path").cast(StringType),
      col("content").cast(BinaryType))
    src.mapPartitions(_.flatMap { r =>
      val p = if (r.isNullAt(0)) null else r.getString(0)
      parseFile(if (p == null) 0L else pathDocId(p),
          if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))
        .map(rec => Row.fromSeq(p +: rec.toSeq))
    })(org.apache.spark.sql.Encoders.row(FileSchema))
  }

  /** Resolve WARC `revisit` records to the response that CARRIES the
    * payload they reference — the ISO 28500 §6.7.2 dedup mechanism
    * Common-Crawl-style crawls use: a revisit record marks "content
    * unchanged since an earlier capture", identified by its
    * `WARC-Payload-Digest`, and carries no body of its own. One row per
    * digest-bearing revisit record:
    * `(payload_digest, doc_id, rec_index, target_uri, orig_doc_id,
    * orig_rec_index)` where the original is the canonical RESPONSE
    * record with that digest — lowest `(doc_id, rec_index)`, the
    * family's deterministic survivor rule — or nulls when no captured
    * response carries the digest (the shard with the body wasn't
    * ingested; the caller decides whether to drop or re-fetch).
    *
    * Scale shape: one digest-keyed aggregation over responses (output
    * is digest-cardinality-sized, i.e. unique-content-sized) and one
    * hash join of the revisit stream against it — the digest is the
    * natural shuffle key; nothing corpus-sized crosses the driver. */
  def resolveRevisits(records: DataFrame): DataFrame = {
    val originals = records
      .filter(col("warc_type") === "response" && col("payload_digest").isNotNull)
      .groupBy(col("payload_digest"))
      .agg(min(struct(col("doc_id"), col("rec_index"))).as("_rr_orig"))
      .select(col("payload_digest"),
        col("_rr_orig.doc_id").as("orig_doc_id"),
        col("_rr_orig.rec_index").as("orig_rec_index"))
    records
      .filter(col("warc_type") === "revisit" && col("payload_digest").isNotNull)
      .select(col("doc_id"), col("rec_index"), col("target_uri"),
        col("payload_digest"))
      .join(originals, Seq("payload_digest"), "left")
      .select(col("doc_id"), col("rec_index"), col("target_uri"),
        col("payload_digest"), col("orig_doc_id"), col("orig_rec_index"))
  }

  /** CDX-style lookup projection over parsed records — the index row
    * web archives answer "which capture of URL X, when, where in which
    * shard" from: one row per URI-bearing record,
    * `(urlkey, warc_date, target_uri, warc_type, http_status,
    * content_type, payload_digest, doc_id, rec_index, rec_offset)`
    * where `urlkey` is the SURT key ([[UrlOps.surtKey]] — subdomains of
    * a domain share a contiguous key range, the prefix-scan property)
    * and `rec_offset` anchors random access into the shard: the
    * record's own file position for plain `.warc`, the COMPRESSED start
    * of the gzip member containing it for `.warc.gz` (seek there,
    * inflate one member — the CDX offset convention). A pure projection:
    * sort/partition by `urlkey` at WRITE time (`Layout.zorderWrite` or
    * a plain `repartitionByRange`) to get the range-scannable index
    * layout; the projection itself moves nothing. */
  def cdx(records: DataFrame): DataFrame =
    records
      .filter(col("target_uri").isNotNull)
      .select(
        UrlOps.surtKey(col("target_uri")).as("urlkey"),
        col("warc_date"), col("target_uri"), col("warc_type"),
        col("http_status"), col("content_type"), col("payload_digest"),
        col("doc_id"), col("rec_index"), col("rec_offset"),
        // the shard LOCATOR: real CDX lines carry the WARC filename next
        // to the offset — "fetch THIS capture" needs (path, rec_offset),
        // which is exactly what [[fetchRecords]] consumes. Present (null)
        // on frames parsed from in-memory payloads, carried through from
        // the file readers ([[FileSchema]]).
        (if (records.columns.contains("path")) col("path")
         else lit(null).cast(StringType)).as("path"))

  /** Materialise the CDX RANGE LAYOUT [[cdx]]'s scaladoc prescribes —
    * the index rows range-partitioned AND sorted by `(urlkey,
    * warc_date)`, with a [[Layout.writeManifest]] per-file min/max
    * stats manifest on the urlkey — so the SURT prefix-scan property
    * actually holds ON DISK: every capture under one domain (and all
    * its subdomains) lives in a contiguous key range touching a
    * minority of files, and [[readCdxPrefix]] opens only those.
    * Null-urlkey rows (non-hierarchical URIs, [[UrlOps.surtKey]]'s
    * documented null) are KEPT — they sort into the first range — but
    * no prefix scan ever selects them. At 100 TB the index is
    * captures-sized (one row per record): `numFiles` sizes the layout;
    * the write is the one shuffle this index ever pays. */
  def writeCdx(cdxRows: DataFrame, path: String, numFiles: Int = 16): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    cdxRows
      .repartitionByRange(numFiles, col("urlkey"), col("warc_date"))
      .sortWithinPartitions(col("urlkey"), col("warc_date"))
      .write.mode("overwrite").parquet(path)
    Layout.writeManifest(cdxRows.sparkSession, path, Seq("urlkey"))
  }

  /** Archive-index prefix lookup over a [[writeCdx]] layout: "all
    * captures under `com,example,`" as a manifest-pruned PREFIX scan
    * ([[Layout.prunedReadPrefix]] — an exact interval test, safe on
    * urlkeys carrying supplementary characters, which a naive
    * `prefix + U+FFFF` upper bound silently drops), then the row
    * filter applies on the surviving files (spec-pinned ≡ a full scan
    * + the same filter, with a minority of files opened). */
  def readCdxPrefix(spark: SparkSession, path: String,
                    prefix: String): DataFrame =
    Layout.prunedReadPrefix(spark, path, "urlkey", prefix)
      .filter(col("urlkey").startsWith(prefix))

  /** Fetch ONE record by its CDX anchor — the random-access consumer of
    * [[Schema]]'s `rec_offset`, which is the whole point of a CDX index:
    * "give me THIS capture" without rescanning the shard. `offset` is a
    * [[cdx]]/[[parseFile]] offset: the record's own byte position in a
    * plain `.warc`, the compressed start of the gzip member containing
    * it in a `.warc.gz`. The read is a bounded RANGE READ — seek to
    * `offset`, read at most `maxBytes` (the HTTP-Range-request shape an
    * object-store deployment uses) — and the slice goes through the
    * same total [[parseFile]] byte-walk as a full scan (gzip sniffed on
    * the member magic, headers, HTTP envelope, charset decode), keeping
    * the FIRST record only. Loud on a non-boundary offset, on a record
    * larger than `maxBytes` (raise the cap — real CDX files also carry
    * a length column for exactly this reason), and on an offset that
    * anchors a MULTI-RECORD gzip member (the whole-file single-member
    * layout [[parseFile]] tolerates on the scan path): every record in
    * such a member shares the member-start offset, so no offset names
    * ONE of them — that layout is scan-only; repack record-per-member
    * for random access.
    *
    * Returned row: [[Schema]] shape with `rec_index` = 0 (the record's
    * index within the FETCH — the shard ordinal lives in the CDX row
    * that supplied the offset) and `rec_offset` = the requested offset. */
  private[ops] def recordAt(conf: org.apache.hadoop.conf.Configuration,
                            path: String, offset: Long,
                            maxBytes: Int): Row = {
    require(maxBytes > 0, "maxBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    require(offset >= 0 && offset < fileLen,
      s"offset $offset out of range for $path (length $fileLen)")
    val n = math.min(maxBytes.toLong, fileLen - offset).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(p)
    try { in.seek(offset); in.readFully(buf, 0, n) } finally in.close()
    val rows = parseFile(pathDocId(path), buf)
    val rec = rows.headOption.getOrElse(throw new IllegalArgumentException(
      if (n == maxBytes)
        s"record at $path:$offset does not fit in maxBytes = $maxBytes — " +
          "raise the cap (real CDX rows carry a record length for this)"
      else s"no WARC record parses at $path:$offset — not a record boundary"))
    // AMBIGUITY GUARD: in a single-member multi-record .warc.gz (a
    // layout parseFile tolerates on the scan path), every record in the
    // member shares the member-start offset — "the record at this
    // offset" names N records, and silently returning the first would
    // be wrong data for the other N-1 CDX rows. Slice-relative offsets
    // make this detectable: exactly one record may anchor at 0.
    val offIdx = Schema.fieldIndex("rec_offset")
    val anchored = rows.count(_.getLong(offIdx) == 0L)
    require(anchored <= 1,
      s"offset $path:$offset anchors a gzip member holding $anchored " +
        "records — a member-start offset cannot name ONE of them; repack " +
        "the shard record-per-member (the packShards layout) for random access")
    // the slice-relative anchors are meaningless to the caller: pin the
    // offset actually fetched, zero the within-fetch index
    Row.fromSeq(rec.toSeq.updated(1, 0L)
      .updated(Schema.fieldIndex("rec_offset"), offset))
  }

  /** Driver-side single fetch: the record at `(path, offset)` as a
    * one-row [[FileSchema]] frame. */
  def readRecordAt(spark: SparkSession, path: String, offset: Long,
                   maxBytes: Int = 8 << 20): DataFrame = {
    val row = recordAt(spark.sparkContext.hadoopConfiguration, path, offset,
      maxBytes)
    spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(path +: row.toSeq)), FileSchema)
  }

  /** Distributed CDX-driven fetch: one [[recordAt]] range read per
    * `(pathCol, offsetCol)` row of `refs` — compose with
    * [[readCdxPrefix]] (`SELECT path, rec_offset FROM <prefix hits>`) to
    * materialise exactly the captures an index lookup selected, reading
    * `maxBytes` per capture instead of any shard end to end. A
    * stateless per-partition projection (the [[parseWarc]] discipline:
    * typed mapPartitions, no `.rdd` hop), so a streaming frame of
    * lookup hits fetches per micro-batch unchanged. Output is
    * [[FileSchema]] (`path` + the fetched record per the [[recordAt]]
    * row contract), in `refs` order within each partition.
    *
    * The Hadoop configuration is rebuilt on executors from the driver
    * session's entries (Configuration itself is not serializable), so
    * object-store credentials/endpoints configured on the session reach
    * the range reads. */
  def fetchRecords(spark: SparkSession, refs: DataFrame,
                   pathCol: String = "path", offsetCol: String = "rec_offset",
                   maxBytes: Int = 8 << 20): DataFrame = {
    import scala.jdk.CollectionConverters._
    val confEntries: Seq[(String, String)] =
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toVector
    val src = refs.select(col(pathCol).cast(StringType),
      col(offsetCol).cast(LongType))
    src.mapPartitions { it =>
      lazy val conf = {
        val c = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => c.set(k, v) }
        c
      }
      it.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "fetchRecords needs non-null (path, offset) on every row — " +
            "CDX rows from in-memory parses carry no shard path")
        val rec = recordAt(conf, r.getString(0), r.getLong(1), maxBytes)
        Row.fromSeq(r.getString(0) +: rec.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(FileSchema))
  }

  /** Records of every `.warc`/`.warc.gz` file under `path` — the batch
    * entry from real crawl shards on disk/object storage:
    * `binaryFile` scan → [[parseFile]] per file. One file's records
    * materialize per input row (the partition's memory bound is one
    * shard, the binaryFile contract); damaged shards degrade per the
    * totality contract instead of failing the scan. */
  def readWarc(spark: SparkSession, path: String,
               globFilter: String = "*.warc*"): DataFrame =
    parseFiles(Sources.reader(spark, "binaryFile")
      .option("pathGlobFilter", globFilter).load(path))

  /** Streaming twin of [[readWarc]]: crawl shards parse as they LAND —
    * `readStream.format("binaryFile")` over a watched directory, the
    * same [[parseFiles]] projection (stateless, so the records frame
    * feeds [[graft.stream.StreamCurate]] directly: files → records →
    * curation chain is the production crawl-ingest deployment).
    * `maxFilesPerTrigger` bounds a micro-batch to that many shards. */
  def readWarcStream(spark: SparkSession, path: String,
                     globFilter: String = "*.warc*",
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("pathGlobFilter", globFilter)
    parseFiles(maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(path))
  }

  // ------------------------------------------------------------------
  // closed-form synthetic fixture (the MediaProbe videoPayloads recipe):
  // every field a parse must read back is a total function of doc_id and
  // the record ordinal, so a DuckDB oracle recomputes the expected rows
  // from the formulas alone — framing, gzip member walk, header folding,
  // and the HTTP envelope are all on the hook
  // ------------------------------------------------------------------

  private[ops] def fixtureUri(doc: Long, i: Long): String =
    s"http://site${doc % 7}.example/page/$doc/$i"
  private[ops] def fixtureDate(doc: Long): String =
    f"2026-01-${1 + doc % 28}%02dT00:00:00Z"
  private[ops] def fixtureStatus(doc: Long, i: Long): Long =
    if ((doc + i) % 5 == 0) 404L else 200L
  private[ops] def fixtureHtml(doc: Long, i: Long): Boolean = i % 2 == 0
  /** Declared charset class per response ordinal: utf-8 / iso-8859-1 /
    * undeclared — the latin-1 class carries a non-ASCII byte (0xE9,
    * 'e'-acute) the decode must map through the DECLARED charset, not
    * UTF-8 (where the lone byte is malformed). */
  private[ops] def fixtureCharset(i: Long): Option[String] = i % 3 match {
    case 0 => Some("utf-8")
    case 1 => Some("iso-8859-1")
    case _ => None
  }
  private[ops] def fixtureBody(doc: Long, i: Long): String = {
    val accent = if (i % 3 == 1) "caf" + 0xE9.toChar + " " else ""
    if (fixtureHtml(doc, i))
      s"""$accent<p>doc $doc rec $i</p> <a href="http://ref${(doc + i) % 5}.example/x">link</a>"""
    else s"${accent}plain payload doc $doc rec $i"
  }

  // private[ops]: WetOps builds its WET/WAT fixtures over the SAME
  // ISO 28500 record framing — the point is that one byte-walk parses
  // every member of the format family
  private[ops] def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val head = (Seq("WARC/1.0") ++
      headers.map { case (k, v) => s"$k: $v" } ++
      Seq(s"Content-Length: ${block.length}", "", "")).mkString("\r\n")
    head.getBytes("UTF-8") ++ block ++ Crlf ++ Crlf
  }

  private[ops] def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Pack `(doc_id, text)` rows into ONE gzipped member-per-record WARC
    * shard (the `.warc.gz` convention [[readWarc]] consumes): one
    * `response` record per document with a text/plain HTTP envelope —
    * the load-generation twin of the file readers, used by the scale
    * harness to materialize corpus-sized crawl shards. */
  private[graft] def warcShard(rows: Iterator[(Long, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    rows.foreach { case (id, text) =>
      val body = (if (text == null) "" else text).getBytes("UTF-8")
      val http = (s"HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/plain; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      val rec = record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://corpus.example/doc/$id",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"), http)
      bos.write(gzipMember(rec))
    }
    bos.toByteArray
  }

  /** Pack the `documents` table under `srcDir` into real `.warc.gz`
    * shards at `outDir` (~`docsPerShard` docs each — shard COUNT is
    * corpus-linear, shard size constant, the production crawl shape),
    * once: a `_SHARDS_DONE` marker makes repeat calls no-ops, so the
    * throughput tool and the scale harness measure the SAME fixture
    * without rebuilding it. Delete the marker (or the dir) to force a
    * rebuild after regenerating testdata under the same path. */
  private[graft] def packShards(spark: SparkSession, srcDir: String,
                                outDir: String,
                                docsPerShard: Int = 2048): Unit = {
    val done = new java.io.File(s"$outDir/_SHARDS_DONE")
    if (done.exists()) return
    new java.io.File(outDir).mkdirs()
    val docs = graft.T.load(spark, srcDir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
    val nShards = math.max(4, (docs.count() / docsPerShard).toInt)
    docs.repartition(nShards).foreachPartition {
      (it: Iterator[Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val bytes = warcShard(it.map(r => (r.getLong(0), r.getString(1))))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/shard_$pid.warc.gz"), bytes)
          ()
        }
    }
    done.createNewFile()
    ()
  }

  /** One synthetic WARC file for `doc`: a leading warcinfo record, then
    * `1 + doc % 3` HTTP response records with every field closed-form.
    * Even ids are gzipped one-member-per-record (the `.warc.gz`
    * convention), odd ids plain — both must parse identically. */
  private[graft] def syntheticWarc(doc: Long): Array[Byte] = {
    val info = record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> fixtureDate(doc),
      "Content-Type" -> "application/warc-fields"),
      s"software: graft-fixture/$doc\r\n".getBytes("UTF-8"))
    val responses = (0L to doc % 3).map { i =>
      // body BYTES are encoded under the declared charset — the latin-1
      // class writes 0xE9, which only the declared-charset decode reads
      // back as the intended character
      val cs = fixtureCharset(i)
      val body = fixtureBody(doc, i).getBytes(cs.getOrElse("utf-8"))
      val ctParam = cs.fold("")(c => s"; charset=$c")
      val http = (s"HTTP/1.1 ${fixtureStatus(doc, i)} X\r\n" +
        s"Content-Type: ${if (fixtureHtml(doc, i)) "text/html" else "text/plain"}$ctParam\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> fixtureUri(doc, i),
        "WARC-Date" -> fixtureDate(doc),
        "Content-Type" -> "application/http; msgtype=response"), http)
    }
    val recs = info +: responses
    if (doc % 2 == 0) recs.map(gzipMember).reduce(_ ++ _) else recs.reduce(_ ++ _)
  }

  /** One synthetic WARC file probing the `<meta>` charset prescan —
    * three closed-form html responses: (0) NO header charset, a
    * charset-attribute meta declaring iso-8859-1, body bytes carrying
    * 0xE9 — only the sniffed decode reads the intended é; (1) header
    * charset=utf-8 AND a CONFLICTING meta (iso-8859-1), body utf-8 — the
    * header must win or the two-byte é comes back as mojibake; (2) NO
    * header charset, the http-equiv/content meta form declaring
    * windows-1252, body carrying 0x93 (the cp1252 left curly quote,
    * U+201C). Even ids gzipped, odd plain — the [[syntheticWarc]]
    * discipline. */
  private[ops] def syntheticWarcMeta(doc: Long): Array[Byte] = {
    def resp(i: Long, body: Array[Byte], ctHeader: Option[String]): Array[Byte] = {
      val http = (s"HTTP/1.1 200 X\r\n" +
        ctHeader.fold("")(ct => s"Content-Type: $ct\r\n") +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> fixtureUri(doc, i),
        "WARC-Date" -> fixtureDate(doc),
        "Content-Type" -> "application/http; msgtype=response"), http)
    }
    val b0 = (s"""<meta charset="iso-8859-1">caf${0xE9.toChar} doc $doc""")
      .getBytes("ISO-8859-1")
    val b1 = (s"""<meta charset="iso-8859-1">caf${0xE9.toChar} header wins $doc""")
      .getBytes("UTF-8")
    val b2 = ("<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=windows-1252\">q" +
      '\u201C' + s" doc $doc").getBytes("windows-1252")
    // (3) a DECOY: charset= inside another attribute's VALUE (an og:url
    // query string) ahead of the real charset attribute \u2014 only an
    // attribute-position scan picks iso-8859-1 over big5
    val b3 = ("<meta property=\"og:url\" " +
      "content=\"http://x.example/?charset=big5\">" +
      s"""<meta charset="iso-8859-1">og caf${0xE9.toChar} $doc""")
      .getBytes("ISO-8859-1")
    // (4) NO Content-Type header at all \u2014 the legacy class that relies
    // entirely on its meta; the absent type must still sniff
    val b4 = ("<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=iso-8859-1\">" +
      s"nt caf${0xE9.toChar} $doc").getBytes("ISO-8859-1")
    val recs = Seq(
      resp(0, b0, Some("text/html")),
      resp(1, b1, Some("text/html; charset=utf-8")),
      resp(2, b2, Some("text/html")),
      resp(3, b3, Some("text/html")),
      resp(4, b4, None))
    if (doc % 2 == 0) recs.map(gzipMember).reduce(_ ++ _) else recs.reduce(_ ++ _)
  }

  /** One synthetic WARC file probing revisit resolution — three
    * closed-form records: (0) a response whose `WARC-Payload-Digest` is
    * shared across every doc with the same `doc % 10` residue (the
    * lowest such doc is the canonical original); (1) a revisit record
    * carrying that digest and NO body (the ISO 28500 §6.7.2 shape);
    * (2) a revisit whose digest no captured response carries — the
    * unresolved class. Even ids gzipped, odd plain. */
  private[graft] def syntheticWarcRevisit(doc: Long): Array[Byte] = {
    val body = s"orig $doc".getBytes("UTF-8")
    val http = (s"HTTP/1.1 200 X\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
    val resp = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> fixtureUri(doc, 0),
      "WARC-Date" -> fixtureDate(doc),
      "WARC-Payload-Digest" -> s"sha1:R${doc % 10}",
      "Content-Type" -> "application/http; msgtype=response"), http)
    def revisit(i: Long, digest: String): Array[Byte] = record(Seq(
      "WARC-Type" -> "revisit",
      "WARC-Target-URI" -> fixtureUri(doc, i),
      "WARC-Date" -> fixtureDate(doc),
      "WARC-Payload-Digest" -> digest), Array.empty[Byte])
    val recs = Seq(resp,
      revisit(1, s"sha1:R${doc % 10}"),
      revisit(2, s"sha1:X$doc"))
    if (doc % 2 == 0) recs.map(gzipMember).reduce(_ ++ _) else recs.reduce(_ ++ _)
  }

  /** Distributed revisit fixture frame `(doc_id, warc)`. */
  def warcRevisitPayloads(spark: SparkSession, ids: DataFrame,
                          idCol: String = "doc_id"): DataFrame = {
    val src = ids.select(col(idCol).cast(LongType))
    val rdd = src.rdd.mapPartitions(_.map(r =>
      Row(r.getLong(0), syntheticWarcRevisit(r.getLong(0)))))
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("warc", BinaryType, nullable = false))))
  }

  /** Distributed meta-charset fixture frame `(doc_id, warc)`. */
  def warcMetaPayloads(spark: SparkSession, ids: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val src = ids.select(col(idCol).cast(LongType))
    val rdd = src.rdd.mapPartitions(_.map(r =>
      Row(r.getLong(0), syntheticWarcMeta(r.getLong(0)))))
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("warc", BinaryType, nullable = false))))
  }

  /** Distributed fixture frame `(doc_id, warc)`, built per partition. */
  def warcPayloads(spark: SparkSession, ids: DataFrame,
                   idCol: String = "doc_id"): DataFrame = {
    val src = ids.select(col(idCol).cast(LongType))
    val rdd = src.rdd.mapPartitions(_.map(r => Row(r.getLong(0), syntheticWarc(r.getLong(0)))))
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("warc", BinaryType, nullable = false))))
  }
}
