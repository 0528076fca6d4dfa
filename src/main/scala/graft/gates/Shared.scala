package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers that more than one gate family uses. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    T.load(s, dir, name)

  /** One per-JVM scratch root for gate-internal artifacts (the z-order
    * write of q_skipping_scan, the minhash index of q_decontaminate_near):
    * repeated query invocations REUSE the same subdirectory (every
    * writer into it runs in overwrite mode), so Verify sweeps, Profile
    * loops, and dev reruns do not accumulate temp directories. */
  lazy val gateScratch: String =
    java.nio.file.Files.createTempDirectory("graft_gate").toString

  /** Oracle SQL fragments spelled as their Spark twins spell them: the
    * ASCII punctuation class and the whitespace token count. */
  val punct = "[!-/:-@\\[-`{-~]"
  val ntok = """len(regexp_extract_all(text, '\S+'))"""

  /** The integer fixed-point PageRank iteration CTE chain (nodes, deg,
    * nn, pr0, c1..prN) over a PRECEDING `edges(src, dst)` CTE — the
    * SQL twin of [[graft.ops.Graph.pageRank]]'s 85/100 recurrence,
    * shared by the q_pagerank and q_link_rank oracles. */
  def pagerankIterCtes(iters: Int): String = {
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

  /** DuckDB twin of [[graft.ops.HashMode.Portable]]: low 60 bits of md5 as a
    * non-negative BIGINT — bit-identical to the Spark side, so min()/banding
    * order agrees across engines. */
  def h60(x: String): String =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"

  /** The oracles' `t(doc_id, toks)`: each document lower-cased, whitespace-
    * normalised and split into tokens. */
  val toksCte: String =
    """t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\S+') AS toks
      |  FROM documents)""".stripMargin
}
