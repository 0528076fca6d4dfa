package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the fixture invariants the cross-engine oracles lean on but the
  * gates themselves cannot observe — so a future testdata regeneration
  * that silently breaks one fails HERE, by name, instead of surfacing as
  * an inscrutable hash mismatch in an unrelated gate.
  *
  * BMP-only text: `TextOps.charsOf` windows the language-ID feature
  * stream per UTF-16 unit while the DuckDB oracle's `substr`/`length`
  * work per CODE POINT — identical on Basic-Multilingual-Plane text
  * (every practical language-ID script), divergent the moment a
  * supplementary-plane character (emoji, rare CJK extensions) enters
  * `documents.text`: n_feats and the feature stream desync between
  * engine and oracle for q_lang_id_trained / q_ccnet_pipeline. The
  * trade is documented on charsOf; this spec is the tripwire. */
class TestdataInvariantSpec extends SparkSpec {

  private def docsAt(sf: String) = {
    val dir = s"/root/testdata/$sf/documents.parquet"
    assume(new java.io.File(dir).exists(), s"$dir not generated on this box")
    spark.read.parquet(dir)
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"documents.text at $sf is BMP-only (the charsOf/oracle parity precondition)") {
      // a supplementary code point encodes as a surrogate pair: UTF-16
      // length (Spark's length on the decoded string walks code points —
      // so compare char-array size vs code-point count instead)
      val astral = docsAt(sf)
        .filter(col("text").isNotNull)
        // any code point above U+FFFF — one regex pass over the corpus
        .filter(col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))
        .count()
      assert(astral == 0L,
        s"$sf documents.text carries supplementary-plane characters — " +
          "the q_lang_id_trained/q_ccnet_pipeline oracles window per code " +
          "point while charsOf windows per UTF-16 unit; normalize the " +
          "fixture or the operators before trusting those gates")
    }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"documents.text word length at $sf is <= 8 (the unigram-oracle DP unroll bound)") {
      // the q_unigram_train/q_unigram_segment oracles unroll the Viterbi
      // DP to exactly 8 positions (unigramDp maxW) — a longer word would
      // silently vanish from the oracle's word table while the engine
      // still segments it, mismatching every downstream row
      val over = docsAt(sf)
        .filter(col("text").isNotNull)
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 8)
        .count()
      assert(over == 0L,
        s"$sf documents.text carries words longer than 8 chars — raise " +
          "the unigram oracles' maxW (GraphTokenizerGates.unigramCtes) to the new " +
          "max word length before trusting those gates")
    }
}
