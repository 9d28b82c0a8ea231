package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pigeonhole banded hamming near-dup machinery, ONE spelling
  * (the shared-verbatim-kernel discipline): the Manku/Jain/Sarma
  * WWW'07 construction answering "all pairs within hamming distance
  * ≤ k" EXACTLY — a pair differing in fewer than 4 bits must agree
  * exactly on at least one of 4 disjoint bands, so candidates come
  * from an equi-join on (band, bits) over DISTINCT signatures and
  * `graft_hamming64` verifies each distinct pair once.  O(n·4)
  * fixed-width keys through the shuffle, never O(n²).
  *
  * Three query families key on it with different signatures:
  * P52/P52b text simhash (32-bit sigs × 8-bit bands,
  * [[graft.queries.Quality]]), P71 image dHash and P72 audio
  * envelope-hash (64-bit sigs × 16-bit bands — the banding identity
  * at double width, as P52's own Scaladoc prescribes for denser
  * spaces).  The streaming near-dup face
  * ([[graft.streaming.StreamNearDedup]]) shares [[bandsExpr]]/
  * [[bandBitsExpr]] so batch and stream banding cannot drift.
  *
  * 100 TB shape: callers compute signatures scan-local (pixels,
  * samples, tokens never shuffle — only (doc_id, sig) leaves the
  * stage) and `localCheckpoint()` the sig frame once, because the
  * plan consumes it five times and each consumer would otherwise
  * re-run the signature kernel over the full corpus (the P52
  * lesson: ~8 kernel passes ≈ 70% of sf1 runtime before the
  * checkpoint).  All banded work runs over DISTINCT signatures so
  * candidate volume scales with the signature vocabulary, not the
  * corpus; doc pairs expand from verified sig pairs only.
  */
object HammingDedup {

  /** 4 disjoint bands — pigeonhole-exact for maxDist ≤ 3. */
  val bandsExpr = "sequence(0, 3)"

  /** Band `band` of `sigCol` as an INT key: `bandBits` bits per band. */
  def bandBitsExpr(sigCol: String, bandBits: Int): String =
    s"CAST(shiftright($sigCol, $bandBits * band) & ${(1L << bandBits) - 1} AS INT)"

  /** (sig, band, bits) — one row per band of each distinct signature. */
  private def banded(uniq: DataFrame, sigCol: String, bandBits: Int): DataFrame =
    uniq
      .select(col(sigCol).as("sig"), explode(expr(bandsExpr)).as("band"))
      .withColumn("bits", expr(bandBitsExpr("sig", bandBits)))

  /** Verified DISTINCT-signature pairs (sig_a < sig_b, dist ∈ [0, maxDist])
    * from the banded equi-join.  `uniq` must be one row per distinct
    * signature. */
  private[graft] def sigPairs(uniq: DataFrame, sigCol: String, maxDist: Int,
                              bandBits: Int): DataFrame = {
    require(maxDist <= 3, s"4 bands pigeonhole-cover dist <= 3, asked $maxDist")
    val bands = banded(uniq, sigCol, bandBits)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.sig") < col("b.sig"))
      .select(col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct() // a sig pair may agree on several bands
      .withColumn("dist", expr("graft_hamming64(sig_a, sig_b)"))
      .filter(col("dist") <= maxDist)
  }

  /** The pair form: all (doc_a < doc_b, dist) within maxDist, from a
    * (doc_id, sigCol) frame.  Dist-0 pairs expand from the same-sig
    * groups; dist ≥ 1 pairs expand from the verified distinct-sig
    * pairs via two member joins (output-bound — no wasted candidate
    * work).  Callers stableCheckpoint `sigs` (five consumers); the
    * declared ORDER BY goes through [[graft.queries.Pipeline.sortedOutput]]. */
  def pairs(sigs: DataFrame, sigCol: String, maxDist: Int,
            bandBits: Int): DataFrame = {
    // sig_a < sig_b means every cross pair is dist >= 1 already
    val crossSig = sigPairs(sigs.select(sigCol).distinct(), sigCol, maxDist, bandBits)
      .join(sigs.select(col("doc_id").as("id_a"), col(sigCol).as("sig_a")), "sig_a")
      .join(sigs.select(col("doc_id").as("id_b"), col(sigCol).as("sig_b")), "sig_b")
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("dist"))
    val sameSig = sigs.as("a").join(sigs.as("b"),
        col(s"a.$sigCol") === col(s"b.$sigCol") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0).cast("int").as("dist"))
    graft.queries.Pipeline.sortedOutput(sameSig.unionAll(crossSig), "doc_a", "doc_b")
  }

  /** The count form (the P52b discipline): per-distance pair COUNTS
    * from signature GROUP SIZES alone — Σ C(g,2) at distance 0,
    * Σ g_a·g_b over verified distinct-sig pairs at 1..maxDist — so
    * not one pair row is ever built and the answer stays
    * aggregation-shaped at any corpus scale.  `sigGroups` is the
    * (sigCol, g=count) frame; callers stableCheckpoint it (three
    * consumers off one signature pass).  Sorted by dist through
    * [[graft.queries.Pipeline.sortedOutput]]. */
  def counts(sigGroups: DataFrame, sigCol: String, maxDist: Int,
             bandBits: Int): DataFrame = {
    val crossCounts = sigPairs(sigGroups.select(sigCol), sigCol, maxDist, bandBits)
      .filter(col("dist") > 0)
      .join(sigGroups.select(col(sigCol).as("sig_a"), col("g").as("g_a")), "sig_a")
      .join(sigGroups.select(col(sigCol).as("sig_b"), col("g").as("g_b")), "sig_b")
      .groupBy("dist").agg(sum(col("g_a") * col("g_b")).as("n_pairs"))
    val sameCounts = sigGroups
      .select(lit(0).cast("int").as("dist"), expr("(g * (g - 1)) DIV 2").as("p"))
      .groupBy("dist").agg(sum("p").as("n_pairs"))
    graft.queries.Pipeline.sortedOutput(
      sameCounts.unionAll(crossCounts).filter(col("n_pairs") > 0), "dist")
  }
}
