package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** P73 — video near-dup via shared frame fingerprints (r15): the
  * re-cut detector a 100 TB multimodal pipeline runs over video
  * corpora — two videos are near-dups when they share enough frames,
  * which finds clips, re-cuts and re-containerized copies without ever
  * comparing videos pairwise.  Composed from three layers that already
  * exist, shared VERBATIM: [[Multimodal.sampleFrames]] (idx1-seeking
  * extraction from the real RIFF-AVI container),
  * [[Multimodal.decodeGray]] (the foreign ImageIO decode) and
  * [[ImageDedup.dHash64]] (the P71 frame fingerprint).
  *
  * Shape: per-video DISTINCT frame dHashes (scan-local — container
  * walk, decode, pool and sign all inside one flatMap; only
  * (doc_id, fsig) leaves the stage), a STOP-FRAME guard dropping
  * signatures carried by more than [[MaxSigDf]] videos (ubiquitous
  * frames — black frames, intro cards — contribute C(df,2) candidates
  * each and zero near-dup signal; the winnowing df-cap discipline
  * applied to frames), then a self equi-join on the 64-bit signature
  * (fixed-width keys through the shuffle, never all-pairs) counts
  * shared frames per video pair; pairs with ≥ [[MinShared]] shared
  * fingerprints are reported.  Candidate volume scales with the
  * frame-signature vocabulary and is df-bounded per signature, not
  * with the number of video pairs.
  *
  * Fixture: docs pair up as (2g, 2g+1) over video group g — the even
  * doc is a real AVI of frames 0..nf-1, the odd doc a RE-CUT holding
  * only the even-indexed source frames (same pixels, re-encoded PNG,
  * new container, new frame numbering).  A pair lands only if frame
  * extraction, decode and fingerprint are bit-identical across two
  * independently built containers.
  *
  * Oracle: replays frame pixels → 9×8 pool → gradient sign → 64-bit
  * packing (two 32-bit halves) → distinct → sig equi-join → pair
  * count, all in integer arithmetic.
  */
object VideoDedup {

  /** Minimum shared distinct frame fingerprints to call a pair. */
  val MinShared = 2

  /** Max frame-fingerprint hamming distance the TOLERANT form
    * ([[qVideoDedupTol]]) accepts as the same frame (4 disjoint
    * 16-bit bands pigeonhole-cover dist ≤ 3). */
  val TolDist = 3

  /** Stop-frame guard: signatures carried by more than this many
    * videos are dropped before the pair join.  A real video corpus
    * has ubiquitous frames — black frames, intro cards — whose sig
    * groups would contribute C(df,2) candidate pairs each while
    * carrying zero near-dup signal; capping their document frequency
    * is the winnowing/shingle df-cap discipline applied to frames,
    * and it is what keeps the self-join linear at corpus scale
    * (MEDIAPROBE r15 caught the uncapped form going 2.1× SUPERLINEAR
    * at ×10 docs once the fixture's pattern space saturated). */
  val MaxSigDf = 64

  /** The deterministic frame-pixel formula shared with the oracle:
    * the P71-style base pattern plus a per-frame offset (mod-256
    * wraps make it a genuinely different gradient field per frame,
    * not a uniform brightness shift dHash would erase).  The
    * multiplier cycles mod 251 (prime, near the 8-bit ceiling — a
    * multiplier only acts through its value mod 256), spreading the
    * frame-content vocabulary to ~28M so the corpus doesn't saturate
    * it at the probed scales; the r15 original cycled mod 13 and
    * collapsed sf10's 2.5M frames onto ~240k distinct images. */
  @inline def framePix(x: Int, y: Int, g: Long, f: Int): Int =
    (((x.toLong * 31 + y.toLong * 17) * (g % 251 + 3) + g * 7 + f.toLong * 101) % 256).toInt

  /** Frame count of group g's base video (4..9). */
  @inline def frameCount(g: Long): Int = (g % 6 + 4).toInt

  /** The LOSSY-twin perturbation ([[qVideoDedupTol]]'s fixture):
    * brightness +4, clamped at 255 — the P71 image-twin distortion
    * applied to re-cut frames.  dHash is gradient-based, so the
    * perturbed frame lands a few bits from its source (0 where no
    * pooled pair straddles the clamp), modeling a lossy re-encode
    * whose frames exact sig equality mostly MISSES. */
  @inline def framePixTol(x: Int, y: Int, g: Long, f: Int): Int =
    math.min(framePix(x, y, g, f) + 4, 255)

  /** The cross-container re-cut corpus: group g = doc_id / 2; even doc
    * = AVI of frames 0..nf-1, odd doc = AVI of the even-indexed source
    * frames only (⌈nf/2⌉ ≥ 2 shared fingerprints by construction).
    * Dims (≥ 16×16) derive from g so pair members share geometry.
    * With `perturb` the re-cut's frames additionally take the
    * [[framePixTol]] brightness distortion (the lossy-re-encode twin
    * for the hamming-tolerant key). */
  def videoPayloadsPaired(s: SparkSession, d: String,
                          perturb: Boolean = false): DataFrame = {
    import s.implicits._
    // full-width pixel stage off a byte-planned narrow scan (the
    // Multimodal.videoPayloads 100 TB lesson)
    Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism * 2)
      .as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 2
        val w = (g % 24 + 16).toInt
        val h = (g % 18 + 16).toInt
        val nf = frameCount(g)
        val srcFrames: Seq[Int] =
          if (id % 2 == 0) 0 until nf
          else 0 until nf by 2 // the re-cut: even source frames only
        val twisted = perturb && id % 2 == 1
        Multimodal.MediaIn(id, Multimodal.buildAviFrom(
          srcFrames.map(f => Multimodal.encodePngGray(w, h,
            Array.tabulate(w * h) { i =>
              if (twisted) framePixTol(i % w, i / w, g, f)
              else framePix(i % w, i / w, g, f)
            })),
          w, h))
      })
      .toDF()
  }

  /** (doc_id, fsig) — one row per DISTINCT frame fingerprint of each
    * video: idx1 walk (stride 1: near-dup needs every frame) + decode
    * + P71 dHash, one scan-local flatMap. */
  private[graft] def frameSigs(s: SparkSession, d: String,
                               perturb: Boolean = false): DataFrame =
    sigsOf(s, videoPayloadsPaired(s, d, perturb))

  /** The decode+fingerprint stage shared by every video corpus shape:
    * payloads in, per-video DISTINCT (doc_id, fsig) out. */
  private[graft] def sigsOf(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    payloads
      .as[Multimodal.MediaIn]
      .mapPartitions(_.flatMap { m =>
        Multimodal.sampleFrames(m.payload, stride = 1, ctx = s"doc_id=${m.doc_id}")
          .map { case (_, png) =>
            val (w, h, pix) = Multimodal.decodeGray(png)
            (m.doc_id, ImageDedup.dHash64(w, h, pix))
          }
      })
      .toDF("doc_id", "fsig")
      .distinct()
  }

  /** Members per group of the DUP-HEAVY corpus ([[qVideoClusterKeepDup]]):
    * the k-identical-copies regime the frame-SET graph exists for. */
  val DupK = 100

  /** The dup-heavy corpus: group g = doc_id / [[DupK]]; members
    * 0..[[DupK]]-2 are BYTE-IDENTICAL copies of group g's base video
    * (the re-uploaded-file regime — a real video corpus's dominant
    * duplication mode), member [[DupK]]-1 is the lossy re-cut twin
    * (even source frames, [[framePixTol]] brightness clamp), so the
    * key exercises BOTH cluster paths: equal frame-sets grouping by
    * equality and distinct frame-sets pairing through the tolerant
    * match.  Under the r17 doc-pair CC this corpus was the failure
    * mode: every frame sig has df = k, so either the C(k,2) doc-pair
    * expansion (below the guard) or TOTAL frame loss (above it). */
  def videoPayloadsDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism * 2)
      .as[Long]
      .mapPartitions(_.map { id =>
        val g = id / DupK
        val recut = id % DupK == DupK - 1
        val w = (g % 24 + 16).toInt
        val h = (g % 18 + 16).toInt
        val nf = frameCount(g)
        val srcFrames: Seq[Int] =
          if (!recut) 0 until nf
          else 0 until nf by 2
        Multimodal.MediaIn(id, Multimodal.buildAviFrom(
          srcFrames.map(f => Multimodal.encodePngGray(w, h,
            Array.tabulate(w * h) { i =>
              if (recut) framePixTol(i % w, i / w, g, f)
              else framePix(i % w, i / w, g, f)
            })),
          w, h))
      })
      .toDF()
  }

  /** Guard + pair join + per-pair count over a (doc_id, fsig) frame of
    * DISTINCT per-video signatures — split out so the stop-frame guard
    * is testable against a hand-built ubiquitous-sig corpus. */
  private[graft] def sharedFramePairs(all: DataFrame): DataFrame = {
    // stop-frame guard: drop ubiquitous signatures BEFORE the pair
    // join (df counts the videos carrying the frame); the df agg and
    // the join shuffle on the same key, so the guard rides the
    // partitioning the join needs anyway
    val rare = all.groupBy("fsig").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxSigDf).select("fsig")
    val sigs = all.join(rare, "fsig")
    Pipeline.sortedOutput(
      sigs.as("a").join(sigs.as("b"),
          col("a.fsig") === col("b.fsig") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .filter(col("shared_frames") >= MinShared),
      "doc_a", "doc_b")
  }

  def qVideoDedup(s: SparkSession, d: String): DataFrame =
    // one decode pass feeds the df agg and both join sides
    sharedFramePairs(frameSigs(s, d).transform(Pipeline.stableCheckpoint))

  /** Hamming-TOLERANT shared-frame matching (VERDICT r15 item 3): the
    * exact form above is right for lossless re-containerization, but
    * real video corpora are lossy re-encodes whose frames land a few
    * BITS apart — so frames match when their fingerprints are equal OR
    * within hamming ≤ [[TolDist]], via [[HammingDedup.sigPairs]]
    * (the one banded spelling; candidates from a 4×16-bit band
    * equi-join over DISTINCT guarded signatures, never all-pairs).
    * `shared_frames` counts matched (frame_a, frame_b) combinations —
    * the bipartite match count, which reduces to the exact form's
    * distinct-shared-sig count when TolDist = 0.
    *
    * Scale note: the stop-frame guard still caps per-signature df
    * BEFORE matching; a ubiquitous near-frame CLUSTER (many distinct
    * sigs within TolDist, each individually rare) is bounded by the
    * band-bucket volume the sigPairs join already pays, same as P52. */
  private[graft] def sharedFramePairsTol(all: DataFrame): DataFrame =
    Pipeline.sortedOutput(sharedFramePairsTolUnordered(all), "doc_a", "doc_b")

  /** [[sharedFramePairsTol]] without the final ORDER BY — the
    * keep-list path ([[clusterKeepBySet]]) feeds these pairs straight
    * into the CC loop, which keys on the columns only; the declared
    * tolerant-dedup query keeps its ordered wrapper, the CC feed
    * skips the range exchange and its sampling pass (r19).
    *
    * r20 (VERDICT r19 item 1) — three structural cuts, same rows:
    *  - the guarded DISTINCT sig vocabulary IS the guard list itself
    *    (`distinct((all ⋈ rare).fsig) = rare` — every guarded sig
    *    appears in `all` with df ≥ 1), so the separate
    *    `sigs.select(fsig).distinct()` aggregate is DELETED: one
    *    guard aggregate produces both the join filter and the banded
    *    join's input vocabulary (§2.4: a distinct on data already
    *    unique);
    *  - that one guard frame is checkpointed (§5 decision-pass
    *    materialization — 8 B/sig, vocabulary-bounded, never doc
    *    rows): its four consumers (the guard join, both sides of the
    *    banded self-join, the identity branch) each re-ran the
    *    full-frame guard aggregate;
    *  - the symmetric closure of `near` is ONE explode pass (each
    *    verified pair emits (a,b) and (b,a)) instead of
    *    `near UNION near.swap`, which re-planned and RE-EXECUTED the
    *    whole banded-join subtree for the swapped branch (the
    *    duplicated work hid under a Union, not an Exchange, so
    *    exchange reuse never deduped it).
    */
  private def sharedFramePairsTolUnordered(all: DataFrame): DataFrame = {
    val uniq = Pipeline.stableCheckpoint(
      all.groupBy("fsig").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxSigDf).select(col("fsig").as("sig")))
    val sigs = all.join(uniq.select(col("sig").as("fsig")), "fsig")
    val near = graft.operators.HammingDedup
      .sigPairs(uniq, "sig", TolDist, bandBits = 16)
      .select("sig_a", "sig_b")
    // a frame pair (fa != fb) matches through exactly ONE direction of
    // the symmetric closure (emitted as two rows by one explode);
    // fa == fb through the identity branch
    val matches = near
      .select(explode(array(
        struct(col("sig_a"), col("sig_b")),
        struct(col("sig_b").as("sig_a"), col("sig_a").as("sig_b")))).as("p"))
      .select(col("p.sig_a").as("sig_a"), col("p.sig_b").as("sig_b"))
      .unionAll(uniq.select(col("sig").as("sig_a"), col("sig").as("sig_b")))
    sigs.as("a")
      .join(matches, col("a.fsig") === col("sig_a"))
      .join(sigs.as("b"),
        col("sig_b") === col("b.fsig") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= MinShared)
  }

  def qVideoDedupTol(s: SparkSession, d: String): DataFrame =
    sharedFramePairsTol(frameSigs(s, d, perturb = true).transform(Pipeline.stableCheckpoint))

  /** The ACTION step for video (VERDICT r16 item 2; re-based r18 on
    * the FRAME-SET graph — VERDICT r17 item 1, the last doc-pair CC):
    * a video's near-dup relation is a function of its DISTINCT
    * frame-fingerprint SET alone (post-guard, the tolerant match
    * compares sig sets), so videos first COLLAPSE by that set —
    * exact re-containered copies group by equality and never expand
    * to pairs, the video twin of [[Pipeline.componentLabelsBySig]] —
    * then ONE representative per distinct frame-set enters the
    * tolerant pair join + [[Pipeline.componentLabels]] loop, and docs
    * re-attach by one equi-join.  Two consequences, both intended:
    * the stop-frame df guard now counts distinct frame-SETS per sig
    * (k identical uploads no longer push a sig over [[MaxSigDf]] —
    * under the r17 doc-level guard a dup-heavy corpus had no graceful
    * path: C(k,2) pair expansion below the threshold, total frame
    * loss above it), and equal-set videos cluster unconditionally
    * (identical videos are dups by definition, even a 1-frame pair
    * below [[MinShared]]).  The keeper window is unchanged: richest
    * cut (distinct-fingerprint count from the DECODED frames) wins,
    * doc_id breaks ties.  One decode pass (localCheckpoint) feeds
    * set-collapse, pair join and keeper metadata.  One row per
    * multi-member cluster: (cluster_id, keeper, n_frames). */
  def qVideoClusterKeep(s: SparkSession, d: String): DataFrame =
    clusterKeepBySet(s, frameSigs(s, d, perturb = true).transform(Pipeline.stableCheckpoint))

  /** [[qVideoClusterKeep]] over the dup-heavy corpus
    * ([[videoPayloadsDup]]: [[DupK]]-1 identical copies + 1 lossy
    * re-cut per group) — the regime that OOM'd the audio keep's
    * doc-pair CC at sf10 in r17, gated here so the equality path
    * stays oracle-pinned. */
  def qVideoClusterKeepDup(s: SparkSession, d: String): DataFrame =
    clusterKeepBySet(s, sigsOf(s, videoPayloadsDup(s, d)).transform(Pipeline.stableCheckpoint))

  /** The hashed frame-set key's collision audit, as a COLUMN: the
    * array compare confined to hash-equal groups, evaluated lazily
    * inside the set-collapse aggregate itself — zero extra jobs or
    * actions (the first r19 cut ran an eager countDistinct audit +
    * localCheckpoint + driver action; ABBA-measured at 1.16-1.26x the
    * array-keyed baseline on the video keys, vs 1.07-1.09x for the
    * hash key alone).  `fmin`/`fmax` are `min(fset)` / `max(fset)`
    * per hash bucket (arrays are orderable): equal means every set in
    * the bucket is the same array; unequal means a real 64-bit
    * collision, and ANY downstream evaluation of the id — every path
    * uses it — refuses loudly instead of silently merging two
    * different frame-sets into one cluster (birthday risk ~ n^2/2^65
    * over distinct sets; never observed). */
  private[graft] def checkedFsetId(fsetId: Column, fmin: Column,
                                   fmax: Column, fhash: Column): Column =
    when(fmin === fmax, fsetId).otherwise(raise_error(concat(
      lit("xxhash64 collision on frame-set key: hash bucket "),
      fhash.cast("string"),
      lit(" holds distinct frame-sets; rerun with the array key")
    )).cast("long"))

  /** The frame-set-graph keep-list core: DISTINCT (doc_id, fsig) in,
    * (cluster_id, keeper, n_frames) out.  Collapse docs by sorted
    * distinct-sig array — keyed through `xxhash64(fset)` (r19,
    * VERDICT r18 item 5): the set-collapse groupBy and the doc
    * re-attach join exchange a FIXED-WIDTH 64-bit key instead of the
    * full sig array (at 100 TB a long video's set is KBs of shuffle
    * key per row); [[checkedFsetId]] keeps hash→set injective or
    * refuses, so every downstream equi-join on the hash is exact.
    * Pair only the per-set representatives, CC over the SET graph,
    * docs back in by one join, equality groups included via the
    * coalesce-to-own-set key (the [[Pipeline.componentLabelsBySig]]
    * move). */
  private[graft] def clusterKeepBySet(s: SparkSession, sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE aggregate builds the whole per-doc decision row (r19): the
    // sorted distinct-sig set, its 64-bit shuffle key, and the keeper
    // metric — `sigs` is one row per DISTINCT (doc, fsig), so n_frames
    // IS the set size; the separate groupBy(doc_id).count() and the
    // end-stage SortMergeJoin that re-attached it are gone.  The frame
    // is checkpointed because two LATER JOBS consume it (the CC loop's
    // eager pair materialization and the final cluster/keeper job):
    // exchange reuse never crosses an action, so without the barrier
    // each job re-runs the aggregate.  It is per-video METADATA — the
    // §8 "decision pass" proxy, KBs per video, never the pixels — so
    // the materialization stays bounded at corpus scale.
    val docSets = sigs.groupBy("doc_id")
      .agg(sort_array(collect_set(col("fsig"))).as("fset"))
      .withColumn("fhash", xxhash64(col("fset")))
      .withColumn("n_frames", size(col("fset")).cast("long"))
      .transform(Pipeline.stableCheckpoint)
    // one row per hash bucket; min/max(fset) ride the SAME aggregate
    // (no second distinct phase, no audit action — the checkpoint here
    // is for its two consumers, repSigs and the doc re-attach join,
    // and materializing it evaluates the collision audit exactly once)
    val fsets = docSets.groupBy("fhash")
      .agg(min("doc_id").as("raw_id"),
        min("fset").as("fset"), max("fset").as("fset_max"))
      .select(col("fhash"),
        checkedFsetId(col("raw_id"), col("fset"), col("fset_max"),
          col("fhash")).as("fset_id"),
        col("fset"))
      .transform(Pipeline.stableCheckpoint)
    val docFset = docSets.join(fsets.select("fhash", "fset_id"), "fhash")
      .select("doc_id", "fset_id", "n_frames")
    // one representative video per distinct frame-set enters the pair
    // machinery; the df guard inside the pair core now counts SETS
    // per sig, by construction
    val repSigs = fsets.select(col("fset_id").as("doc_id"),
      explode(col("fset")).as("fsig"))
    val pairs = sharedFramePairsTolUnordered(repSigs).select("doc_a", "doc_b")
    val setLabels = Pipeline.componentLabels(s, pairs)
      .select(col("doc_id").as("fset_id"), col("cluster_id").as("fgroup"))
    // group key: the set-component label, or the set's own id for
    // sets with no tolerant neighbor (their docs still cluster by
    // EQUAL frame-set); a set inside a component is never also a
    // singleton key, so keys are one-to-one with components
    val grouped = docFset.join(setLabels, Seq("fset_id"), "left")
      .withColumn("g", coalesce(col("fgroup"), col("fset_id")))
    val clusters = grouped.groupBy("g")
      .agg(min("doc_id").as("cluster_id"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("g", "cluster_id")
    val w = Window.partitionBy("cluster_id").orderBy(desc("n_frames"), col("doc_id"))
    grouped.join(clusters, "g")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper"), col("n_frames"))
      .orderBy("cluster_id")
  }

  /** The shared DuckDB replay of payload → frame pixels → 9×8 pool →
    * gradient sign → 64-bit packing → per-video distinct → df guard:
    * CTE chain ending in `dsig(doc_id, lo, hi)`.  With `perturb` the
    * re-cut's pixels take the [[framePixTol]] clamp — the tolerant
    * fixture's lossy twin. */
  private def duckDsigCtes(perturb: Boolean, div: Int = 2,
                           recutPred: String = "doc_id % 2 = 1"): String = {
    val vExpr =
      if (perturb)
        s"""CASE WHEN $recutPred
          |      THEN LEAST(((x*31 + y*17) * (g % 251 + 3) + g*7 + f*101) % 256 + 4, 255)
          |      ELSE ((x*31 + y*17) * (g % 251 + 3) + g*7 + f*101) % 256 END AS v"""
          .stripMargin
      else "((x*31 + y*17) * (g % 251 + 3) + g*7 + f*101) % 256 AS v"
    s"""dims AS (
      |  SELECT doc_id, doc_id // $div AS g,
      |    CAST((doc_id // $div) % 6 + 4 AS BIGINT) AS nf,
      |    CAST((doc_id // $div) % 24 + 16 AS BIGINT) AS width,
      |    CAST((doc_id // $div) % 18 + 16 AS BIGINT) AS height
      |  FROM documents
      |), fr0 AS (
      |  SELECT *, unnest(range(CASE WHEN NOT ($recutPred) THEN nf
      |                              ELSE (nf + 1) // 2 END)) AS j
      |  FROM dims
      |), fr AS (
      |  SELECT doc_id, g, width, height,
      |    CASE WHEN NOT ($recutPred) THEN j ELSE 2 * j END AS f
      |  FROM fr0
      |), px1 AS (
      |  SELECT *, unnest(range(width)) AS x FROM fr
      |), px AS (
      |  SELECT *, unnest(range(height)) AS y FROM px1
      |), pval AS (
      |  SELECT doc_id, f, width, height, x, y,
      |    $vExpr
      |  FROM px
      |), pooled AS (
      |  SELECT doc_id, f,
      |    (x * 9) // width AS tx, (y * 8) // height AS ty,
      |    CAST(SUM(v) // COUNT(*) AS BIGINT) AS pv
      |  FROM pval
      |  GROUP BY doc_id, f, (x * 9) // width, (y * 8) // height
      |), bits AS (
      |  SELECT l.doc_id, l.f, l.ty * 8 + l.tx AS b,
      |    CASE WHEN r.pv > l.pv THEN 1 ELSE 0 END AS bit
      |  FROM pooled l JOIN pooled r
      |    ON l.doc_id = r.doc_id AND l.f = r.f AND l.ty = r.ty AND r.tx = l.tx + 1
      |), sig AS (
      |  SELECT doc_id, f,
      |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(b AS INT))
      |             ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(b - 32 AS INT))
      |             ELSE 0 END) AS BIGINT) AS hi
      |  FROM bits GROUP BY doc_id, f
      |), dsig0 AS (
      |  SELECT DISTINCT doc_id, lo, hi FROM sig
      |), rare AS (
      |  SELECT lo, hi FROM dsig0 GROUP BY lo, hi HAVING COUNT(*) <= $MaxSigDf
      |), dsig AS (
      |  SELECT d.doc_id, d.lo, d.hi FROM dsig0 d JOIN rare r
      |    ON d.lo = r.lo AND d.hi = r.hi
      |)""".stripMargin
  }

  val qVideoDedupSql: String =
    s"""WITH ${duckDsigCtes(perturb = false)}
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(COUNT(*) AS BIGINT) AS shared_frames
      |FROM dsig a JOIN dsig b
      |  ON a.lo = b.lo AND a.hi = b.hi AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Tolerant-match oracle: the perturbed-twin replay, frames matched
    * at hamming ≤ [[TolDist]] (bipartite combination count). */
  val qVideoDedupTolSql: String =
    s"""WITH ${duckDsigCtes(perturb = true)}
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(COUNT(*) AS BIGINT) AS shared_frames
      |FROM dsig a JOIN dsig b
      |  ON a.doc_id < b.doc_id
      |  AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= $TolDist
      |GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Keep-list oracle over the FRAME-SET graph (r18): the sig replay
    * stops at `dsig0` (per-video distinct fingerprints), then mirrors
    * [[clusterKeepBySet]] — videos collapse by their sorted sig set
    * (string key: lo:hi pairs joined in order), one representative
    * per set carries its sigs through the SET-level df guard, the
    * tolerant pair CTE and the recursive reachability closure (the
    * P2b/P36 DuckDB spelling), docs re-attach through their set, and
    * equality-only groups enter via COALESCE to the set's own id.
    * n_frames counts off `dsig0` (pre-guard), as the Spark side does. */
  private def keepBySetSql(dsig0Ctes: String): String =
    s"""WITH RECURSIVE $dsig0Ctes, nf AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames FROM dsig0 GROUP BY doc_id
      |), fkey AS (
      |  SELECT doc_id, string_agg(CAST(lo AS VARCHAR) || ':' || CAST(hi AS VARCHAR),
      |    ';' ORDER BY lo, hi) AS fset
      |  FROM dsig0 GROUP BY doc_id
      |), fsets AS (
      |  SELECT fset, MIN(doc_id) AS fset_id FROM fkey GROUP BY fset
      |), docf AS (
      |  SELECT k.doc_id, f.fset_id FROM fkey k JOIN fsets f ON f.fset = k.fset
      |), fsig AS (
      |  SELECT f.fset_id, s.lo, s.hi
      |  FROM fsets f JOIN dsig0 s ON s.doc_id = f.fset_id
      |), frare AS (
      |  SELECT lo, hi FROM fsig GROUP BY lo, hi HAVING COUNT(*) <= $MaxSigDf
      |), fdsig AS (
      |  SELECT f.fset_id, f.lo, f.hi FROM fsig f JOIN frare r
      |    ON f.lo = r.lo AND f.hi = r.hi
      |), p AS (
      |  SELECT a.fset_id AS doc_a, b.fset_id AS doc_b
      |  FROM fdsig a JOIN fdsig b
      |    ON a.fset_id < b.fset_id
      |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= $TolDist
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared
      |), e AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p
      |), reach AS (
      |  SELECT DISTINCT src AS doc, src AS r FROM e
      |  UNION
      |  SELECT e.dst AS doc, reach.r FROM reach JOIN e ON e.src = reach.doc
      |), cl AS (
      |  SELECT doc AS fset_id, MIN(r) AS fgroup FROM reach GROUP BY doc
      |), fgrp AS (
      |  SELECT d.doc_id, COALESCE(cl.fgroup, d.fset_id) AS g
      |  FROM docf d LEFT JOIN cl ON cl.fset_id = d.fset_id
      |), grp AS (
      |  SELECT g, MIN(doc_id) AS cluster_id FROM fgrp
      |  GROUP BY g HAVING COUNT(*) >= 2
      |)
      |SELECT cluster_id, keeper, n_frames FROM (
      |  SELECT grp.cluster_id, f.doc_id AS keeper, nf.n_frames,
      |    ROW_NUMBER() OVER (PARTITION BY grp.cluster_id
      |      ORDER BY nf.n_frames DESC, f.doc_id) AS rk
      |  FROM fgrp f JOIN grp ON grp.g = f.g JOIN nf ON nf.doc_id = f.doc_id)
      |WHERE rk = 1
      |ORDER BY cluster_id""".stripMargin

  val qVideoClusterKeepSql: String = keepBySetSql(duckDsigCtes(perturb = true))

  val qVideoClusterKeepDupSql: String = keepBySetSql(duckDsigCtes(
    perturb = true, div = DupK, recutPred = s"doc_id % $DupK = ${DupK - 1}"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_video_dedup" -> (qVideoDedup _),
    "q_video_dedup_tol" -> (qVideoDedupTol _),
    "q_video_cluster_keep" -> (qVideoClusterKeep _),
    "q_video_cluster_keep_dup" -> (qVideoClusterKeepDup _))

  val oracle: Map[String, String] = Map(
    "q_video_dedup" -> qVideoDedupSql,
    "q_video_dedup_tol" -> qVideoDedupTolSql,
    "q_video_cluster_keep" -> qVideoClusterKeepSql,
    "q_video_cluster_keep_dup" -> qVideoClusterKeepDupSql)
}
