package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data pipeline operators (SURVEY §2.3 P1-P10) over the
  * `documents` / `embeddings` tables.  P11 (multimodal) lives in
  * [[Multimodal]].
  *
  * Scale posture: every near-dup / ANN operator is a BUCKET join —
  * candidate generation shuffles O(n · bands) fixed-width signatures,
  * never O(n²) text — with an exact verify/re-rank confined to
  * within-bucket candidates.  The DuckDB oracles compute the same
  * final semantics directly (all-pairs is fine at sf0.01); LSH
  * parameters are chosen so the candidate stage has ~zero
  * false-negative probability at the gated thresholds (64 bands × 2
  * rows: miss probability (1-s²)⁶⁴ < 1e-7 at s = 0.8).
  *
  * Determinism: all hashes derive from md5 hex digits (identical in
  * Spark, DuckDB, and JVM Scala); all floating point is computed with
  * the same association order (sequential left fold) on both sides.
  */
object Pipeline {

  /** 32-bit hash of a string: value of the first 8 hex digits of its
    * md5.  Uses the native codegen expression (one digest call);
    * numerically identical to the DuckDB oracle's hex-walk
    * formulation (see FunctionsSpec parity test). */
  private def hash32(x: String): String = s"graft_hash32($x)"

  /** Same hash in DuckDB SQL. */
  private[queries] def duckHash32(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(8), " +
      s"i -> CAST(strpos('0123456789abcdef', substr(md5($x), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b)"

  private[queries] val tok = "split(lower(text), ' ')"
  private[queries] val duckTok = "string_split(lower(text), ' ')"

  // (the Spark-side string-shingle SQL builder is gone — every Spark
  // query shingles through the fused graft_shingles32/64 kernels; the
  // DuckDB oracles still spell the string form out below)
  private[queries] def duckShingles(n: Int): String =
    s"CASE WHEN len($duckTok) < $n THEN [''] ELSE " +
      s"list_distinct(list_transform(range(len($duckTok) - ${n - 1}), " +
      s"i -> array_to_string(($duckTok)[CAST(i + 1 AS INT):CAST(i + $n AS INT)], ' '))) END"

  // ---------------------------------------------------------------- P1
  // Exact dedup: content hash → keep-list (min doc_id representative).
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  val qDedupExactSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------------------- P2
  // MinHash + LSH near-dup: 3-gram shingles → 128 minhashes → 32 bands
  // of 4 → band-bucket self-join (equi-join; shuffle ∝ n·bands) →
  // exact-Jaccard verify of candidates only.  Output = pairs with
  // J ≥ 0.8 (equals exact all-pairs result w.p. > 1 − 32·(1−0.8⁴)³²
  // ≈ 1 − 5e-8; 4 rows/band keeps base-similarity false candidates
  // ~s⁴ — at this corpus's s̄ ≈ 0.03 that is ~10⁻⁶ per band-pair
  // instead of the ~10⁻³ of 2-row bands, i.e. hundreds of candidates
  // rather than ~1M).
  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    sortedOutput(minhashPairs(s, d).select("doc_a", "doc_b", "jaccard"), "doc_a", "doc_b")

  /** The LSH candidate + exact-verify pair pipeline (shared by the
    * pair query above and the clustering query below).
    *
    * ONE document scan and ONE shuffle feed both the signature and the
    * verify stage: the minhash signature and the 64-bit shingle set
    * (verify input) are computed in the same map-side projection, so
    * the text is tokenized/shingled once per doc and the repartition
    * moves both together (r5: was two scans + two repartitions).  The
    * exchange doubles as the barrier that stops CollapseProject from
    * inlining the 128-hash signature into every element_at of the
    * band explode, recomputing it per band (measured 64s → <2s at
    * sf0.01; PlanAuditSpec asserts one minhash128 in the plan). */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // the signature is computed BELOW the exchange (map side): the
    // barrier then guarantees everything above references the
    // shuffled `sig` attribute, so CollapseProject can never inline
    // graft_minhash128 into the 128 element_at calls of the band
    // explode (the pre-r2 failure mode) — and the shuffle moves
    // fixed-width (sig, shs) rows, still one scan + one exchange
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("graft_minhash128(graft_shingles32(text, 3))").as("sig"),
        expr("graft_shingles64(text, 3)").as("shs"))
      .repartition(col("doc_id"))
    val bands = base.select(col("doc_id"),
        explode(expr("transform(sequence(0, 31), b -> " +
          "struct(b AS band, element_at(sig, 4 * b + 1) AS h1, element_at(sig, 4 * b + 2) AS h2, " +
          "element_at(sig, 4 * b + 3) AS h3, element_at(sig, 4 * b + 4) AS h4))")).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h1"), col("bk.h2"), col("bk.h3"), col("bk.h4"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h1") === col("b.h1") &&
        col("a.h2") === col("b.h2") && col("a.h3") === col("b.h3") &&
        col("a.h4") === col("b.h4") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify on candidates only: sorted 64-bit shingle-hash sets
    // + linear merge-intersect kernel (numerically identical to the
    // string-set jaccard — 2⁻⁶⁴ collision odds); the sets come from
    // the same exchange the signatures rode (ReusedExchange)
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("sha")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("shb")), "doc_b")
      .withColumn("inter", expr("graft_intersect_size(sha, shb)"))
      .withColumn("jaccard",
        expr("CAST(inter AS DOUBLE) / (size(sha) + size(shb) - inter)"))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("inter").cast("long").as("inter"),
        expr("CAST(size(sha) AS BIGINT)").as("na"),
        expr("CAST(size(shb) AS BIGINT)").as("nb"))
  }

  val qDedupMinhashSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${duckShingles(3)} AS sh FROM documents
       |), p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |    AND 5 * len(a.sh) >= 4 * len(b.sh) AND 5 * len(b.sh) >= 4 * len(a.sh)
       |)
       |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
       |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- P2b
  // Near-dup CLUSTERING: connected components over the verified pair
  // graph, labels = min reachable doc_id — the step real dedup
  // pipelines need beyond pairs (pick ONE representative per cluster,
  // not per edge; A~B and B~C must collapse to one keeper even when
  // A~C was never a candidate).  Distributed min-label propagation:
  // each round is one join + one aggregate, rounds ≤ graph diameter
  // (near-dup clusters are shallow).  No driver-side graph ever
  // materializes — the loop only orchestrates.
  def qDedupCluster(s: SparkSession, d: String): DataFrame =
    componentLabels(s, minhashPairs(s, d).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** Lineage-truncating materialization for the bounded per-doc /
    * per-sig DECISION frames that one query consumes several times
    * (signature frames, CC loop state): executor-local checkpoint by
    * default — cheapest, and exactly right in a single-node harness —
    * but when the session has a checkpoint dir configured
    * (`sc.setCheckpointDir`, i.e. a real cluster where an executor
    * loss would strand localCheckpoint blocks with NO recompute path
    * and fail the query mid-job), a RELIABLE checkpoint instead.  Same
    * results either way, pinned by CheckpointPolicySpec.  The 100 TB
    * posture: at scale, set a checkpoint dir; the harness default
    * stays local.  Not a sort barrier: a declared ORDER BY goes
    * through [[sortedOutput]], which keeps the plan lazy and visible. */
  private[graft] def stableCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The declared ORDER BY over an expensive pipeline: hash-repartition
    * on the sort keys, then sort.  The range partitioner samples its
    * child in a separate job, and without a barrier that job
    * re-executes the join/verify/kernel segment between the last
    * exchange and the sort.  The hash exchange is the barrier: under
    * AQE it materializes as its own query stage, so the sampling job
    * reads that stage's shuffle output instead.  Where the child
    * already ends in an exchange on the sort keys (an aggregate grouped
    * by them), Spark drops the repartition as redundant and that
    * exchange is the barrier.  Unlike a checkpoint, building the frame
    * starts no Spark job and the executed plan keeps every join,
    * exchange and kernel visible to the plan audits (PlanAuditSpec
    * pins the barrier per query). */
  private[graft] def sortedOutput(df: DataFrame, cols: String*): DataFrame =
    df.repartition(cols.map(col): _*).orderBy(cols.map(col): _*)

  /** Connected components over a verified (doc_a, doc_b) pair graph:
    * (doc_id, cluster_id = min reachable doc_id), unordered.  The ONE
    * spelling of distributed min-label propagation — P2b built it for
    * text near-dup pairs; the r16 media keep-lists
    * ([[ImageDedup.qImageClusterKeep]], [[AudioDedup]]) run the same
    * loop over their banded-hamming pair output (VERDICT r15 item 4:
    * dedup must END in a keep-list, not a pair list).  Only docs that
    * appear in at least one pair get a label — singletons are their
    * own keeper by definition and never enter the loop. */
  private[graft] def componentLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    // checkpoint (not persist): truncates lineage so each propagation
    // round's logical plan is just edges⋈labels — with plain persist
    // the analyzer/optimizer re-walks the whole pair-producing subtree
    // every round (measured ~2.5s → ~1.1s for the loop at sf0.1).
    // When a reliable checkpoint dir is configured (a real cluster,
    // where an executor loss would otherwise strand the blocks with no
    // recompute path), use it; local runs fall back to executor-local
    // checkpointing.
    val rawEdges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
    val edges = stableCheckpoint(rawEdges)
    // SMALL-GRAPH FAST PATH (r18, VERDICT r17 item 5): the frame
    // entering this loop is already the COLLAPSED graph — distinct
    // sigs (componentLabelsBySig) or verified near-dup pairs — whose
    // size is bounded by the near-dup vocabulary, not the corpus, and
    // at bench scale it is routinely a few thousand edges.  Running
    // 18 distributed rounds (each 3-4 exchanges + a blocking action)
    // over 6k edges measures the scheduler, not the algorithm: the
    // audio keep spent ~13 of its 14 s at sf0.1 in loop overhead.  So
    // when the EXACT edge count (a cheap count over the materialized
    // checkpoint) is within a bounded driver budget, finish with
    // union-find on the driver — same labels, same determinism, the
    // same bounded-collect class as the Gram and Bloom builds.
    // Driver budget (r20, VERDICT r19 item "what's wrong" 4): edges
    // collect as a typed Dataset[(Long, Long)] — Tuple2 is
    // @specialized on Long, so the collected array holds unboxed
    // primitives (~32 B/edge of tuple shells) instead of the previous
    // Array[Row] with two boxed Longs (~150-200 B/edge); the remaining
    // boxing is the HashMap<Long,Long> union-find state, which is
    // NODE-count-sized, not edge-sized.  The default 2M-edge cap is
    // now a ~64 MB transient against the 8g driver; anyone raising
    // spark.graft.cc.localEdgeThreshold should budget ~32 B/edge plus
    // ~50 B/node.  Above the cap (a 100 TB corpus's sig graph can be
    // billions of edges) the O(log diameter) distributed loop below is
    // the path, unchanged.  spark.graft.cc.localEdgeThreshold=0 forces
    // the loop (CcHybridSpec pins both paths to the same labels).
    val localCap = s.conf.get("spark.graft.cc.localEdgeThreshold", "2000000").toLong
    val nEdges = edges.count()
    if (nEdges <= localCap) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      // symmetric closure rows: (src,dst) and (dst,src) both present;
      // union is idempotent so the duplication is harmless
      locally {
        import s.implicits._
        edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
          .foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
          }
      }
      // min doc per component IS the root: unions always point the
      // larger root at the smaller, so find() ends at the component
      // minimum — the exact label contract of the loop below
      import scala.jdk.CollectionConverters._
      val nodes = parent.keySet.asScala.toSeq ++
        parent.values.asScala.toSeq // roots that never re-keyed
      val labelRows = nodes.distinct.map(n => (n, find(n)))
      import s.implicits._
      return labelRows.toDF("doc_id", "cluster_id")
    }
    var cached = edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .persist() // the persisted frame — unpersist must target IT,
                 // not a projection derived from it (no-op otherwise)
    var labels = cached
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      // ONE aggregation per round, three branches unioned into it:
      //   self — carries each doc's previous label as `old`, so the
      //     convergence check needs no second join (old is null on the
      //     other branches; min ignores nulls);
      //   hop  — neighbors' labels across the symmetric edges
      //     (min-label propagation proper);
      //   jump — POINTER JUMP (r16), label := label(label): every
      //     label is itself a member doc, so one self-equi-join reads
      //     each doc's label's label, chain depth ~halves per round and
      //     convergence is O(log diameter), the standard
      //     distributed-CC shortcut (cf. Kiveris et al., "Connected
      //     Components in MapReduce and Beyond", SoCC'14).  Without it
      //     the audio hamming graph — whose sigs chain — ran 100+
      //     one-hop rounds (27s at sf0.01 where siblings sat under 2s).
      // r17 (VERDICT r16 item 4): the jump is FUSED into the same
      // union/groupBy instead of running as a second join AFTER the
      // hop aggregate.  Per round that drops one exchange-
      // materialization stage (the loop's cost is stages × rounds, NOT
      // action count — a 2-jumps-per-round variant measured SLOWER),
      // and the jump reads the PRE-hop labels, which converges the
      // same (monotone min; the fixed point still requires hop
      // stability, which over symmetric edges forces per-component
      // constant labels).  Measured sf1: audio keep 42.9→30.7s, image
      // keep ~11.7→10.5s, text keys unchanged (ABBA, one window).
      val nbr = edges.join(labels, edges("src") === labels("doc"))
        .select(col("dst").as("doc"), col("label"),
          lit(null).cast("long").as("old"))
      val jmp = labels.as("x").join(
          labels.select(col("doc").as("jdoc"), col("label").as("jlabel")),
          col("x.label") === col("jdoc"))
        .select(col("x.doc").as("doc"), col("jlabel").as("label"),
          lit(null).cast("long").as("old"))
      val jumped = labels.select(col("doc"), col("label"), col("label").as("old"))
        .union(nbr).union(jmp)
        .groupBy("doc").agg(min("label").as("label"), min("old").as("old"))
      // the logical plan references the prior round's frame four times
      // (self + hop + twice in the jump), growing exponentially per
      // round: truncate lineage every 4 rounds (explainString alone
      // OOM'd the driver at depth ~20 before r16's truncation) —
      // checkpoint when a reliable dir is configured, executor-local
      // otherwise, same policy as `edges` above
      val next =
        if ((rounds + 1) % 4 == 0) stableCheckpoint(jumped)
        else jumped.persist()
      // convergence check FOLDED into the materializing action (r18,
      // VERDICT r17 item 5): one full-scan count(label<old) per round.
      // The previous filter.limit(1).count() ran CollectLimit's
      // incremental partition batches — several scheduler round-trips
      // in converged tails, and on changed rounds it early-exited with
      // the persist only PARTIALLY populated, so the next round's join
      // re-ran the remaining partitions' parent stages.  Tiny frames
      // pay rounds × job overhead, which is exactly where the r17
      // fused-jump loop regressed at sf0.1 (audio keep 10.5→13.5s).
      val changed = next
        .agg(count(when(col("label") < col("old"), lit(1))).as("n"))
        .head().getLong(0)
      cached.unpersist()
      cached = next
      labels = next.select("doc", "label")
      converged = changed == 0
      rounds += 1
    }
    // partially-propagated labels are WRONG components, not an
    // approximation — fail loudly rather than return them
    if (!converged) throw new IllegalStateException(
      s"connected-components label propagation did not converge in $rounds rounds")
    // truncate the RETURNED frame's lineage too: the loop has already
    // executed eagerly (each round's count), so consumers should plan
    // against the materialized result, not the unrolled round history
    // — which is cache-backed but still carries hundreds of plan nodes
    // into every downstream explain/audit (r16: the image keep-list's
    // audited plan counted 1774 nested exchanges before this)
    val fin = labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    val out = stableCheckpoint(fin)
    cached.unpersist() // the checkpoint holds its own blocks now
    out
  }

  /** Doc clusters via the DISTINCT-SIG graph (r17): for operators
    * whose near-dup relation is a function of ONE signature per doc
    * (P71 image dHash, P72 audio envelope dHash — doc a ~ doc b iff
    * hamming(sig_a, sig_b) ≤ d), clustering the doc-PAIR graph is
    * wasteful and, at scale, fatal: a dense near-dup cluster of m docs
    * expands to C(m,2) pair rows before the loop ever runs —
    * MEDIAPROBE r17 caught q_audio_cluster_keep OOMing at sf10 on
    * exactly this.  The doc components are EQUAL to the components of
    * the distinct-signature graph (docs sharing a sig sit on one node;
    * a doc path a~b~c is a sig path and vice versa — every sig carries
    * ≥ 1 doc), so run [[componentLabels]] over the sig-pair graph
    * (nodes = distinct sigs, edges = the banded join's verified pairs
    * — no doc expansion anywhere) and map docs in by membership.
    * Returns (doc_id, cluster_id = min doc_id of the component), only
    * for docs in multi-member clusters — the [[componentLabels]]
    * contract, at sig-graph cost.  `docSigs` must be one row per doc;
    * any EXTRA docSigs columns (keeper metrics — area, n_samples)
    * ride through to the output unchanged (r19): the keep-list
    * callers previously re-joined the sig frame on doc_id just to get
    * the metric back — a full-corpus exchange + join per query that
    * this pass-through deletes.  Internal plumbing columns use the
    * reserved `__cc_` prefix so a carry column can never be clobbered
    * by them (ADVICE r19); `docSigs` must not itself carry `__cc_*`
    * names, enforced loudly below. */
  private[graft] def componentLabelsBySig(s: SparkSession, docSigs: DataFrame,
                                          sigPairs: DataFrame): DataFrame = {
    require(!docSigs.columns.exists(_.startsWith("__cc_")),
      s"docSigs columns ${docSigs.columns.mkString(", ")} collide with the " +
        "reserved __cc_ internal prefix")
    val sigLabels = componentLabels(s,
        sigPairs.select(col("sig_a").as("doc_a"), col("sig_b").as("doc_b")))
      .select(col("doc_id").as("sig"), col("cluster_id").as("__cc_sgroup"))
    // group key: the sig-component label, or the sig itself for sigs
    // with no near neighbor (their docs still cluster by EQUAL sig) —
    // a sig inside a component is never also a singleton key, so keys
    // are one-to-one with components
    val grouped = docSigs.join(sigLabels, Seq("sig"), "left")
      .withColumn("__cc_g", coalesce(col("__cc_sgroup"), col("sig")))
    val clusters = grouped.groupBy("__cc_g")
      .agg(min("doc_id").as("cluster_id"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("__cc_g", "cluster_id")
    val carry = docSigs.columns.filter(c => c != "doc_id" && c != "sig")
    grouped.join(clusters, "__cc_g")
      .select(("doc_id" +: "cluster_id" +: carry.toSeq).map(col): _*)
  }

  val qDedupClusterSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT doc_id, ${duckShingles(3)} AS sh FROM documents
       |), p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |    AND 5 * len(a.sh) >= 4 * len(b.sh) AND 5 * len(b.sh) >= 4 * len(a.sh)
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
       |), e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p
       |), reach AS (
       |  SELECT DISTINCT src AS doc, src AS r FROM e
       |  UNION
       |  SELECT e.dst AS doc, reach.r FROM reach JOIN e ON e.src = reach.doc
       |)
       |SELECT doc AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- P3
  // SimHash: 32-bit signature over distinct-token hashes; docs sharing
  // a signature form a dup group (bucket dedup — no pairwise join).
  // Signature via the graft_simhash32 kernel: one counter-array pass
  // per doc instead of the 32-fold interpreted HOF chain (identical
  // integer vote semantics; r6 bench 2.4s → sub-second at sf0.1).
  /** text → 32-bit simhash, as one SQL scalar — shared VERBATIM by
    * the batch simhash frame below and the STREAMING near-dup
    * ([[graft.streaming.StreamNearDedup]]), so signatures cannot
    * drift between the batch and streaming faces. */
  private[graft] val simhashExpr: String =
    s"graft_simhash32(transform(array_distinct($tok), t -> ${hash32("t")}))"

  /** (doc_id, simhash) — the 32-bit simhash frame, shared VERBATIM by
    * the bucket dedup (P3) and the hamming near-dup join
    * ([[Quality.qSimhashHamming]], P52) so the two cannot drift. */
  private[graft] def simhashFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))

  /** The DuckDB twin of [[simhashFrame]]: CTEs `h` (token hashes) and
    * `sh` (doc_id, simhash), shared by both simhash oracles. */
  private[queries] val duckSimhashCte: String =
    s"""h AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct($duckTok), t -> ${duckHash32("t")}) AS hs
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(32), b ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)), (a, c) -> a + c) > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END)),
       |      (a, c) -> a + c) AS simhash
       |  FROM h
       |)""".stripMargin

  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashFrame(s, d)
      .withColumn("dup_group", min("doc_id").over(Window.partitionBy("simhash")))
      .orderBy("doc_id")

  val qDedupSimhashSql: String =
    s"""WITH $duckSimhashCte
       |SELECT doc_id, simhash, MIN(doc_id) OVER (PARTITION BY simhash) AS dup_group
       |FROM sh ORDER BY doc_id""".stripMargin

  /** Fail-fast scale guard on the exact all-pairs baselines (P4, P4b,
    * P5, P5b).  These are O(n²)-comparison shapes by DECLARED semantics
    * — correct and the right exactness oracle at gate scale, but a plan
    * a 100-TB run must never launch by accident.  The guard counts the
    * pruned key column (a parquet metadata-cheap job) and refuses to
    * build the quadratic plan above `spark.graft.allpairs.maxRows`
    * (default 1,000,000 — 5·10¹¹ pairs, already far past sane), with a
    * pointer to the sub-quadratic path that supersedes the baseline at
    * scale. */
  private[queries] def guardAllPairs(
      s: SparkSession, d: String, table: String, key: String,
      what: String, scalePath: String): Unit = {
    val max = s.conf.get("spark.graft.allpairs.maxRows", "1000000").toLong
    val n = (if (table == "embeddings") Tables.embeddings(s, d)
             else Tables.documents(s, d)).select(key).count()
    if (n > max) throw new IllegalStateException(
      s"$what is an exact all-pairs baseline (O(n^2) comparisons); its input has " +
        s"$n rows > spark.graft.allpairs.maxRows=$max. At scale use $scalePath " +
        "(sub-quadratic candidate generation), or raise the cap deliberately.")
  }

  // ---------------------------------------------------------------- P4
  // N-gram Jaccard similarity, EXACT at any scale (r9): shingle sets
  // become sorted 64-bit hash arrays (collision odds 2⁻⁶⁴ —
  // immaterial), and candidate pairs come from SimJoin's df-ordered
  // prefix filter (AllPairs/PPJoin) instead of all pairs within the
  // source block — a pair at J ≥ 0.5 must share one of each doc's
  // rarest ~len/2 shingles, so the inverted-index join touches only
  // co-rare pairs and the linear merge kernel verifies exactly.
  // Bit-identical to the quadratic form (parity spec SimJoinSpec);
  // the r8 guarded all-pairs body is gone and so is the guard.
  def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("graft_shingles64(text, 2)").as("sh"))
    sortedOutput(graft.operators.SimJoin
      .jaccardCandidates(docs, "doc_id", "source", "sh", 0.5)
      .withColumn("jaccard",
        expr("CAST(inter AS DOUBLE) / (la + lb - inter)"))
      .filter(col("jaccard") >= 0.5)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"), col("jaccard")),
      "doc_a", "doc_b")
  }

  val qNgramJaccardSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, source, ${duckShingles(2)} AS sh FROM documents
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- P4b
  // Containment similarity C(A,B) = |A∩B| / |A| — the DIRECTIONAL
  // near-dup measure (is A mostly inside B?) that catches
  // quote-inclusion and subset duplication jaccard misses.  Ordered
  // pairs, so both directions are reported.  EXACT at any scale (r9):
  // candidates = A's rarest-(len − ⌈0.3·len⌉ + 1) prefix tokens
  // joined against the full inverted index (the overlap bound ⌈0.3|A|⌉
  // depends on |A| only, so B carries no prefix), then the same merge
  // kernel verifies.  Bit-identical to the r8 quadratic form.
  def qContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("graft_shingles64(text, 2)").as("sh"))
    sortedOutput(graft.operators.SimJoin
      .containmentCandidates(docs, "doc_id", "source", "sh", 0.3)
      .withColumn("containment", expr("CAST(inter AS DOUBLE) / la"))
      .filter(col("containment") >= 0.3)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("containment")),
      "doc_a", "doc_b")
  }

  val qContainmentSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, source, ${duckShingles(2)} AS sh FROM documents
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment
       |FROM s a JOIN s b ON a.source = b.source AND a.doc_id <> b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ P5/P6
  /** Sequential-fold dot product of two float vectors in double —
    * native codegen kernel, bit-identical to the DuckDB oracle's
    * list_reduce fold (same association order; see FunctionsSpec). */
  private def dot(a: String, b: String): String = s"graft_dot($a, $b)"

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), " +
      s"i -> ($a)[CAST(i + 1 AS INT)]::DOUBLE * ($b)[CAST(i + 1 AS INT)]::DOUBLE)), (x, y) -> x + y)"

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr(s"sqrt(${dot("embedding", "embedding")})"))

  // P5 — brute-force cosine top-k: the exactness baseline (O(n·q) —
  // acceptable because q is a small probe set; the scale path is P6).
  def qAnnBruteforce(s: SparkSession, d: String): DataFrame = {
    guardAllPairs(s, d, "embeddings", "vec_id", "q_ann_bruteforce",
      "q_ann_lsh (P6) or q_ann_ivf (P6b)")
    val emb = withNorm(Tables.embeddings(s, d))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("neighbor_id"))
    broadcast(q).join(emb, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        expr(s"${dot("qe", "embedding")} / (qn * nrm)").as("cosine"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 10)
      .select(col("qid").as("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  val qAnnBruteforceSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), sc AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    ${duckDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cosine
       |  FROM n q JOIN n e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id % 100 = 0
       |)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM sc
       |) WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  // P6 — LSH-bucketed ANN: 4 anchor hyperplanes (sign of dot with
  // anchor vectors 0-3) → 16 buckets; candidates = same-bucket only
  // (equi-join), exact cosine re-rank within bucket.  Shuffle is
  // O(n · anchors) signatures, not O(n²).  `radius` adds multi-probe
  // (Lv et al., VLDB'07): queries also probe buckets within hamming
  // distance `radius` of their own — the near-miss buckets where a
  // neighbor lands when ONE hyperplane splits the pair.  Candidate
  // vectors still carry their single bucket; only the query probe
  // frame grows (×5 at radius 1), never all-pairs.
  def qAnnLshProbed(s: SparkSession, d: String, radius: Int): DataFrame = {
    require(radius >= 0 && radius <= 1, s"lsh probe radius $radius")
    val emb = withNorm(Tables.embeddings(s, d))
    val anchors = Tables.embeddings(s, d).filter(col("vec_id") < 4)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val buckets = emb.join(broadcast(anchors))
      .groupBy("vec_id")
      .agg(sum(expr(s"IF(${dot("embedding", "ae")} >= 0, " +
        "shiftleft(CAST(1 AS BIGINT), CAST(aid AS INT)), CAST(0 AS BIGINT))"))
        .cast("bigint").as("bucket"))
    val tagged = emb.join(buckets, "vec_id")
    val probeSet =
      if (radius == 0) array(col("bucket"))
      else array(col("bucket") +: (0 until 4).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b))): _*)
    val q = tagged.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(probeSet).as("qb"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("neighbor_id"))
    q.join(tagged, col("qb") === col("bucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        expr(s"${dot("qe", "embedding")} / (qn * nrm)").as("cosine"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("qid").as("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  def qAnnLsh(s: SparkSession, d: String): DataFrame = qAnnLshProbed(s, d, 0)

  /** P6 multi-probe form: own bucket + the 4 hamming-1 buckets. */
  def qAnnLshMp(s: SparkSession, d: String): DataFrame = qAnnLshProbed(s, d, 1)

  val qAnnLshSql: String =
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 4
       |), dts AS (
       |  SELECT e.vec_id, a.aid, ${duckDot("e.embedding", "a.ae")} AS dot
       |  FROM embeddings e CROSS JOIN a
       |), b AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot >= 0
       |    THEN (CAST(1 AS BIGINT) << CAST(aid AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dts GROUP BY vec_id
       |), n AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), sc AS (
       |  SELECT bq.vec_id AS qid, be.vec_id AS neighbor_id,
       |    ${duckDot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
       |  FROM b bq JOIN b be ON bq.bucket = be.bucket AND be.vec_id <> bq.vec_id
       |    JOIN n nq ON nq.vec_id = bq.vec_id
       |    JOIN n ne ON ne.vec_id = be.vec_id
       |  WHERE bq.vec_id % 100 = 0
       |)
       |SELECT qid AS query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM sc
       |) WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  val qAnnLshMpSql: String =
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 4
       |), dts AS (
       |  SELECT e.vec_id, a.aid, ${duckDot("e.embedding", "a.ae")} AS dot
       |  FROM embeddings e CROSS JOIN a
       |), b AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot >= 0
       |    THEN (CAST(1 AS BIGINT) << CAST(aid AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dts GROUP BY vec_id
       |), n AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), pr AS (
       |  SELECT vec_id AS qid, unnest([bucket, xor(bucket, CAST(1 AS BIGINT)),
       |    xor(bucket, CAST(2 AS BIGINT)), xor(bucket, CAST(4 AS BIGINT)),
       |    xor(bucket, CAST(8 AS BIGINT))]) AS qb
       |  FROM b WHERE vec_id % 100 = 0
       |), sc AS (
       |  SELECT pr.qid, be.vec_id AS neighbor_id,
       |    ${duckDot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
       |  FROM pr JOIN b be ON be.bucket = pr.qb AND be.vec_id <> pr.qid
       |    JOIN n nq ON nq.vec_id = pr.qid
       |    JOIN n ne ON ne.vec_id = be.vec_id
       |)
       |SELECT qid AS query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM sc
       |) WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // --------------------------------------------------------------- P6b
  // IVF-style ANN: coarse quantization — every vector is assigned to
  // its nearest of 8 centroid vectors (argmax cosine, deterministic
  // tiebreak); queries probe their `probes` nearest cells (multi-probe
  // recovers neighbors that fall just across a Voronoi boundary — the
  // standard IVF recall lever, audited by q_ann_recall_ivf), exact
  // re-rank over the probed cells' members.  Assignment is one
  // broadcast pass (O(n·centroids) dots); candidate vectors shuffle
  // ONCE by their single assigned cell — only the m-row-per-query
  // probe frame grows with m; never all-pairs.
  def qAnnIvfProbed(s: SparkSession, d: String, probes: Int): DataFrame = {
    val emb = withNorm(Tables.embeddings(s, d))
    val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("aid"), col("embedding").as("ae"))
    val w1 = Window.partitionBy("vec_id").orderBy(desc("acos"), col("aid"))
    val ranked = emb.select("vec_id", "embedding").join(broadcast(cents))
      .select(col("vec_id"), col("aid"),
        expr("graft_cosine(embedding, ae)").as("acos"))
      .withColumn("rn", row_number().over(w1))
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("aid").as("cell"))
    val tagged = emb.join(assigned, "vec_id")
    val qprobes = ranked.filter(col("rn") <= probes && col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("aid").as("qcell"))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
      .join(qprobes, "qid")
    val w2 = Window.partitionBy("qid").orderBy(desc("cosine"), col("neighbor_id"))
    q.join(tagged, col("qcell") === col("cell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        expr(s"${dot("qe", "embedding")} / (qn * nrm)").as("cosine"))
      .withColumn("rk", row_number().over(w2).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("qid").as("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  def qAnnIvf(s: SparkSession, d: String): DataFrame = qAnnIvfProbed(s, d, 1)

  /** P6b multi-probe form: 3 nearest cells per query. */
  def qAnnIvfMp(s: SparkSession, d: String): DataFrame = qAnnIvfProbed(s, d, 3)

  val qAnnIvfSql: String =
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 8
       |), n AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), an AS (
       |  SELECT aid, ae, sqrt(${duckDot("ae", "ae")}) AS anrm FROM a
       |), asg AS (
       |  SELECT vec_id, aid AS cell FROM (
       |    SELECT e.vec_id, an.aid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckDot("e.embedding", "an.ae")} / (n.nrm * an.anrm) DESC, an.aid) AS rn
       |    FROM embeddings e CROSS JOIN an JOIN n ON n.vec_id = e.vec_id
       |  ) WHERE rn = 1
       |), sc AS (
       |  SELECT qa.vec_id AS qid, ea.vec_id AS neighbor_id,
       |    ${duckDot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
       |  FROM asg qa JOIN asg ea ON qa.cell = ea.cell AND ea.vec_id <> qa.vec_id
       |    JOIN n nq ON nq.vec_id = qa.vec_id
       |    JOIN n ne ON ne.vec_id = ea.vec_id
       |  WHERE qa.vec_id % 100 = 0
       |)
       |SELECT qid AS query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM sc
       |) WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  /** Shared WITH-clauses for the IVF oracles: cell scores ranked per
    * vector, single-cell assignment, and an m-nearest-cell probe
    * frame for the query subset. */
  private def ivfOracleCtes(probes: Int): String =
    s"""WITH a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 8
       |), n AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), an AS (
       |  SELECT aid, ae, sqrt(${duckDot("ae", "ae")}) AS anrm FROM a
       |), scored AS (
       |  SELECT e.vec_id, an.aid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${duckDot("e.embedding", "an.ae")} / (n.nrm * an.anrm) DESC, an.aid) AS rn
       |  FROM embeddings e CROSS JOIN an JOIN n ON n.vec_id = e.vec_id
       |), asg AS (
       |  SELECT vec_id, aid AS cell FROM scored WHERE rn = 1
       |), pr AS (
       |  SELECT vec_id AS qid, aid AS qcell FROM scored
       |  WHERE rn <= $probes AND vec_id % 100 = 0
       |), sc AS (
       |  SELECT pr.qid, ea.vec_id AS neighbor_id,
       |    ${duckDot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
       |  FROM pr JOIN asg ea ON pr.qcell = ea.cell AND ea.vec_id <> pr.qid
       |    JOIN n nq ON nq.vec_id = pr.qid
       |    JOIN n ne ON ne.vec_id = ea.vec_id
       |)""".stripMargin

  val qAnnIvfMpSql: String =
    s"""${ivfOracleCtes(3)}
       |SELECT qid AS query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM sc
       |) WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // --------------------------------------------------------------- P5b
  // Embedding-cosine near-dup pairs: exact all-pairs at gate scale
  // (the sanctioned brute-force baseline — the kernel streams the
  // triangular product, no shuffle of pairs); at 100 TB the LSH
  // bucket path (P6) generates candidates and this exact cosine is
  // the verify step.
  def qDedupEmbedding(s: SparkSession, d: String): DataFrame = {
    guardAllPairs(s, d, "embeddings", "vec_id", "q_dedup_embedding",
      "q_ann_lsh (P6) candidate buckets + this exact cosine as verify step")
    // norms precomputed per VECTOR, not per pair: the triangular
    // product then pays one dot per pair instead of three
    // (graft_cosine's fused loop ≡ graft_dot/(√·√) bit-for-bit — same
    // per-index fold order — so the gate hash is unchanged; r6: 4.1s
    // → 2.7s at sf0.1, the rest is pair enumeration)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr("graft_dot(a.embedding, b.embedding) / (a.nrm * b.nrm)").as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy("vec_a", "vec_b")
  }

  val qDedupEmbeddingSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- P7
  // Language-ID heuristic: stopword hit counts + multibyte ratio.
  // Single source: the one-pass graft_text_gates kernel and the oracle
  // SQL literals read the SAME lists (r19).
  private val stop = graft.functions.GraftFunctions.stopWords

  private def stopCount(lang: String, arrFn: String => String): String = {
    val lst = stop(lang).map(w => s"'$w'").mkString(", ")
    arrFn(lst)
  }

  def qLangId(s: SparkSession, d: String): DataFrame = {
    // r19: the four stop counts come from ONE graft_text_gates pass
    // (same values by construction — the kernel runs the identical
    // toLowerCase/split/byte-equality steps the spelled-out
    // size(filter(split(lower…)))) higher-order chain evaluated, but
    // inside codegen and tokenizing once instead of four times)
    Tables.documents(s, d)
      .withColumn("tg", expr("graft_text_gates(text)"))
      .withColumn("s_en", col("tg.s_en")).withColumn("s_de", col("tg.s_de"))
      .withColumn("s_es", col("tg.s_es")).withColumn("s_fr", col("tg.s_fr"))
      .withColumn("m", greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")))
      .withColumn("pred_lang", expr(
        """CASE WHEN CAST(octet_length(text) AS DOUBLE) > 1.5 * length(text) THEN 'zh'
          |     WHEN m = 0 THEN 'unknown'
          |     WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
          |     WHEN s_es = m THEN 'es' ELSE 'fr' END""".stripMargin))
      .withColumn("correct", expr("CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS INT)"))
      .select("doc_id", "lang", "pred_lang", "correct")
      .orderBy("doc_id")
  }

  val qLangIdSql: String = {
    def cnt(l: String) = stopCount(l,
      lst => s"CAST(len(list_filter($duckTok, t -> list_contains([$lst], t))) AS INT)")
    s"""WITH sc AS (
       |  SELECT doc_id, lang, text,
       |    ${cnt("en")} AS s_en, ${cnt("de")} AS s_de,
       |    ${cnt("es")} AS s_es, ${cnt("fr")} AS s_fr
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN CAST(strlen(text) AS DOUBLE) > 1.5 * length(text) THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
       |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM sc
       |)
       |SELECT doc_id, lang, pred_lang,
       |  CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS INT) AS correct
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- P8
  // Quality scoring: distinct-token ratio, length score, stopword
  // ratio → weighted score.  All doubles derived with identical
  // association order on both sides — no rounding needed.
  def qQualityScore(s: SparkSession, d: String): DataFrame = {
    // r19: n_tok / distinct / stop-count off one graft_text_gates pass
    // (the spelled-out form tokenized the text four times through
    // interpreted higher-order functions); the DOUBLE arithmetic keeps
    // the exact original cast/division tree, so scores stay bit-equal
    Tables.documents(s, d)
      .withColumn("tg", expr("graft_text_gates(text)"))
      .withColumn("n_tok", expr("CAST(tg.n_tok AS BIGINT)"))
      .withColumn("distinct_ratio",
        expr("CAST(tg.n_distinct AS DOUBLE) / tg.n_tok"))
      .withColumn("len_score",
        expr("least(CAST(n_tok AS DOUBLE), 200.0) / 200.0"))
      .withColumn("stop_ratio", expr("CAST(tg.s_en AS DOUBLE) / tg.n_tok"))
      .withColumn("score",
        expr("100 * (0.4 * distinct_ratio + 0.3 * len_score + 0.3 * stop_ratio)"))
      .select("doc_id", "n_tok", "distinct_ratio", "stop_ratio", "score")
      .orderBy("doc_id")
  }

  val qQualityScoreSql: String = {
    val enCnt = stopCount("en",
      lst => s"len(list_filter($duckTok, t -> list_contains([$lst], t)))")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len($duckTok) AS BIGINT) AS n_tok,
       |    CAST(len(list_distinct($duckTok)) AS DOUBLE) / len($duckTok) AS distinct_ratio,
       |    CAST($enCnt AS DOUBLE) / len($duckTok) AS stop_ratio
       |  FROM documents
       |)
       |SELECT doc_id, n_tok, distinct_ratio, stop_ratio,
       |  100 * (0.4 * distinct_ratio
       |       + 0.3 * (least(CAST(n_tok AS DOUBLE), 200.0) / 200.0)
       |       + 0.3 * stop_ratio) AS score
       |FROM q ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- P9
  // Token counting: whitespace tokens + regex (BPE-ish word pieces).
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)").as("ws_tokens"),
        expr("CAST(size(filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT)").as("re_tokens"),
        expr("CAST(octet_length(text) AS BIGINT)").as("n_bytes"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars_calc"))
      .orderBy("doc_id")

  val qTokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS ws_tokens,
      |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS re_tokens,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  CAST(length(text) AS BIGINT) AS n_chars_calc
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- P10
  // Document fingerprinting by winnowing (k=8 char-grams, window w=4,
  // min hash per window, distinct mins) — the standard rolling-hash
  // sampling used for plagiarism-style containment detection.
  def qFingerprint(s: SparkSession, d: String): DataFrame =
    sortedOutput(Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("graft_winnow(graft_grams32(text, 8), 4)")).as("fingerprint")),
      "doc_id", "fingerprint")

  val qFingerprintSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, list_transform(range(length(lower(text)) - 7),
       |    i -> substr(lower(text), CAST(i + 1 AS INT), 8)) AS grams
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, list_transform(grams, g -> ${duckHash32("g")}) AS gh FROM g
       |), f AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(gh) - 3),
       |    j -> list_min(gh[CAST(j + 1 AS INT):CAST(j + 4 AS INT)]))) AS fps
       |  FROM h
       |)
       |SELECT doc_id, unnest(fps) AS fingerprint FROM f
       |ORDER BY doc_id, fingerprint""".stripMargin

  // --------------------------------------------------------------- P40
  // Distributed k-means over embeddings (2 Lloyd iterations, k=8) in
  // PURE INTEGER arithmetic, so a 1000-executor run hash-matches the
  // single-node oracle exactly: vectors quantize to micro-units
  // (FLOOR(v·10⁶+0.5), the P26 move), assignment is argmax of BIGINT
  // dot products (ties → smallest cell), and centroid updates are
  // truncating integer means (identical DIV semantics in Spark and
  // DuckDB).  Scale shape: centroids are a k×dim broadcast; each
  // assignment is one map-side pass + a partial-agg argmax (max_by,
  // no window shuffle); each update is one (cell,dim)-key aggregation
  // — Lloyd's algorithm with shuffles ∝ k·dim, not n.
  private val KmeansK = 8

  /** Shared two-iteration Lloyd state: (quantized vectors, final
    * centroids, final assignment).  The quantized frame is persisted —
    * it feeds every assign and update stage, and without the cache the
    * plan re-scans and re-quantizes the embeddings table once per
    * consumer (MLlib's Lloyd caches its vectors for the same reason);
    * c1 is persisted because the profile consumes it twice (broadcast
    * + the a2 subtree). */
  private def kmeansState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("qv"))
      .persist()

    // nearest centroid in exact integers: argmin ‖x−c‖² =
    // argmax (2·x·c − c·c) — the −‖c‖² term is what makes this
    // Lloyd's assignment rather than a raw dot-product argmax (which
    // drifts toward large-norm centroids).  One aggregate with
    // partials; the (score, -cell) ordering struct is unique per
    // vector so max_by is deterministic
    def assign(cents: DataFrame): DataFrame =
      q.join(broadcast(cents))
        .withColumn("score",
          expr("2 * graft_doti(qv, c) - graft_doti(c, c)"))
        .groupBy("vec_id")
        .agg(expr("max_by(cell, struct(score, -cell))").as("cell"))

    def update(assigned: DataFrame): DataFrame =
      assigned.join(q, "vec_id")
        .select(col("cell"), posexplode(col("qv")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(expr("sum(x) DIV count(1)").as("v"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(d, v))), e -> e.v)").as("c"))

    val c0 = q.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cell"), col("qv").as("c"))
    val c1 = update(assign(c0)).persist()
    (q, c1, assign(c1))
  }

  def qKmeans(s: SparkSession, d: String): DataFrame = {
    val (_, _, a2) = kmeansState(s, d)
    a2.select(col("vec_id"), col("cell")).orderBy("vec_id")
  }

  // -------------------------------------------------------------- P40b
  // k-means quality profile: per final cell, member count and exact
  // inertia Σ‖x−c‖² — the elbow-method table.  The per-vector distance
  // expands to doti(x,x) − 2·doti(x,c) + doti(c,c) (three codegen
  // BIGINT dots against the broadcast centroid).  Each d² is pre-scaled
  // DIV 10⁶ (micro² → micro scale) BEFORE the sum so the BIGINT
  // accumulation holds ~3e10 vectors per cell without wrapping — and
  // stays int64 end-to-end (a DECIMAL/HUGEINT sum silently coerces to
  // float64 in arrow/pandas comparisons past 2⁵³, the exactness
  // failure mode this whole suite avoids).
  def qKmeansProfile(s: SparkSession, d: String): DataFrame = {
    val (q, c1, a2) = kmeansState(s, d)
    a2.join(q, "vec_id").join(broadcast(c1), "cell")
      .withColumn("d2", expr(
        "graft_doti(qv, qv) - 2 * graft_doti(qv, c) + graft_doti(c, c)"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("d2 DIV 1000000")).as("inertia_m"))
      .orderBy("cell")
  }

  val qKmeansProfileSql: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(len($a)), " +
        s"i -> $a[CAST(i + 1 AS INT)] * $b[CAST(i + 1 AS INT)])), (x, y) -> x + y)"
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cell, qv AS c FROM q WHERE vec_id < $KmeansK
       |), a1 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c0.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY 2 * ${dot("q.qv", "c0.c")} - ${dot("c0.c", "c0.c")} DESC, c0.cell) AS rk
       |    FROM q, c0)
       |  WHERE rk = 1
       |), c1 AS (
       |  SELECT cell, list(v ORDER BY d) AS c FROM (
       |    SELECT cell, d, CAST(SUM(x) AS BIGINT) // COUNT(*) AS v FROM (
       |      SELECT a1.cell, unnest(range(len(q.qv))) AS d,
       |        unnest(q.qv) AS x
       |      FROM a1 JOIN q USING (vec_id))
       |    GROUP BY cell, d)
       |  GROUP BY cell
       |), a2 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c1.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY 2 * ${dot("q.qv", "c1.c")} - ${dot("c1.c", "c1.c")} DESC, c1.cell) AS rk
       |    FROM q, c1)
       |  WHERE rk = 1
       |)
       |SELECT a2.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM((${dot("q.qv", "q.qv")} - 2 * ${dot("q.qv", "c1.c")}
       |    + ${dot("c1.c", "c1.c")}) // 1000000) AS BIGINT) AS inertia_m
       |FROM a2 JOIN q USING (vec_id) JOIN c1 ON c1.cell = a2.cell
       |GROUP BY a2.cell
       |ORDER BY a2.cell""".stripMargin
  }

  /** Exact BIGINT dot over two quantized DuckDB lists — the oracle
    * twin of graft_doti, shared by the k-means and SemDeDup oracles. */
  private def duckDoti(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(len($a)), " +
      s"i -> $a[CAST(i + 1 AS INT)] * $b[CAST(i + 1 AS INT)])), (x, y) -> x + y)"

  /** Shared oracle CTE chain for the two-iteration Lloyd state
    * (q → c0 → a1 → c1 → a2) — q_kmeans and q_semdedup both consume
    * it, so the assignment/update arithmetic lives in ONE place. */
  private val duckKmeansCtes: String = {
    def dot(a: String, b: String): String = duckDoti(a, b)
    def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, $cents.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY 2 * ${dot("q.qv", s"$cents.c")} - ${dot(s"$cents.c", s"$cents.c")} DESC, $cents.cell) AS rk
         |    FROM q, $cents)
         |  WHERE rk = 1
         |)""".stripMargin
    def update(assigned: String, out: String): String =
      s"""$out AS (
         |  SELECT cell, list(v ORDER BY d) AS c FROM (
         |    SELECT cell, d, CAST(SUM(x) AS BIGINT) // COUNT(*) AS v FROM (
         |      SELECT $assigned.cell, unnest(range(len(q.qv))) AS d,
         |        unnest(q.qv) AS x
         |      FROM $assigned JOIN q USING (vec_id))
         |    GROUP BY cell, d)
         |  GROUP BY cell
         |)""".stripMargin
    s"""q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cell, qv AS c FROM q WHERE vec_id < $KmeansK
       |), ${assign("c0", "a1")}, ${update("a1", "c1")}, ${assign("c1", "a2")}""".stripMargin
  }

  val qKmeansSql: String =
    s"""WITH $duckKmeansCtes
       |SELECT vec_id, cell FROM a2 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- P60
  // SemDeDup (Abbas et al. 2023 "SemDeDup: Data-efficient learning at
  // web-scale through semantic deduplication"): semantic near-dup
  // removal INSIDE k-means cells — cluster the embeddings (the P40
  // Lloyd state, reused verbatim), then within each cell drop every
  // vector that has a LOWER-id cell-mate with cosine ≥ τ (the
  // deterministic earliest-representative convention the exact-dedup
  // family uses).  The clustering is what makes this a 100-TB shape:
  // pair work is Σ|cell|² — at production scale k grows with n so
  // cells stay small and the candidate join never approaches
  // all-pairs (the paper's own argument for clustering first), while
  // cross-cell near-dups are the sanctioned recall loss.  Cosines run
  // over the SAME micro-quantized integer vectors as the clustering
  // (graft_doti → exact BIGINT dots; the divide/sqrt are single
  // correctly-rounded IEEE expressions identical on both engines).
  private val SemTau = "0.45"

  def qSemDedup(s: SparkSession, d: String): DataFrame = {
    val (q, _, a2) = kmeansState(s, d)
    // one small (vec_id, cell, qv) frame feeds BOTH self-join sides:
    // without the checkpoint each side re-runs the full two-iteration
    // Lloyd assignment subtree
    val members = a2.join(q, "vec_id")
      .select(col("vec_id"), col("cell"), col("qv")).transform(stableCheckpoint)
    val cos = "CAST(graft_doti(a.qv, b.qv) AS DOUBLE) / " +
      "(sqrt(CAST(graft_doti(a.qv, a.qv) AS DOUBLE)) * " +
      "sqrt(CAST(graft_doti(b.qv, b.qv) AS DOUBLE)))"
    val drops = members.as("a").join(members.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"$cos >= $SemTau"))
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    members.select("vec_id", "cell").join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
      .orderBy("vec_id")
  }

  val qSemDedupSql: String = {
    val cos = s"CAST(${duckDoti("a.qv", "b.qv")} AS DOUBLE) / " +
      s"(sqrt(CAST(${duckDoti("a.qv", "a.qv")} AS DOUBLE)) * " +
      s"sqrt(CAST(${duckDoti("b.qv", "b.qv")} AS DOUBLE)))"
    s"""WITH $duckKmeansCtes, m AS (
       |  SELECT a2.vec_id, a2.cell, q.qv FROM a2 JOIN q USING (vec_id)
       |), drops AS (
       |  SELECT DISTINCT b.vec_id FROM m a JOIN m b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE $cos >= $SemTau
       |)
       |SELECT m.vec_id, m.cell, drops.vec_id IS NOT NULL AS dropped
       |FROM m LEFT JOIN drops ON m.vec_id = drops.vec_id
       |ORDER BY m.vec_id""".stripMargin
  }

  // --------------------------------------------------------------- P43
  // Embedding covariance prep (upper-triangle Gram matrix + per-dim
  // sums) — the exact-integer input to PCA/whitening.  Shape: the
  // per-vector pair explode (d(d+1)/2 rows) feeds a hash aggregate
  // whose MAP-SIDE partials collapse to 2080 rows per partition before
  // any shuffle — i.e. the classic per-partition Gram kernel, written
  // declaratively.  Products pre-scale DIV 10⁶ (micro²→micro) so the
  // BIGINT sums hold ~10¹² vectors.  Output is deterministic integers;
  // cov(d1,d2) = (s12·n − s1·s2/10⁶-ish scaling) is left to the
  // consumer, keeping the gated result engine-exact.
  /** Shared oracle CTEs: micro-quantized vectors (q) and the
    * upper-triangle Gram pair stream (p) with the micro² DIV 10⁶
    * pre-scale — used by BOTH q_embed_cov and q_pca_project so the
    * subtle index arithmetic lives in one place. */
  private val gramPairCtes: String =
    """q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), p AS (
      |  SELECT
      |    unnest(flatten(list_transform(range(len(qv)), i ->
      |      list_transform(range(i, len(qv)), j -> i)))) AS d1,
      |    unnest(flatten(list_transform(range(len(qv)), i ->
      |      list_transform(range(i, len(qv)), j -> j)))) AS d2,
      |    unnest(flatten(list_transform(range(len(qv)), i ->
      |      list_transform(range(i, len(qv)), j ->
      |        (qv[CAST(i + 1 AS INT)] * qv[CAST(j + 1 AS INT)]) // 1000000)))) AS xy
      |  FROM q
      |)""".stripMargin

  def qEmbedCov(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("qv"))
    // packed-long pair stream (graft_grampack): the explode moves
    // primitive longs and the (d1,d2) decode happens AFTER the
    // aggregate collapse — the interpreted struct-building HOF form
    // ran 20× slower at the 100× probe (48s → 2.4s for 104M pairs).
    // d1 sits in bits 52-63, so it MUST be masked like d2: an
    // arithmetic shiftright alone sign-extends for dims ≥ 2048
    val pairs = q.select(explode(expr("graft_grampack(qv)")).as("p"))
      .groupBy(expr("shiftright(p, 52) & 4095").as("d1"),
        expr("shiftright(p, 40) & 4095").as("d2"))
      .agg(sum(expr("(p & 1099511627775) - 549755813888")).as("s12"),
        count(lit(1)).as("n"))
    val dims = q.select(posexplode(col("qv")).as(Seq("dd", "x")))
      .groupBy(col("dd").cast("long").as("dd"))
      .agg(sum("x").as("sd"))
    pairs
      .join(broadcast(dims.select(col("dd").as("d1"), col("sd").as("s1"))), "d1")
      .join(broadcast(dims.select(col("dd").as("d2"), col("sd").as("s2"))), "d2")
      .select(col("d1"), col("d2"), col("s12"), col("s1"), col("s2"), col("n"))
      .orderBy("d1", "d2")
  }

  val qEmbedCovSql: String =
    s"""WITH $gramPairCtes, g AS (
      |  SELECT d1, d2, CAST(SUM(xy) AS BIGINT) AS s12,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM p GROUP BY d1, d2
      |), dims AS (
      |  SELECT dd, CAST(SUM(x) AS BIGINT) AS sd FROM (
      |    SELECT unnest(range(len(qv))) AS dd, unnest(qv) AS x FROM q)
      |  GROUP BY dd
      |)
      |SELECT g.d1, g.d2, g.s12, a.sd AS s1, b.sd AS s2, g.n
      |FROM g JOIN dims a ON a.dd = g.d1 JOIN dims b ON b.dd = g.d2
      |ORDER BY g.d1, g.d2""".stripMargin

  // --------------------------------------------------------------- P47
  // Principal-direction projection (the PCA step the P43 Gram matrix
  // prepares for): two power-iteration steps on the Gram matrix in
  // EXACT INTEGER arithmetic, then every embedding projected onto the
  // resulting direction.  Scale shape — the same split Spark MLlib's
  // PCA uses: the only data-sized computation is the distributed Gram
  // kernel (map-side-collapsed packed-pair aggregate, shuffle = d²/2
  // rows per partition); the eigen-iteration is O(d²)=4096 driver ops
  // on the collected 64×64 matrix (size fixed by dimension, not corpus),
  // and the direction returns to the executors as a broadcast literal
  // feeding the codegen'd `graft_doti` kernel — one more scan, no
  // shuffle.  Every rescale is a divide-only renorm (scale = max|v|
  // DIV 10⁶ + 1, both engines truncate toward zero): dividing before
  // any multiply keeps every vector entry ≤ ~10⁶ and every matvec
  // partial < 10¹⁴ — BIGINT-safe at any corpus size — and the result
  // bit-identical across partial-agg orders, cluster sizes, and
  // engines.  Sign is pinned by the deterministic all-ones seed.
  def qPcaProject(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("qv"))
    // upper-triangle Gram, same packed kernel + micro² DIV 10⁶
    // pre-scale as qEmbedCov (gate-proven identical to the oracle's)
    val tri = q.select(explode(expr("graft_grampack(qv)")).as("p"))
      .groupBy(expr(s"CAST(shiftright(p, 52) & 4095 AS INT)").as("d1"),
        expr("CAST(shiftright(p, 40) & 4095 AS INT)").as("d2"))
      .agg(sum(expr("(p & 1099511627775) - 549755813888")).as("s12"))
      .collect()
    if (tri.isEmpty) {
      // empty table → empty projection, like the oracle's empty scan
      return q.select(col("vec_id"), lit(0L).as("proj")).orderBy("vec_id")
    }
    val dim = tri.iterator.map(_.getInt(1)).max + 1
    val g = Array.ofDim[Long](dim, dim)
    tri.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getLong(2))
      g(i)(j) = v; g(j)(i) = v
    }
    // ONE global matrix scale (independent row scales would break
    // symmetry), then the same divide-only renorm between steps: no
    // multiply can overflow because operands enter each product
    // already ≤ ~10⁶
    val gScale = g.iterator.flatten.map(math.abs).max / 1000000L + 1L
    for (i <- 0 until dim; j <- 0 until dim) g(i)(j) /= gScale
    def renorm(v: Array[Long]): Array[Long] = {
      val scale = v.iterator.map(math.abs).max / 1000000L + 1L
      v.map(_ / scale)
    }
    def matvec(v: Array[Long]): Array[Long] =
      Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * v(j)).sum)
    val dir = renorm(matvec(renorm(matvec(Array.fill(dim)(1L)))))
    q.select(col("vec_id"),
        expr(s"graft_doti(qv, array(${dir.mkString("L,")}L))").as("proj"))
      .orderBy("vec_id")
  }

  val qPcaProjectSql: String =
    s"""WITH $gramPairCtes, g0 AS (
      |  SELECT d1, d2, CAST(SUM(xy) AS BIGINT) AS s FROM p GROUP BY d1, d2
      |), gfull AS (
      |  SELECT d1, d2, s FROM g0
      |  UNION ALL SELECT d2, d1, s FROM g0 WHERE d1 <> d2
      |), gsc AS (
      |  SELECT MAX(ABS(s)) // 1000000 + 1 AS c FROM gfull
      |), g AS (
      |  SELECT d1, d2, s // (SELECT c FROM gsc) AS s FROM gfull
      |), v1 AS (
      |  SELECT d1 AS dd, CAST(SUM(s) AS BIGINT) AS v FROM g GROUP BY d1
      |), m1 AS (
      |  SELECT MAX(ABS(v)) // 1000000 + 1 AS m FROM v1
      |), v1n AS (
      |  SELECT dd, v // (SELECT m FROM m1) AS v FROM v1
      |), v2 AS (
      |  SELECT g.d1 AS dd, CAST(SUM(g.s * v1n.v) AS BIGINT) AS v
      |  FROM g JOIN v1n ON v1n.dd = g.d2 GROUP BY g.d1
      |), m2 AS (
      |  SELECT MAX(ABS(v)) // 1000000 + 1 AS m FROM v2
      |), v2n AS (
      |  SELECT dd, v // (SELECT m FROM m2) AS v FROM v2
      |)
      |SELECT q.vec_id,
      |  CAST(SUM(q.qv[CAST(v2n.dd + 1 AS INT)] * v2n.v) AS BIGINT) AS proj
      |FROM q, v2n GROUP BY q.vec_id ORDER BY q.vec_id""".stripMargin

  // --------------------------------------------------------------- P51
  // The composite RELEASE FILTER — the keep/drop decision an actual
  // training-data release runs, combining four gates per document in
  // ONE pass: exact-dedup canonicality (min doc_id over the content
  // hash group — the only exchange in the plan), quality score ≥ 30
  // (the P8 formula, identical association order both engines),
  // predicted-language == en (the P7 heuristic), and PII-free (the P50
  // patterns over the same deterministic injection).  Everything but
  // the dedup window is scan-local, so at 100 TB this costs one
  // content-hash shuffle — not four pipeline passes.
  /** The scan-local release gates (quality, language, PII) on any
    * frame carrying (doc_id, text) — shared VERBATIM between the batch
    * composite below and its streaming analog
    * ([[graft.streaming.StreamReleaseFilter]]), so the two engines
    * cannot drift: adds q_pass / lang_en / pii_free (plus the
    * intermediate score / lang-evidence columns they derive from).
    * Everything here is per-row, so in a stream it runs in the scan
    * stage with no state. */
  def releaseGates(df: DataFrame): DataFrame = {
    val piiPats = Seq(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "\\+?[0-9][0-9 -]{6,}[0-9]",
      "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b")
    // r19: every token statistic (distinct ratio, token count, the
    // four stop counts) comes off ONE graft_text_gates pass instead of
    // six interpreted higher-order tokenizations; the DOUBLE tree of
    // `score` keeps the original cast/division shape, so the scores —
    // and everything gated on them — stay bit-equal
    df
      .withColumn("tg", expr("graft_text_gates(text)"))
      .withColumn("score", expr(
        """100 * (0.4 * (CAST(tg.n_distinct AS DOUBLE) / tg.n_tok)
          |     + 0.3 * (least(CAST(tg.n_tok AS DOUBLE), 200.0) / 200.0)
          |     + 0.3 * (CAST(tg.s_en AS DOUBLE) / tg.n_tok))""".stripMargin))
      .withColumn("s_en", col("tg.s_en")).withColumn("s_de", col("tg.s_de"))
      .withColumn("s_es", col("tg.s_es")).withColumn("s_fr", col("tg.s_fr"))
      .withColumn("m", greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr")))
      .withColumn("lang_en", expr(
        """CAST(CASE WHEN CAST(octet_length(text) AS DOUBLE) > 1.5 * length(text) THEN 0
          |     WHEN m = 0 THEN 0
          |     WHEN s_de = m THEN 0 WHEN s_en = m THEN 1
          |     ELSE 0 END AS INT)""".stripMargin))
      .withColumn("aug", concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(
          lit(" reach user"), expr("CAST(doc_id % 50 AS STRING)"),
          lit("@mail"), expr("CAST(doc_id % 7 AS STRING)"),
          lit(".com or host 10."), expr("CAST(doc_id % 256 AS STRING)"),
          lit(".0."), expr("CAST(doc_id % 100 AS STRING)"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1, concat(
          lit(" call +1 555-01"), expr("CAST(doc_id % 90 + 10 AS STRING)"),
          lit(" now"))).otherwise(lit(""))))
      .withColumn("pii_free",
        piiPats.map(p => regexp_count(col("aug"), lit(p)))
          .reduce(_ + _).equalTo(0).cast("int"))
      .withColumn("q_pass", (col("score") >= 30.0).cast("int"))
      .drop("tg") // internal plumbing; keep downstream schemas as before
  }

  def qReleaseFilter(s: SparkSession, d: String): DataFrame = {
    val byHash = Window.partitionBy(md5(col("text")))
    releaseGates(
      Tables.documents(s, d)
        .withColumn("is_canonical",
          (col("doc_id") === min("doc_id").over(byHash)).cast("int")))
      .withColumn("keep",
        (col("is_canonical") * col("q_pass") * col("lang_en") * col("pii_free"))
          .cast("int"))
      .select("doc_id", "is_canonical", "q_pass", "lang_en", "pii_free", "keep")
      .orderBy("doc_id")
  }

  val qReleaseFilterSql: String = {
    def cnt(l: String) = stopCount(l,
      lst => s"CAST(len(list_filter($duckTok, t -> list_contains([$lst], t))) AS INT)")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    CAST(CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
       |         THEN 1 ELSE 0 END AS INT) AS is_canonical,
       |    100 * (0.4 * (CAST(len(list_distinct($duckTok)) AS DOUBLE) / len($duckTok))
       |         + 0.3 * (least(CAST(len($duckTok) AS DOUBLE), 200.0) / 200.0)
       |         + 0.3 * (CAST(${cnt("en")} AS DOUBLE) / len($duckTok))) AS score,
       |    ${cnt("en")} AS s_en, ${cnt("de")} AS s_de,
       |    ${cnt("es")} AS s_es, ${cnt("fr")} AS s_fr,
       |    text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id % 50 AS VARCHAR)
       |         || '@mail' || CAST(doc_id % 7 AS VARCHAR)
       |         || '.com or host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |         || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 4 = 1 THEN ' call +1 555-01'
       |         || CAST(doc_id % 90 + 10 AS VARCHAR) || ' now' ELSE '' END AS aug
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, is_canonical,
       |    CAST(CASE WHEN score >= 30.0 THEN 1 ELSE 0 END AS INT) AS q_pass,
       |    CAST(CASE WHEN CAST(strlen(text) AS DOUBLE) > 1.5 * length(text) THEN 0
       |         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 0
       |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 0
       |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 1
       |         ELSE 0 END AS INT) AS lang_en,
       |    CAST(CASE WHEN
       |      len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
       |      + len(regexp_extract_all(aug, '\\+?[0-9][0-9 -]{6,}[0-9]'))
       |      + len(regexp_extract_all(aug, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) = 0
       |      THEN 1 ELSE 0 END AS INT) AS pii_free
       |  FROM base
       |)
       |SELECT doc_id, is_canonical, q_pass, lang_en, pii_free,
       |  CAST(is_canonical * q_pass * lang_en * pii_free AS INT) AS keep
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- P51b
  /** The MULTIMODAL release filter (r17, VERDICT r16 item 6): a real
    * multimodal release drops non-keeper images and audio too, not
    * just text duplicates — so the P51 composite gains two media
    * gates: `img_keep` / `aud_keep` are 0 exactly for docs that sit in
    * a media near-dup cluster WITHOUT being its keeper (the P71/P72
    * keep-list criterion — largest decoded image area / longest
    * decoded recording, doc_id tiebreak).  Plan shape: the four text
    * gates keep their one content-hash exchange; each media gate adds
    * one doc_id-keyed join against a NON-KEEPER list, which is tiny by
    * construction (one row per dropped duplicate, not per doc) and
    * left to AQE to broadcast — at 100 TB a heavily-duplicated corpus
    * can push a drop-list past broadcast size, and then the shuffle
    * join on doc_id is the right plan, so the hint is deliberately
    * absent. */
  def qReleaseFilterMedia(s: SparkSession, d: String): DataFrame = {
    import graft.operators.HammingDedup
    // non-keeper members of media near-dup clusters: sig-graph CC
    // labels (see componentLabelsBySig — never a doc-pair expansion)
    // → everything BELOW rank 1 of the P36 keeper window
    def nonKeepers(sigs: DataFrame, metric: String, maxDist: Int): DataFrame = {
      val sigPairs = HammingDedup
        .sigPairs(sigs.select(col("sig")).distinct(), "sig", maxDist, bandBits = 16)
        .select("sig_a", "sig_b")
      val w = Window.partitionBy("cluster_id").orderBy(desc(metric), col("doc_id"))
      // the metric rides through the CC attach (r19) — no doc_id re-join
      componentLabelsBySig(s, sigs.select(col("doc_id"), col("sig"), col(metric)),
          sigPairs)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1)
        .select("doc_id")
    }
    // the two modality pipelines are INDEPENDENT DAGs, but each runs
    // an EAGER driver-side CC loop (rounds of blocking actions) — run
    // them on two driver threads so their jobs interleave on the
    // executor pool instead of serializing rounds × stages twice
    // (VERDICT r17 item 4; concurrent job submission on one session
    // is the standard Spark idiom for independent subtrees).  Same
    // plans, same hashes — only the driver-side sequencing changes.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fImg = Future(nonKeepers(
      ImageDedup.dhashFrame(s, d).transform(stableCheckpoint), "area", ImageDedup.MaxDist))
    val fAud = Future(nonKeepers(
      AudioDedup.sigFrame(s, d).transform(stableCheckpoint), "n_samples", AudioDedup.MaxDist))
    // r19: the TEXT gates are the third independent subtree — without
    // this the content-hash window + regex gates only ran inside the
    // final join job, strictly AFTER both media loops had finished.
    // Materializing the five gate flags (one narrow row per doc — the
    // same bounded per-doc-metadata class as the media sig frames;
    // text itself stays out of the checkpoint) lets all three
    // pipelines share the executor pool (§2.6 overlap), and the final
    // join then reads three materialized inputs.
    val fTxt = Future {
      val byHash = Window.partitionBy(md5(col("text")))
      releaseGates(
        Tables.documents(s, d)
          .withColumn("is_canonical",
            (col("doc_id") === min("doc_id").over(byHash)).cast("int")))
        .select("doc_id", "is_canonical", "q_pass", "lang_en", "pii_free")
        .transform(stableCheckpoint)
    }
    val imgDrop = Await.result(fImg, Duration.Inf)
    val audDrop = Await.result(fAud, Duration.Inf)
    val txtGates = Await.result(fTxt, Duration.Inf)
    txtGates
      .join(imgDrop.withColumn("img_dup", lit(1)), Seq("doc_id"), "left")
      .join(audDrop.withColumn("aud_dup", lit(1)), Seq("doc_id"), "left")
      .withColumn("img_keep", when(col("img_dup").isNull, 1).otherwise(0).cast("int"))
      .withColumn("aud_keep", when(col("aud_dup").isNull, 1).otherwise(0).cast("int"))
      .withColumn("keep",
        (col("is_canonical") * col("q_pass") * col("lang_en") * col("pii_free")
          * col("img_keep") * col("aud_keep")).cast("int"))
      .select("doc_id", "is_canonical", "q_pass", "lang_en", "pii_free",
        "img_keep", "aud_keep", "keep")
      .orderBy("doc_id")
  }

  /** Oracle: the P51 text-gate SQL as one derived table, left-joined
    * to per-modality NON-KEEPER subqueries — each its own
    * `WITH RECURSIVE` scope reusing [[ImageDedup.duckSigCte]] /
    * [[AudioDedup.duckSigCte]] verbatim (subquery CTE scoping keeps
    * the shared CTE names apart), the reachability closure, and the
    * keeper window inverted to `rk > 1`. */
  val qReleaseFilterMediaSql: String = {
    def nonKeepSql(sigCte: String, metricExpr: String, maxDist: Int): String =
      s"""WITH RECURSIVE $sigCte, p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= $maxDist
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p
         |), reach AS (
         |  SELECT DISTINCT src AS doc, src AS r FROM e
         |  UNION
         |  SELECT e.dst AS doc, reach.r FROM reach JOIN e ON e.src = reach.doc
         |), cl AS (
         |  SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc
         |)
         |SELECT doc_id FROM (
         |  SELECT cl.cluster_id, cl.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY $metricExpr DESC, cl.doc_id) AS rk
         |  FROM cl JOIN dims dm ON dm.doc_id = cl.doc_id)
         |WHERE rk > 1""".stripMargin
    val core = qReleaseFilterSql.replaceAll("""ORDER BY doc_id\s*$""", "")
    // stripMargin the TEMPLATE before substituting: the embedded SQL
    // carries `||` string concats at line starts, which an outer
    // stripMargin would truncate to `|`
    """SELECT rf.doc_id, rf.is_canonical, rf.q_pass, rf.lang_en, rf.pii_free,
       |  CAST(CASE WHEN img.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS img_keep,
       |  CAST(CASE WHEN aud.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS aud_keep,
       |  CAST(rf.keep * (CASE WHEN img.doc_id IS NULL THEN 1 ELSE 0 END)
       |       * (CASE WHEN aud.doc_id IS NULL THEN 1 ELSE 0 END) AS INT) AS keep
       |FROM ( @CORE@ ) rf
       |LEFT JOIN ( @IMG@ ) img
       |  ON img.doc_id = rf.doc_id
       |LEFT JOIN ( @AUD@ ) aud
       |  ON aud.doc_id = rf.doc_id
       |ORDER BY rf.doc_id""".stripMargin
      .replace("@CORE@", core)
      .replace("@IMG@",
        nonKeepSql(ImageDedup.duckSigCte, "dm.width * dm.height", ImageDedup.MaxDist))
      .replace("@AUD@", nonKeepSql(AudioDedup.duckSigCte, "dm.n", AudioDedup.MaxDist))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_release_filter" -> (qReleaseFilter _),
    "q_release_filter_media" -> (qReleaseFilterMedia _),
    "q_embed_cov" -> (qEmbedCov _),
    "q_pca_project" -> (qPcaProject _),
    "q_kmeans" -> (qKmeans _),
    "q_kmeans_profile" -> (qKmeansProfile _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_containment" -> (qContainment _),
    "q_ann_bruteforce" -> (qAnnBruteforce _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_lsh_mp" -> (qAnnLshMp _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_ivf_mp" -> (qAnnIvfMp _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_token_count" -> (qTokenCount _),
    "q_fingerprint" -> (qFingerprint _),
    "q_semdedup" -> (qSemDedup _))

  val oracle: Map[String, String] = Map(
    "q_release_filter" -> qReleaseFilterSql,
    "q_release_filter_media" -> qReleaseFilterMediaSql,
    "q_embed_cov" -> qEmbedCovSql,
    "q_pca_project" -> qPcaProjectSql,
    "q_kmeans" -> qKmeansSql,
    "q_kmeans_profile" -> qKmeansProfileSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_cluster" -> qDedupClusterSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_containment" -> qContainmentSql,
    "q_ann_bruteforce" -> qAnnBruteforceSql,
    "q_ann_lsh" -> qAnnLshSql,
    "q_ann_lsh_mp" -> qAnnLshMpSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql,
    "q_ann_ivf" -> qAnnIvfSql,
    "q_ann_ivf_mp" -> qAnnIvfMpSql,
    "q_lang_id" -> qLangIdSql,
    "q_quality_score" -> qQualityScoreSql,
    "q_token_count" -> qTokenCountSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_semdedup" -> qSemDedupSql)
}
