package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Ranked

/** Sequence packing and tokenizer training (SURVEY §2.3 P58/P59) —
  * the two steps that turn a cleaned corpus into model input: packing
  * documents into fixed-length context windows (the GPT-style
  * concat-and-chunk layout) and learning a byte-pair-encoding merge
  * table (Sennrich et al. ACL'16 §3).  Reference scope: Hadoop-BAM is
  * format I/O only; these belong to the training-data layer this
  * engine adds (same posture as P52-P57).
  *
  * Scale shapes:
  *  - Packing needs a GLOBAL running token sum — the one window SQL
  *    serializes onto a single task (empty PARTITION BY).  It runs on
  *    [[graft.operators.Ranked.prefixSum]] with NO partition key: the
  *    range exchange spreads the sort over every core and the offset
  *    table is one long per task (the keyless case of the distributed
  *    ranking construction — see RankedPlans.scala).
  *  - BPE rounds aggregate adjacent-pair counts over the DISTINCT
  *    word vocabulary with frequency weights: map-side partials
  *    collapse each partition to ~|pair vocabulary| rows, and the
  *    corpus text itself is scanned once (vocabulary extraction) —
  *    every later round touches only the vocab frame, which grows
  *    sublinearly in corpus size (Heaps' law).
  *
  * Oracle-parity rules as everywhere else: integer arithmetic only,
  * total deterministic ORDER BY, identical column names both sides.
  */
object Packing {

  /** Fixed context length (tokens) for the packing queries. */
  private val CtxLen = 2048L

  // --------------------------------------------------------------- P58
  // Concat-and-chunk sequence packing: documents are laid end-to-end
  // in doc_id order and cut into CtxLen-token context windows; each
  // doc reports the window span it lands in and whether a window
  // boundary splits it (the fragmentation signal packing schemes
  // trade against padding).  Zero-token docs occupy no tokens and are
  // dropped from the layout on both engines.
  private def packedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(Corpus.tokCount).as("n_tok"))
      .filter(col("n_tok") > 0)
    // keyless prefixSum: global cumulative tokens, parallel in cores
    Ranked.prefixSum(docs, Seq(), Seq("doc_id"), "n_tok", "cum")
      .withColumn("cum_before", col("cum") - col("n_tok"))
      .withColumn("w_first", expr(s"cum_before DIV $CtxLen"))
      .withColumn("w_last", expr(s"(cum - 1) DIV $CtxLen"))
  }

  def qPackSequences(s: SparkSession, d: String): DataFrame =
    packedDocs(s, d)
      .select(col("doc_id"), col("n_tok"), col("cum_before"),
        col("w_first"), col("w_last"),
        (col("w_last") - col("w_first") + 1L).as("n_windows"),
        (col("w_last") > col("w_first")).as("split"))
      .orderBy("doc_id")

  val qPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Corpus.duckTokCount} AS n_tok FROM documents
       |), c AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM t WHERE n_tok > 0
       |)
       |SELECT doc_id, n_tok, cum_before,
       |  cum_before // $CtxLen AS w_first,
       |  (cum_before + n_tok - 1) // $CtxLen AS w_last,
       |  (cum_before + n_tok - 1) // $CtxLen - cum_before // $CtxLen + 1 AS n_windows,
       |  (cum_before + n_tok - 1) // $CtxLen > cum_before // $CtxLen AS split
       |FROM c ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- P58b
  // Per-window packing stats: how many docs touch each context
  // window, how many carried in from an earlier window, and the exact
  // token fill (= CtxLen everywhere but the final window) — the
  // audit a packing job emits.  The explode is bounded: Σ n_windows
  // ≤ n_docs + total_tokens/CtxLen rows.
  def qPackWindows(s: SparkSession, d: String): DataFrame =
    packedDocs(s, d)
      .select(col("cum"), col("cum_before"), col("w_first"),
        explode(expr("sequence(w_first, w_last)")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("w_first") < col("w"), 1L).otherwise(0L)).as("n_carry_in"),
        sum(expr(s"least(cum, (w + 1) * $CtxLen) - greatest(cum_before, w * $CtxLen)"))
          .as("tok_filled"))
      .orderBy("w")

  val qPackWindowsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Corpus.duckTokCount} AS n_tok FROM documents
       |), c AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM t WHERE n_tok > 0
       |), e AS (
       |  SELECT cum_before + n_tok AS cum, cum_before,
       |    cum_before // $CtxLen AS w_first,
       |    unnest(range(cum_before // $CtxLen,
       |      (cum_before + n_tok - 1) // $CtxLen + 1)) AS w
       |  FROM c
       |)
       |SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN w_first < w THEN 1 ELSE 0 END) AS BIGINT) AS n_carry_in,
       |  CAST(SUM(LEAST(cum, (w + 1) * $CtxLen)
       |    - GREATEST(cum_before, w * $CtxLen)) AS BIGINT) AS tok_filled
       |FROM e GROUP BY w ORDER BY w""".stripMargin

  // --------------------------------------------------------------- P59
  // BPE pair statistics (round 1 of tokenizer training): every word
  // becomes its character symbols plus an end-of-word marker, and
  // adjacent symbol pairs are counted with word-frequency weights —
  // the aggregation each BPE round runs.  Top 50 pairs, total order.
  /** (word, freq, syms) over the corpus — the vocabulary frame every
    * BPE round iterates on. */
  private[queries] def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(Pipeline.tok)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), " +
          "array('</w>'))"))

  /** Frequency-weighted adjacent-pair counts of a vocab frame.
    * PRECONDITION: every row has size(syms) >= 2 — sequence(1, 0) is
    * a DESCENDING [1, 0] in Spark, so a single-symbol row faults on
    * element_at(syms, 0) (caught by the r11 dry-corpus spec).  Fresh
    * [[vocab]] output satisfies it by construction (chars + '</w>' of
    * a non-empty word); MERGED frames can collapse words to one
    * symbol and are guarded in [[learnMerges]] — on the materialized
    * (checkpointed) column, where the size() probe is free.  Guarding
    * HERE instead would inline the char-split transform into both the
    * filter and the explode of q_bpe_pairs' unmaterialized frame
    * (CollapseProject), doubling the kernel work (measured 3.2× at
    * sf1). */
  private def pairCounts(v: DataFrame): DataFrame = v
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> " +
        "named_struct('l', element_at(syms, i), 'r', element_at(syms, i + 1)))"))
      .as("p"))
    .groupBy(col("p.l").as("tok_l"), col("p.r").as("tok_r"))
    .agg(sum("freq").as("cnt"))

  def qBpePairs(s: SparkSession, d: String): DataFrame =
    pairCounts(vocab(s, d))
      .orderBy(desc("cnt"), col("tok_l"), col("tok_r"))
      .limit(50)

  val qBpePairsSql: String =
    s"""WITH w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${Pipeline.duckTok}) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word
       |), s AS (
       |  SELECT freq, list_append(list_transform(range(length(word)),
       |    i -> substr(word, CAST(i + 1 AS INT), 1)), '</w>') AS syms
       |  FROM w
       |), p AS (
       |  SELECT freq, unnest(list_transform(range(len(syms) - 1),
       |    i -> {'l': syms[CAST(i + 1 AS INT)], 'r': syms[CAST(i + 2 AS INT)]})) AS pr
       |  FROM s
       |)
       |SELECT pr.l AS tok_l, pr.r AS tok_r, CAST(SUM(freq) AS BIGINT) AS cnt
       |FROM p GROUP BY pr.l, pr.r
       |ORDER BY cnt DESC, tok_l, tok_r LIMIT 50""".stripMargin

  // -------------------------------------------------------------- P59b
  // Distributed BPE merge learning (Sennrich et al. ACL'16): k rounds
  // of [count pairs over the vocab → take the top pair → apply the
  // merge].  The driver collects ONE tiny argmax frame per round (≤
  // `batch` rows — a few bytes); the merge application is the fused
  // codegen `graft_bpe_encode` kernel over the vocab frame,
  // localCheckpoint'd per round so round r's plan does not re-run
  // rounds 1..r-1.  Deterministic: top-pair ties break on
  // (tok_l, tok_r).  r11: SQL-expressible after all — the oracle
  // below unrolls the 6 rounds as materialized DuckDB CTEs (argmax
  // via ORDER BY … LIMIT 1; the greedy left-to-right non-overlapping
  // merge via a gaps-and-islands parity over match runs), so
  // q_bpe_train is hash-gated like every other key, on top of the
  // BpeSpec reference parity.
  private val BpeRounds = 6

  def qBpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    learnMerges(s, d).toDF("step", "tok_l", "tok_r", "freq")
  }

  /** The driver loop shared by train/encode: per round ONE pair-count
    * aggregate over the vocab frame, a ≤`batch`-row arg-top-N
    * collect, and one fused codegen merge pass over the vocab,
    * localCheckpoint'd so round r never re-runs rounds 1..r-1.
    *
    * `batch` > 1 is the standard distributed approximation a
    * production 32k-merge train uses (k/N driver rounds): the top N
    * pairs are picked from the PRE-batch counts and applied
    * sequentially in picked order — a later pick whose symbols were
    * partly consumed by an earlier pick in the same batch still
    * applies literally, so the learned sequence can deviate from
    * strict Sennrich order (batch=1 reproduces it exactly —
    * spec-pinned).  If no pair remains (empty corpus, or every word
    * collapsed to a single symbol — ADVICE r10), the loop stops and
    * returns the merges learned so far. */
  private[graft] def learnMerges(s: SparkSession, d: String, batch: Int = 1,
                                 rounds: Int = BpeRounds): Seq[(Long, String, String, Long)] = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    var v = vocab(s, d).transform(Pipeline.stableCheckpoint)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 0
    var dry = false
    while (step < rounds && !dry) {
      // the size guard runs on the CHECKPOINTED frame — a free probe
      // of a materialized column (see the pairCounts precondition)
      val top = pairCounts(v.filter(size(col("syms")) >= 2))
        .orderBy(desc("cnt"), col("tok_l"), col("tok_r"))
        .limit(math.min(batch, rounds - step))
        .collect()
      if (top.isEmpty) dry = true
      else {
        top.foreach { row =>
          step += 1
          merges += ((step.toLong, row.getString(0), row.getString(1), row.getLong(2)))
        }
        val flat = top.toSeq.flatMap(r => Seq(r.getString(0), r.getString(1)))
        val next = v.withColumn("syms",
          call_function("graft_bpe_encode", col("syms"), array(flat.map(lit): _*)))
          .transform(Pipeline.stableCheckpoint)
        v.unpersist()
        v = next
      }
    }
    v.unpersist()
    merges.result()
  }

  /** One round of greedy left-to-right non-overlapping merge
    * application as a MATERIALIZED DuckDB CTE (shared by the train
    * and encode oracles so the two cannot drift): match runs are
    * grouped gaps-and-islands style and positions at EVEN offset
    * within their run merge (leftmost wins), consumed right halves
    * drop via LAG; the merge pair is round r's `t{r}` argmax. */
  private def duckMergeCte(inCte: String, outCte: String,
                           keyCols: String, key: String, r: Int): String =
    s"""$outCte AS MATERIALIZED (
       |  SELECT $keyCols,
       |    list(CASE WHEN do_merge THEN s || (SELECT tok_r FROM t$r) ELSE s END
       |         ORDER BY i) AS syms
       |  FROM (
       |    SELECT *, COALESCE(LAG(do_merge) OVER (PARTITION BY $key ORDER BY i),
       |                       FALSE) AS consumed
       |    FROM (
       |      SELECT $keyCols, i, s, m,
       |        CASE WHEN m THEN (i - MIN(i) OVER (PARTITION BY $key, m, grp)) % 2 = 0
       |             ELSE FALSE END AS do_merge
       |      FROM (
       |        SELECT $keyCols, i, s, m,
       |          i - ROW_NUMBER() OVER (PARTITION BY $key, m ORDER BY i) AS grp
       |        FROM (
       |          SELECT $keyCols, i, syms[CAST(i AS INT)] AS s,
       |            (i < len(syms) AND syms[CAST(i AS INT)] = (SELECT tok_l FROM t$r)
       |               AND syms[CAST(i + 1 AS INT)] = (SELECT tok_r FROM t$r)) AS m
       |          FROM (SELECT $keyCols, syms,
       |                  unnest(range(1, len(syms) + 1)) AS i FROM $inCte)))))
       |  WHERE NOT consumed
       |  GROUP BY $keyCols
       |)""".stripMargin

  /** The vocab + per-round argmax CTE chain (v0, t1, v1, … t_k, v_k)
    * both BPE oracles open with.  MATERIALIZED throughout — without
    * it the v→t→v chain re-inlines exponentially. */
  private def duckTrainCtes: Seq[String] = {
    val v0 =
      s"""v0 AS MATERIALIZED (
         |  SELECT word, freq, list_append(list_transform(range(length(word)),
         |    i -> substr(word, CAST(i + 1 AS INT), 1)), '</w>') AS syms
         |  FROM (
         |    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |      SELECT unnest(${Pipeline.duckTok}) AS word FROM documents)
         |    WHERE word <> '' GROUP BY word)
         |)""".stripMargin
    v0 +: (1 to BpeRounds).flatMap { r =>
      val p = r - 1
      Seq(
        s"""t$r AS MATERIALIZED (
           |  SELECT pr.l AS tok_l, pr.r AS tok_r, CAST(SUM(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, unnest(list_transform(range(len(syms) - 1),
           |    i -> {'l': syms[CAST(i + 1 AS INT)], 'r': syms[CAST(i + 2 AS INT)]})) AS pr
           |    FROM v$p)
           |  GROUP BY pr.l, pr.r
           |  ORDER BY cnt DESC, tok_l, tok_r LIMIT 1
           |)""".stripMargin,
        duckMergeCte(s"v$p", s"v$r", "word, freq", "word", r))
    }
  }

  /** DuckDB oracle for q_bpe_train: the learned 6-row merge table. */
  val qBpeTrainSql: String = {
    val sel = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS step, tok_l, tok_r, cnt AS freq FROM t$r")
      .mkString("\nUNION ALL\n")
    "WITH " + duckTrainCtes.mkString(",\n") + "\n" + sel + "\nORDER BY step"
  }

  /** DuckDB oracle for q_bpe_encode (r11 — the last no_oracle key
    * closed): re-learn the merges with the train CTEs, then apply
    * them to each document's FLAT symbol stream (words' chars +
    * '</w>' terminals, matching the fused kernel's flat-stream
    * semantics — proven ≡ per-word by BpeSpec) via the SAME shared
    * merge CTE, keyed by doc_id.  Zero-symbol docs drop out of the
    * explode and come back with COALESCE(len, 0) = 0. */
  val qBpeEncodeSql: String = {
    val d0 =
      s"""d0 AS MATERIALIZED (
         |  SELECT doc_id, flatten(list_transform(
         |      list_filter(${Pipeline.duckTok}, w -> w <> ''),
         |    w -> list_append(list_transform(range(length(w)),
         |      i -> substr(w, CAST(i + 1 AS INT), 1)), '</w>'))) AS syms
         |  FROM documents
         |)""".stripMargin
    val docRounds = (1 to BpeRounds).map(r =>
      duckMergeCte(s"d${r - 1}", s"d$r", "doc_id", "doc_id", r))
    val sel =
      s"""SELECT d0.doc_id, CAST(len(d0.syms) AS BIGINT) AS n_char_syms,
         |  CAST(COALESCE(len(d$BpeRounds.syms), 0) AS BIGINT) AS n_bpe_syms,
         |  CAST(len(d0.syms) - COALESCE(len(d$BpeRounds.syms), 0) AS BIGINT) AS saved
         |FROM d0 LEFT JOIN d$BpeRounds USING (doc_id) ORDER BY d0.doc_id""".stripMargin
    "WITH " + (duckTrainCtes ++ (d0 +: docRounds)).mkString(",\n") + "\n" + sel
  }

  // -------------------------------------------------------------- P59c
  // BPE encode: apply the learned merge table to the corpus and report
  // per-doc symbol counts before/after — the tokenize step a training
  // run pays, and the compression audit that justifies the merges.
  // Each doc flattens to ONE symbol stream (all words' chars + '</w>'
  // terminals): learned pairs can never match across a word boundary
  // — the left symbol of any boundary-adjacent pair carries the
  // '</w>' suffix, and terminal symbols only ever occur as the RIGHT
  // half of counted pairs — so the flat stream encodes identically to
  // per-word application while the k merge passes stay k chained
  // scan-stage kernels (no explode, no shuffle; text never leaves the
  // scan).  Not SQL-expressible (inherits the trained merges) →
  // BpeSpec pins parity against the reference encoder.
  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    // flattened (l1, r1, l2, r2, …) literal for the fused kernel:
    // tokenize → symbols → all k merges → counts in ONE scan-stage
    // call per doc (the HOF symbol-array form spent its time building
    // n_chars UTF8Strings per doc — BpeSpec pins the kernel ≡ the
    // explicit chained form)
    val flat = learnMerges(s, d).flatMap(m => Seq(m._2, m._3))
    Tables.documents(s, d)
      .select(col("doc_id"), call_function("graft_bpe_stats", col("text"),
        array(flat.map(lit): _*)).as("st"))
      .select(col("doc_id"), col("st")(0).as("n_char_syms"),
        col("st")(1).as("n_bpe_syms"))
      .withColumn("saved", col("n_char_syms") - col("n_bpe_syms"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- P63
  // Z-order (Morton) layout assignment — the data-layout optimization
  // pass (Delta/Iceberg Z-ORDER): interleave two dimension keys so
  // that sorting by the code makes parquet row-group min/max stats
  // selective on BOTH dimensions, turning 2-D range predicates into
  // file-level pruning.  A lexicographic (doc_id or single-column)
  // sort only ever prunes on its lead column — at 100 TB the layout
  // IS the index.  Here: dims = (n_chars, whitespace token count),
  // code = `graft_zorder64` (low 31 bits each, 62-bit non-negative
  // key, pure integer ops — the oracle spells the identical spreads),
  // file assignment = contiguous 100-row slices of the z-sorted
  // order, ranked on the KEYLESS RankedPrefixSum (the only
  // distributed shape of a global ranking).  ZorderSpec measures the
  // point: fixed 2-D probe rectangles touch strictly fewer z-files
  // than doc_id-layout files on the same data.
  def qZorderLayout(s: SparkSession, d: String): DataFrame = {
    // slice size (rows per target file) is the real-world file-count
    // knob — Delta/Iceberg expose the same as target file size; the
    // oracle-gated default stays 100
    val slice = s.conf.get("spark.graft.zorder.sliceRows", "100").toLong
    require(slice >= 1, s"spark.graft.zorder.sliceRows must be >= 1, got $slice")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), expr(Corpus.tokCount).as("n_tok"))
      .withColumn("z", expr("graft_zorder64(n_chars, n_tok)"))
    Ranked.rowNumber(docs, Seq(), Seq(("z", false), ("doc_id", false)), "rk")
      .withColumn("file_id", expr(s"(rk - 1) DIV $slice"))
      .select("doc_id", "n_chars", "n_tok", "z", "file_id")
      .orderBy("doc_id")
  }

  val qZorderLayoutSql: String = {
    // the spread steps via DuckDB lateral column aliases; masks are
    // the classic Morton magic numbers in decimal.  Negative dims
    // fail LOUDLY via error() in the MATERIALIZED input CTE (lateral
    // aliases cannot reference side-effecting expressions, so the
    // guard runs where the dims are produced), matching the Spark
    // kernel's require — a silent mask would interleave garbage on
    // one engine while the other throws (ADVICE r11).  Dims >= 2^31
    // still truncate on both sides identically (the kernel's
    // documented 31-bit contract).
    def spread(in: String, p: String) =
      s"""($in & 2147483647) AS ${p}0,
         |  ((${p}0 | (${p}0 << 16)) & 281470681808895) AS ${p}1,
         |  ((${p}1 | (${p}1 << 8)) & 71777214294589695) AS ${p}2,
         |  ((${p}2 | (${p}2 << 4)) & 1085102592571150095) AS ${p}3,
         |  ((${p}3 | (${p}3 << 2)) & 3689348814741910323) AS ${p}4,
         |  ((${p}4 | (${p}4 << 1)) & 6148914691236517205) AS ${p}5""".stripMargin
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN n_chars < 0 THEN CAST(error('graft_zorder64 expects non-negative dims') AS INT)
       |         ELSE n_chars END AS n_chars,
       |    ${Corpus.duckTokCount} AS n_tok FROM documents
       |), z AS (
       |  SELECT doc_id, n_chars, n_tok,
       |  ${spread("n_chars", "a")},
       |  ${spread("n_tok", "b")},
       |  (a5 | (b5 << 1)) AS z
       |  FROM t
       |), r AS (
       |  SELECT doc_id, n_chars, n_tok, z,
       |    CAST(ROW_NUMBER() OVER (ORDER BY z, doc_id) AS BIGINT) AS rk
       |  FROM z
       |)
       |SELECT doc_id, n_chars, n_tok, z, (rk - 1) // 100 AS file_id
       |FROM r ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pack_sequences" -> (qPackSequences _),
    "q_pack_windows" -> (qPackWindows _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_zorder_layout" -> (qZorderLayout _))

  val oracle: Map[String, String] = Map(
    "q_pack_sequences" -> qPackSequencesSql,
    "q_pack_windows" -> qPackWindowsSql,
    "q_bpe_pairs" -> qBpePairsSql,
    "q_bpe_train" -> qBpeTrainSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_zorder_layout" -> qZorderLayoutSql)
}
