package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus statistics round 2 (SURVEY §2.3 P28-P32): fingerprint-based
  * document-overlap pairs, cross-source boilerplate detection, token
  * co-occurrence, length histograms, and character-trigram profiles.
  *
  * Oracle-parity rules as everywhere else: integer/BIGINT arithmetic
  * only (no floats anywhere in this module), total deterministic
  * ORDER BY, column names aliased identically on both sides.
  */
object CorpusStats {

  // --------------------------------------------------------------- P28
  // Winnow-overlap pairs: which document PAIRS share enough winnowed
  // fingerprints to indicate containment/plagiarism (the pair-level
  // consumer of P10's per-doc fingerprints).  Join on the 4-byte
  // fingerprint hash → work ∝ Σ_fp df(fp)² touches only docs that
  // actually share sampled content, never n² — at 100 TB the shuffle
  // carries (fp, doc_id, nf) triples and the hottest fingerprint
  // bounds the skew (AQE skew-split applies to the self-join).
  // Containment ≥ 0.3 in pure integers: 10·shared ≥ 3·min(|fps|).
  //
  // Fingerprints seen in more than MaxDf documents are dropped BEFORE
  // the join, from both the pair stream and the containment
  // denominators' source sets — they are boilerplate, not evidence of
  // copying (the same cut MOSS makes on high-frequency fingerprints).
  // This is also what makes the query a 100 TB shape: join work is
  // Σ df² over KEPT fingerprints ≤ MaxDf·Σ df, linear in corpus size,
  // where the uncapped join is quadratic in the hottest fingerprint's
  // df (measured at sf0.1: 99% of a 190M-pair stream came from 1.8k
  // saturated fingerprints; capped, the join runs 20×+ faster).
  val MaxDf = 64

  def qWinnowOverlap(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), expr("graft_winnow(graft_grams32(text, 8), 4)").as("fps"))
      // carry each doc's fingerprint count WITH the exploded rows:
      // joining a separate per-doc count dim back on would be a second
      // shuffle of the big side (or an unbounded broadcast at scale)
      .select(col("doc_id"), expr("CAST(size(fps) AS BIGINT)").as("nf"),
        explode(col("fps")).as("fp"))
      // barrier on the join key: the df window and BOTH self-join
      // sides consume ONE exchange (ReusedExchange) instead of
      // winnowing the whole corpus once per consumer
      .repartition(col("fp"))
    // df cap as a WINDOW over the fp partitions: the window's sort is
    // the same fp sort the merge join needs, so the cap costs no
    // extra shuffle or broadcast at all (A/B'd 1.8x over a df
    // aggregate + broadcast anti-join at sf0.1)
    val kept = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= MaxDf).drop("df")
    Pipeline.sortedOutput(kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nf").as("na"), col("b.nf").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .filter(expr("10 * shared >= 3 * least(na, nb)"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        expr("least(na, nb)").as("min_fp")),
      "doc_a", "doc_b")
  }

  val qWinnowOverlapSql: String = {
    val h = Pipeline.duckHash32("g")
    s"""WITH g AS (
       |  SELECT doc_id, list_transform(range(length(lower(text)) - 7),
       |    i -> substr(lower(text), CAST(i + 1 AS INT), 8)) AS grams
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, list_transform(grams, g -> $h) AS gh FROM g
       |), f AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(gh) - 3),
       |    j -> list_min(gh[CAST(j + 1 AS INT):CAST(j + 4 AS INT)]))) AS fps
       |  FROM h
       |), e AS (
       |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS nf, unnest(fps) AS fp FROM f
       |), hot AS (
       |  SELECT fp FROM e GROUP BY fp HAVING count(*) > $MaxDf
       |), kept AS (
       |  SELECT * FROM e WHERE fp NOT IN (SELECT fp FROM hot)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared,
       |  least(a.nf, b.nf) AS min_fp
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, a.nf, b.nf
       |HAVING 10 * count(*) >= 3 * least(a.nf, b.nf)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------- P29
  // Cross-source boilerplate: normalized text prefixes that appear in
  // two or more sources (shared headers/templates across crawls — the
  // "same boilerplate everywhere" hygiene signal).  One hash
  // aggregation on a 40-char key; at 100 TB this is a single shuffle
  // of (prefix, source, doc_id) with map-side partial aggregation.
  def qSourceOverlap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(expr("substring(lower(text), 1, 40)").as("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min("doc_id").as("keeper"))
      .filter(col("n_sources") >= 2)
      .orderBy("prefix")

  val qSourceOverlapSql: String =
    """SELECT substr(lower(text), 1, 40) AS prefix,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  min(doc_id) AS keeper
      |FROM documents
      |GROUP BY 1 HAVING count(DISTINCT source) >= 2
      |ORDER BY prefix""".stripMargin

  // --------------------------------------------------------------- P30
  // Token co-occurrence: among the 50 highest-df tokens, how often
  // does each pair share a document (top 100 pairs)?  The vocabulary
  // cut keeps the per-doc pair fan-out ≤ C(50,2) regardless of corpus
  // size, so the pair stream is O(docs·1225) worst case; the tiny
  // top-token dim broadcasts.  Deterministic tie-breaks everywhere
  // ((df DESC, tok) and (n_docs DESC, tok_a, tok_b) are total orders).
  def qCooccur(s: SparkSession, d: String): DataFrame = {
    // barrier on doc_id: the df aggregate, the vocabulary-cut join and
    // BOTH sides of the pair self-join all feed off this single
    // exchange (ReusedExchange) — one corpus scan, one tokenize
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(
        expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"))).as("tok"))
      .repartition(col("doc_id"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("tok")).limit(50).select("tok")
    val ft = toks.join(broadcast(top), Seq("tok"))
    ft.as("a")
      .join(ft.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col("tok_a"), col("tok_b"))
      .limit(100)
  }

  val qCooccurSql: String =
    """WITH t AS (
      |  SELECT DISTINCT * FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      |    FROM documents)
      |), top AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS df FROM t GROUP BY 1
      |    ORDER BY df DESC, tok LIMIT 50)
      |), ft AS (
      |  SELECT doc_id, tok FROM t WHERE tok IN (SELECT tok FROM top)
      |)
      |SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_docs
      |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |GROUP BY 1, 2
      |ORDER BY n_docs DESC, tok_a, tok_b LIMIT 100""".stripMargin

  // --------------------------------------------------------------- P31
  // Per-language document-length histogram (width-500 buckets): the
  // profile every curation run starts from.  Pure integer arithmetic;
  // one hash aggregation with map-side partials.
  def qLengthHist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), expr("n_chars DIV 500").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .orderBy("lang", "bucket")

  val qLengthHistSql: String =
    """SELECT lang, n_chars // 500 AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY 1, 2
      |ORDER BY lang, bucket""".stripMargin

  // --------------------------------------------------------------- P32
  // Character-trigram profile: top 20 trigrams per language — the
  // classic language-ID feature table (the model P7's heuristic would
  // train on).  Explode is 1 row per char (bounded by corpus bytes);
  // the count is one hash agg and WindowGroupLimit prunes the window
  // to 20 rows per language before the final sort.
  // The hot path aggregates PACKED trigrams (one Long per position,
  // graft_packgrams kernel) — the per-char explode then moves and
  // groups fixed-width longs, no short-string allocation per gram;
  // the string form is decoded AFTER the cardinality collapse, on the
  // few thousand distinct (lang, trigram) groups only.  ASCII corpus:
  // packed numeric order == string order, and chr-decode == substr.
  def qCharTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), col("tri"))
    Tables.documents(s, d)
      .filter(length(col("text")) >= 3)
      .select(col("lang"), explode(expr("graft_packgrams(text, 3)")).as("tric"))
      .groupBy("lang", "tric").agg(count(lit(1)).as("cnt"))
      .withColumn("tri", expr(
        "concat(char(tric DIV 65536), char(tric DIV 256 % 256), char(tric % 256))"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select("lang", "tri", "cnt", "rk")
      .orderBy("lang", "rk")
  }

  val qCharTrigramsSql: String =
    """SELECT lang, tri, cnt, rk FROM (
      |  SELECT lang, tri, cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tri)
      |      AS BIGINT) AS rk
      |  FROM (
      |    SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      SELECT lang, unnest(list_transform(range(length(lower(text)) - 2),
      |        i -> substr(lower(text), CAST(i + 1 AS INT), 3))) AS tri
      |      FROM documents WHERE length(text) >= 3)
      |    GROUP BY 1, 2))
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------------- P33
  // Near-dup rate per source pair: where does duplication actually
  // come from (same-crawl boilerplate vs cross-source mirroring)?
  // Consumes the verified minhash pair list (P2's one-scan/one-shuffle
  // pipeline); the doc→source attachment is two joins of a tiny pair
  // frame against the documents dim — pair volume, not corpus volume,
  // drives the cost.  Unordered pair key via least/greatest.
  def qDupRateSource(s: SparkSession, d: String): DataFrame = {
    val pairs = Pipeline.minhashPairs(s, d).select("doc_a", "doc_b")
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  val qDupRateSourceSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${Pipeline.duckShingles(3)} AS sh FROM documents
       |), p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |    AND 5 * len(a.sh) >= 4 * len(b.sh) AND 5 * len(b.sh) >= 4 * len(a.sh)
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
       |)
       |SELECT least(da.source, db.source) AS src_lo,
       |  greatest(da.source, db.source) AS src_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM p
       |JOIN documents da ON p.doc_a = da.doc_id
       |JOIN documents db ON p.doc_b = db.doc_id
       |GROUP BY 1, 2
       |ORDER BY src_lo, src_hi""".stripMargin

  // --------------------------------------------------------------- P34
  // Per-source vocabulary statistics (Heaps-law profile): total
  // tokens, distinct tokens, distinct-per-1000 ratio in exact integer
  // permille.  Two-level aggregation — (source, tok) partial counts
  // collapse map-side before the distinct count, so the shuffle
  // carries vocabulary-sized data, not token-stream-sized.
  def qVocabGrowth(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(
        expr("filter(split(lower(text), ' '), t -> t <> '')")).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
      .withColumn("permille", expr("n_vocab * 1000 DIV n_tokens"))
      .orderBy("source")

  val qVocabGrowthSql: String =
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
      |  count(DISTINCT tok) * 1000 // count(*) AS permille
      |FROM (
      |  SELECT source, unnest(list_filter(string_split(lower(text), ' '),
      |    t -> t <> '')) AS tok
      |  FROM documents)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- P35
  // ANN recall@3: per query, how many of the LSH path's top-3
  // neighbors are in the exact top-3 — the quality gauge every
  // approximate index needs next to its speed numbers.  Pure
  // composition of P5/P6 (both already gated), so the join runs over
  // two tiny top-k frames; output stays in exact integers.
  def qAnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = Pipeline.qAnnBruteforce(s, d).filter(col("rk") <= 3)
      .select("query_id", "neighbor_id")
    val lsh = Pipeline.qAnnLsh(s, d).select("query_id", "neighbor_id")
    val hits = lsh.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("query_id")
  }

  val qAnnRecallSql: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), " +
        s"i -> CAST($a[CAST(i + 1 AS INT)] AS DOUBLE) * CAST($b[CAST(i + 1 AS INT)] AS DOUBLE))), (x, y) -> x + y)"
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id % 100 = 0)
       |  WHERE rk <= 3
       |), a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 4
       |), b AS (
       |  SELECT e.vec_id, CAST(SUM(CASE WHEN ${dot("e.embedding", "a.ae")} >= 0
       |    THEN (CAST(1 AS BIGINT) << CAST(a.aid AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN a GROUP BY e.vec_id
       |), lsh AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT bq.vec_id AS query_id, be.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY bq.vec_id
       |        ORDER BY ${dot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) DESC,
       |          be.vec_id) AS rk
       |    FROM b bq JOIN b be ON bq.bucket = be.bucket AND be.vec_id <> bq.vec_id
       |      JOIN n nq ON nq.vec_id = bq.vec_id
       |      JOIN n ne ON ne.vec_id = be.vec_id
       |    WHERE bq.vec_id % 100 = 0)
       |  WHERE rk <= 3
       |)
       |SELECT q.query_id,
       |  COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN (
       |  SELECT lsh.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM lsh JOIN exact ON lsh.query_id = exact.query_id
       |    AND lsh.neighbor_id = exact.neighbor_id
       |  GROUP BY lsh.query_id) h ON h.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  // -------------------------------------------------------------- P35b
  // IVF probe-sweep recall: total exact-top-3 hits of the IVF path at
  // 1 vs 3 probed cells against the same brute-force oracle — the
  // audit that justifies multi-probe (candidates only ever GROW with
  // m, so recall should too; the exact re-rank is shared).  Like P35,
  // a composition of gated frames: the joins run over tiny top-k sets.
  def qAnnRecallIvf(s: SparkSession, d: String): DataFrame = {
    val exact = Pipeline.qAnnBruteforce(s, d).filter(col("rk") <= 3)
      .select("query_id", "neighbor_id")
    def totalHits(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("variant"), col("n_hits"))
    totalHits(Pipeline.qAnnIvfProbed(s, d, 1), "ivf_m1")
      .unionAll(totalHits(Pipeline.qAnnIvfProbed(s, d, 3), "ivf_m3"))
      .orderBy("variant")
  }

  val qAnnRecallIvfSql: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), " +
        s"i -> CAST($a[CAST(i + 1 AS INT)] AS DOUBLE) * CAST($b[CAST(i + 1 AS INT)] AS DOUBLE))), (x, y) -> x + y)"
    def ivfTop(m: Int): String =
      s"""(SELECT qid, neighbor_id FROM (
         |    SELECT sc.qid, sc.neighbor_id, ROW_NUMBER() OVER (PARTITION BY sc.qid
         |      ORDER BY sc.cosine DESC, sc.neighbor_id) AS rk FROM (
         |      SELECT pr.qid, ea.vec_id AS neighbor_id,
         |        ${dot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
         |      FROM (SELECT vec_id AS qid, aid AS qcell FROM scored
         |            WHERE rn <= $m AND vec_id % 100 = 0) pr
         |        JOIN asg ea ON pr.qcell = ea.cell AND ea.vec_id <> pr.qid
         |        JOIN n nq ON nq.vec_id = pr.qid
         |        JOIN n ne ON ne.vec_id = ea.vec_id) sc)
         |  WHERE rk <= 3)""".stripMargin
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id % 100 = 0)
       |  WHERE rk <= 3
       |), a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 8
       |), an AS (
       |  SELECT aid, ae, sqrt(${dot("ae", "ae")}) AS anrm FROM a
       |), scored AS (
       |  SELECT e.vec_id, an.aid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dot("e.embedding", "an.ae")} / (n.nrm * an.anrm) DESC, an.aid) AS rn
       |  FROM embeddings e CROSS JOIN an JOIN n ON n.vec_id = e.vec_id
       |), asg AS (
       |  SELECT vec_id, aid AS cell FROM scored WHERE rn = 1
       |), m1 AS ${ivfTop(1)},
       |m3 AS ${ivfTop(3)}
       |SELECT 'ivf_m1' AS variant, (SELECT CAST(COUNT(*) AS BIGINT) FROM m1
       |  JOIN exact ON m1.qid = exact.query_id
       |    AND m1.neighbor_id = exact.neighbor_id) AS n_hits
       |UNION ALL
       |SELECT 'ivf_m3' AS variant, (SELECT CAST(COUNT(*) AS BIGINT) FROM m3
       |  JOIN exact ON m3.qid = exact.query_id
       |    AND m3.neighbor_id = exact.neighbor_id) AS n_hits
       |ORDER BY variant""".stripMargin
  }

  // -------------------------------------------------------------- P35c
  // LSH probe-sweep recall: exact-top-3 hits of the sign-LSH path at
  // radius 0 vs radius 1 (own bucket vs + the 4 hamming-1 buckets)
  // against the brute-force oracle — the multi-probe audit for the
  // OTHER bucketing scheme (same contract as P35b for IVF).
  def qAnnRecallLsh(s: SparkSession, d: String): DataFrame = {
    val exact = Pipeline.qAnnBruteforce(s, d).filter(col("rk") <= 3)
      .select("query_id", "neighbor_id")
    def totalHits(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("variant"), col("n_hits"))
    totalHits(Pipeline.qAnnLshProbed(s, d, 0), "lsh_r0")
      .unionAll(totalHits(Pipeline.qAnnLshProbed(s, d, 1), "lsh_r1"))
      .orderBy("variant")
  }

  val qAnnRecallLshSql: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), " +
        s"i -> CAST($a[CAST(i + 1 AS INT)] AS DOUBLE) * CAST($b[CAST(i + 1 AS INT)] AS DOUBLE))), (x, y) -> x + y)"
    def lshTop(radius: Int): String = {
      val probes =
        if (radius == 0) "[bucket]"
        else "[bucket, xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)), " +
          "xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]"
      s"""(SELECT qid, neighbor_id FROM (
         |    SELECT sc.qid, sc.neighbor_id, ROW_NUMBER() OVER (PARTITION BY sc.qid
         |      ORDER BY sc.cosine DESC, sc.neighbor_id) AS rk FROM (
         |      SELECT pr.qid, be.vec_id AS neighbor_id,
         |        ${dot("nq.embedding", "ne.embedding")} / (nq.nrm * ne.nrm) AS cosine
         |      FROM (SELECT vec_id AS qid, unnest($probes) AS qb
         |            FROM b WHERE vec_id % 100 = 0) pr
         |        JOIN b be ON be.bucket = pr.qb AND be.vec_id <> pr.qid
         |        JOIN n nq ON nq.vec_id = pr.qid
         |        JOIN n ne ON ne.vec_id = be.vec_id) sc)
         |  WHERE rk <= 3)""".stripMargin
    }
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dot("q.embedding", "e.embedding")} / (q.nrm * e.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id % 100 = 0)
       |  WHERE rk <= 3
       |), a AS (
       |  SELECT vec_id AS aid, embedding AS ae FROM embeddings WHERE vec_id < 4
       |), dts AS (
       |  SELECT e.vec_id, a.aid, ${dot("e.embedding", "a.ae")} AS dot
       |  FROM embeddings e CROSS JOIN a
       |), b AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot >= 0
       |    THEN (CAST(1 AS BIGINT) << CAST(aid AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dts GROUP BY vec_id
       |), r0 AS ${lshTop(0)},
       |r1 AS ${lshTop(1)}
       |SELECT 'lsh_r0' AS variant, (SELECT CAST(COUNT(*) AS BIGINT) FROM r0
       |  JOIN exact ON r0.qid = exact.query_id
       |    AND r0.neighbor_id = exact.neighbor_id) AS n_hits
       |UNION ALL
       |SELECT 'lsh_r1' AS variant, (SELECT CAST(COUNT(*) AS BIGINT) FROM r1
       |  JOIN exact ON r1.qid = exact.query_id
       |    AND r1.neighbor_id = exact.neighbor_id) AS n_hits
       |ORDER BY variant""".stripMargin
  }

  // --------------------------------------------------------------- P36
  // Canonical document per near-dup cluster: the step after P2b that
  // actually shrinks the corpus — one keeper per connected component
  // (longest text wins, doc_id tiebreak), everything else drops.
  // One window over the tiny cluster frame joined back to the dim.
  def qClusterKeep(s: SparkSession, d: String): DataFrame = {
    val clusters = Pipeline.qDedupCluster(s, d)
    val docs = Tables.documents(s, d).select("doc_id", "n_chars")
    val w = Window.partitionBy("cluster_id").orderBy(desc("n_chars"), col("doc_id"))
    clusters.join(docs, "doc_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper"), col("n_chars"))
      .orderBy("cluster_id")
  }

  val qClusterKeepSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT doc_id, ${Pipeline.duckShingles(3)} AS sh FROM documents
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
       |), cl AS (
       |  SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc
       |)
       |SELECT cluster_id, keeper, n_chars FROM (
       |  SELECT cl.cluster_id, cl.doc_id AS keeper, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
       |      ORDER BY d.n_chars DESC, cl.doc_id) AS rk
       |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
       |WHERE rk = 1
       |ORDER BY cluster_id""".stripMargin

  // --------------------------------------------------------------- P37
  // Dedup threshold sweep: how many near-dup pairs survive at jaccard
  // ≥ 0.80/0.85/0.90/0.95 — the tuning table a curation run reads
  // before picking its dedup cutoff.  ONE pass of the P2 LSH+verify
  // pipeline feeds all four thresholds (the pair frame is tiny; the
  // explode multiplies pairs, not documents), and every comparison is
  // integer cross-multiplication: J ≥ pct/100 ⇔ 100·∩ ≥ pct·∪ — no
  // float thresholds to drift between engines.  Valid for pct ≥ 80
  // because the candidate set is exactly the J ≥ 0.8 pair list.
  def qThresholdSweep(s: SparkSession, d: String): DataFrame =
    Pipeline.minhashPairs(s, d)
      .select(explode(expr("array(80, 85, 90, 95)")).as("pct"),
        col("inter"), col("na"), col("nb"))
      .filter(expr("100 * inter >= pct * (na + nb - inter)"))
      .groupBy("pct").agg(count(lit(1)).as("n_pairs"))
      .orderBy("pct")
  // (no keep-empty-thresholds scaffold join: a left join from a 4-row
  // literal frame lets Catalyst prune the ENTIRE pipeline under
  // count()-style consumers — empty thresholds drop from both engines
  // consistently, which is the cheaper honest contract)

  val qThresholdSweepSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${Pipeline.duckShingles(3)} AS sh FROM documents
       |), p AS (
       |  SELECT len(list_intersect(a.sh, b.sh)) AS i,
       |    len(a.sh) AS la, len(b.sh) AS lb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |    AND 5 * len(a.sh) >= 4 * len(b.sh) AND 5 * len(b.sh) >= 4 * len(a.sh)
       |)
       |SELECT pct, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM p, (VALUES (80), (85), (90), (95)) tt(pct)
       |WHERE 100 * i >= pct * (la + lb - i)
       |GROUP BY pct
       |ORDER BY pct""".stripMargin

  // --------------------------------------------------------------- P38
  // Per-language length outliers: documents longer than their
  // language's nearest-rank p99 — the "cut the monster documents"
  // filter step.  The percentile is pure integer arithmetic (value at
  // sorted position ceil(99n/100) = (99n+99) DIV 100).
  //
  // Shape at scale (r12): per-row `row_number()/COUNT(*) OVER
  // (PARTITION BY lang)` collapses the corpus onto |lang| ≈ 5 tasks.
  // The percentile only needs the value-frequency histogram:
  // groupBy (lang, n_chars) + keyed RankedPrefixSum cumulative count
  // (range-partitioned — parallel in cores, not languages), p99 =
  // MIN(n_chars | cum ≥ rank); the |lang|-row threshold frame
  // broadcasts back onto the corpus scan as a pure per-row filter.
  def qLengthOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("freq"))
    // cum + per-lang total from ONE ranked pass (RTotal column)
    val ct = graft.operators.Ranked
      .prefixSumWithTotal(hist, Seq("lang"), Seq("n_chars"), "freq", "cum", "n")
    val p99 = ct.groupBy("lang")
      .agg(min(when(expr("cum >= (99 * n + 99) DIV 100"), col("n_chars"))).as("p99"))
    docs.join(broadcast(p99), Seq("lang"))
      .filter(col("n_chars") > col("p99"))
      .select(col("lang"), col("doc_id"), col("n_chars"), col("p99"))
      .orderBy("lang", "doc_id")
  }

  val qLengthOutliersSql: String =
    """SELECT lang, doc_id, n_chars, p99 FROM (
      |  SELECT lang, doc_id, n_chars,
      |    MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END)
      |      OVER (PARTITION BY lang) AS p99
      |  FROM (
      |    SELECT lang, doc_id, n_chars,
      |      COUNT(*) OVER (PARTITION BY lang) AS n,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
      |    FROM documents))
      |WHERE n_chars > p99
      |ORDER BY lang, doc_id""".stripMargin

  // --------------------------------------------------------------- P39
  // Token-length histogram per language: the distribution a subword
  // tokenizer's vocabulary budget is sized against.  Explode → one
  // hash agg with map-side partials; the (lang, tok_len, tok) partial
  // collapse bounds the distinct-count shuffle by vocabulary size.
  def qTokLenHist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), explode(
        expr("filter(split(lower(text), ' '), t -> t <> '')")).as("tok"))
      .groupBy(col("lang"), length(col("tok")).cast("long").as("tok_len"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_distinct"))
      .orderBy("lang", "tok_len")

  val qTokLenHistSql: String =
    """SELECT lang, length(tok) AS tok_len,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
      |FROM (
      |  SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
      |    t -> t <> '')) AS tok
      |  FROM documents)
      |GROUP BY 1, 2
      |ORDER BY lang, tok_len""".stripMargin

  // --------------------------------------------------------------- P41
  // Per-document duplicated-span ratio: what fraction of a doc's
  // winnowed fingerprints also occur in some OTHER document — the
  // sub-document duplication score that drives span-level dedup
  // decisions (P28 finds the pairs; this scores every doc even when
  // no single pair crosses the containment bar).
  //
  // Shape: shared = nf − (fingerprints this doc is the SOLE owner
  // of).  A df == 1 fingerprint has exactly one owner (winnowed fps
  // are per-doc distinct, so df counts documents), so the whole score
  // reduces to hash aggregations with map-side partials — no window
  // sort of the exploded fingerprint stream (the df-window form took
  // 26s at the 100× probe; this runs ~6s).  The barrier after the
  // winnow lets the per-doc nf frame and the fp stream share ONE
  // kernel evaluation (ReusedExchange).
  def qDupSpan(s: SparkSession, d: String): DataFrame = {
    val winnowed = Tables.documents(s, d)
      .select(col("doc_id"), expr("graft_winnow(graft_grams32(text, 8), 4)").as("fps"))
      .repartition(col("doc_id"))
    val perDoc = winnowed
      .select(col("doc_id"), expr("CAST(size(fps) AS BIGINT)").as("nf"))
    val uniq = winnowed
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("uniq"))
    perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nf"),
        expr("nf - coalesce(uniq, CAST(0 AS BIGINT))").as("shared"),
        expr("(nf - coalesce(uniq, CAST(0 AS BIGINT))) * 1000 DIV nf").as("permille"))
      .orderBy("doc_id")
  }

  val qDupSpanSql: String = {
    val h = Pipeline.duckHash32("g")
    s"""WITH g AS (
       |  SELECT doc_id, list_transform(range(length(lower(text)) - 7),
       |    i -> substr(lower(text), CAST(i + 1 AS INT), 8)) AS grams
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, list_transform(grams, g -> $h) AS gh FROM g
       |), f AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(gh) - 3),
       |    j -> list_min(gh[CAST(j + 1 AS INT):CAST(j + 4 AS INT)]))) AS fps
       |  FROM h
       |), e AS (
       |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS nf, unnest(fps) AS fp FROM f
       |), w AS (
       |  SELECT doc_id, nf, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM e
       |)
       |SELECT doc_id, nf,
       |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared,
       |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // nf
       |    AS permille
       |FROM w GROUP BY doc_id, nf
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- P42
  // Character-class profile per source: alpha/digit/whitespace/other
  // permille of the raw bytes — the "is this source binary garbage /
  // tables / prose" triage signal.  One scan, one hash agg; the class
  // counts come from length deltas of codegen'd regexp_replace, all
  // BIGINT.
  def qCharClasses(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        length(col("text")).cast("long").as("total"),
        // one byte-scan pass for all three ASCII classes — replaces a
        // lower() + three regexp_replace passes per row (r6: 1.8s →
        // scan-bound at sf0.1); class definitions are explicit ASCII
        // ranges so both engines agree on any input
        expr("graft_charclass(text)").as("cc"))
      .select(col("source"), col("total"),
        expr("cc[0]").as("alpha"), expr("cc[1]").as("digit"),
        expr("cc[2]").as("ws"))
      .groupBy("source")
      .agg(sum("total").as("n_chars"),
        expr("sum(alpha) * 1000 DIV sum(total)").as("alpha_pm"),
        expr("sum(digit) * 1000 DIV sum(total)").as("digit_pm"),
        expr("sum(ws) * 1000 DIV sum(total)").as("ws_pm"))
      .orderBy("source")

  val qCharClassesSql: String =
    """SELECT source,
      |  CAST(SUM(total) AS BIGINT) AS n_chars,
      |  CAST(SUM(alpha) AS BIGINT) * 1000 // CAST(SUM(total) AS BIGINT) AS alpha_pm,
      |  CAST(SUM(digit) AS BIGINT) * 1000 // CAST(SUM(total) AS BIGINT) AS digit_pm,
      |  CAST(SUM(ws) AS BIGINT) * 1000 // CAST(SUM(total) AS BIGINT) AS ws_pm
      |FROM (
      |  SELECT source,
      |    length(text) AS total,
      |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
      |    length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS ws
      |  FROM documents)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- P50
  // PII pattern scan per source — the filter/redact step every
  // training-data release pipeline runs (emails, phone numbers,
  // IPv4s).  The synthetic corpus carries no PII, so deterministic
  // doc_id-keyed fixtures are injected with IDENTICAL expressions on
  // both engines; the regexes then must find exactly the planted
  // instances (and ignore the planted decoys — version strings, short
  // digit runs) for the hash gate to pass, which also pins Java regex
  // and DuckDB's RE2 to the same match semantics for these patterns.
  // Scale shape: scan-stage scalars (regexp_count is codegen'd) + one
  // hash agg on `source` with map-side partials; the text never
  // shuffles.
  private[graft] val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val piiPhone = "\\+?[0-9][0-9 -]{6,}[0-9]"
  private[graft] val piiIp = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** The deterministic PII fixture (planted emails / phones / IPv4s +
    * decoy version strings, doc_id-keyed), shared VERBATIM by the scan
    * report (P50) and the redaction transform ([[Quality.qPiiRedact]],
    * P53) so the two queries cannot drift. */
  private[queries] def piiFixture(df: DataFrame): DataFrame = df
    .select(col("source"), col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(
          lit(" reach user"), expr("CAST(doc_id % 50 AS STRING)"),
          lit("@mail"), expr("CAST(doc_id % 7 AS STRING)"),
          lit(".com or host 10."), expr("CAST(doc_id % 256 AS STRING)"),
          lit(".0."), expr("CAST(doc_id % 100 AS STRING)"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1, concat(
          lit(" call +1 555-01"), expr("CAST(doc_id % 90 + 10 AS STRING)"),
          lit(" now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 2, lit(" v1.2 build 34 rc5"))
          .otherwise(lit(""))).as("aug"))

  /** DuckDB twin of [[piiFixture]]: the CTE body selecting
    * (source, doc_id, aug).  NOTE: no line may start with
    * whitespace + '|' — this string is interpolated into
    * stripMargin'd SQL, which would eat the first pipe of a leading
    * '||' operator. */
  private[queries] val piiFixtureSqlCte: String =
    """SELECT source, doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id % 50 AS VARCHAR) ||
      |         '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.com or host 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |         '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 1 THEN ' call +1 555-01' ||
      |         CAST(doc_id % 90 + 10 AS VARCHAR) || ' now' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 2 THEN ' v1.2 build 34 rc5' ELSE '' END AS aug
      |  FROM documents""".stripMargin

  /** Per-row PII counters on `textCol` — shared VERBATIM between the
    * batch scan below and [[graft.streaming.StreamPiiScan]] so the
    * two engines cannot drift.  Adds emails / phones / ips (BIGINT).
    * Pure scan-stage scalars: stateless in a stream. */
  def piiCounts(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("emails", regexp_count(col(textCol), lit(piiEmail)).cast("long"))
    .withColumn("phones", regexp_count(col(textCol), lit(piiPhone)).cast("long"))
    .withColumn("ips", regexp_count(col(textCol), lit(piiIp)).cast("long"))

  /** The aggregation half of the PII report, shared the same way
    * (head +: tail for groupBy(...).agg). */
  def piiAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum("emails").as("n_emails"),
    sum("phones").as("n_phones"),
    sum("ips").as("n_ips"),
    sum(when(col("emails") + col("phones") + col("ips") > 0, 1L)
      .otherwise(0L)).as("docs_with_pii"))

  def qPiiScan(s: SparkSession, d: String): DataFrame =
    piiCounts(piiFixture(Tables.documents(s, d)), "aug")
      .groupBy("source")
      .agg(piiAggs.head, piiAggs.tail: _*)
      .orderBy("source")

  val qPiiScanSql: String =
    s"""WITH a AS (
      |  $piiFixtureSqlCte
      |), m AS (""".stripMargin +
    s"""
      |  SELECT source,
      |    len(regexp_extract_all(aug, '$piiEmail')) AS emails,
      |    len(regexp_extract_all(aug, '$piiPhone')) AS phones,
      |    len(regexp_extract_all(aug, '$piiIp')) AS ips
      |  FROM a
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(emails) AS BIGINT) AS n_emails,
      |  CAST(SUM(phones) AS BIGINT) AS n_phones,
      |  CAST(SUM(ips) AS BIGINT) AS n_ips,
      |  CAST(SUM(CASE WHEN emails + phones + ips > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_with_pii
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- P69
  // Exact duplicated-substring SPANS (the ExactSubstr primitive of
  // Lee et al. 2022, "Deduplicating Training Data Makes Language
  // Models Better"): for every document, the maximal token ranges
  // every W-token window of which occurs at least twice anywhere in
  // the corpus (other documents OR a second time in the same one —
  // the paper's self-repetition case).  P41 (q_dup_span) SCORES docs
  // by approximate fingerprint overlap; this emits the exact spans a
  // cut step would remove, in token coordinates (the paper's unit).
  //
  // Shape at scale — the distributed re-expression of the paper's
  // single-node suffix array: (1) explode to positioned W-shingles
  // (exact strings, injective per token tuple — no hash, no collision
  // risk); (2) df per shingle via hash agg with map-side partials
  // (high-cardinality key: scale-safe); (3) left-semi join marks
  // duplicated positions (big-big SMJ on the shingle — at 100 TB this
  // is THE shuffle, and it is the unavoidable one: cross-corpus
  // equality has to co-locate equal shingles once); (4) interval
  // merge per doc is gaps-and-islands over (doc_id, pos) — doc_id is
  // corpus-cardinality, so the window parallelizes in cores (the
  // PlanAudit low-|k| ban does not apply).  Two W-windows [p1,p1+W)
  // [p2,p2+W) overlap or touch iff p2-p1 <= W, hence the break
  // condition; a span's every token is covered by some duplicated
  // window (the paper's span semantics), even where an interior
  // single window is itself unique.
  private val dupW = 5

  /** The positioned exact-shingle stream (doc_id, pos, s) that the
    * span construction reads.  graft_word_shingles is the fused
    * zero-copy kernel for the SQL spelling
    * `transform(sequence(0, size(toks) - W), i ->
    * concat_ws(' ', slice(toks, i + 1, W)))` (parity spec-pinned on
    * adversarial inputs); short docs yield the empty array, so no
    * size filter is needed. */
  private def shingleStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(expr(s"graft_word_shingles(text, $dupW)")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("s"))

  /** Span construction shared by P69 (emission) and P70 (cut) —
    * identical frames, no ORDER BY (each consumer adds its own). */
  private def dupSpans(s: SparkSession, d: String): DataFrame = {
    // The shingle stream is deliberately computed TWICE (df aggregate
    // + join probe side): column pruning gives the two consumers
    // different exchange subtrees (s vs doc_id/pos/s), so no
    // ReusedExchange exists to share, and the alternatives are worse
    // at scale — persist materializes corpus×W bytes of executor
    // storage, and the one-pass `COUNT OVER (PARTITION BY s)` form
    // buffers every occurrence of a hot shingle in one task (exactly
    // the boilerplate-text key a 100 TB corpus is full of; measured
    // in DUPSUBSTRPROBE_r12.json — see §6.r12).  The recompute is
    // scan+explode CPU only — embarrassingly parallel, zero extra
    // shuffle — and the semi-join stays skew-immune because its right
    // side carries at most ONE row per shingle.
    //
    // The SHJ hint is measured, not stylistic (DUPSUBSTRPROBE_r12):
    // default SMJ SORTS the shingle stream, and on a hot boilerplate
    // key that sort is 24M tied strings in one task — 25.0s max task
    // + 2.5 GB spill vs SHJ's 8.3s + zero spill (the window form
    // pays the same sort AND the group buffer: 18.9s + 2.7 GB).  The
    // hash build is only the DISTINCT df≥2 shingle set, hash-spread
    // across tasks.  At gate scale AQE still upgrades small builds
    // to broadcast; either way the stream is never sorted.
    val sh = shingleStream(s, d)
    val dup = sh.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    sh.join(dup.select("s").hint("shuffle_hash"), Seq("s"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > dupW, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("tok_start"),
        (max("pos") + dupW).as("tok_end"))
      .select(col("doc_id"), col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start")).as("span_toks"))
  }

  def qDupSubstring(s: SparkSession, d: String): DataFrame =
    dupSpans(s, d).orderBy("doc_id", "tok_start")

  // --------------------------------------------------------------- P70
  // The CUT step that consumes P69's spans: emit each document with
  // every duplicated span's tokens removed (Lee et al. drop ALL
  // occurrences — the canonical copy included — which is what the
  // span set denotes).  Shape at scale: spans collapse to a per-doc
  // list (≤ |doc|/W entries — bounded by doc length, not corpus),
  // one high-cardinality equi-join back to documents, then the token
  // filter runs scan-local as a higher-order expression — no explode,
  // no second shuffle, the reassembled text never moves.  Docs with
  // no duplicated span (join miss) pass through verbatim.
  def qDupCut(s: SparkSession, d: String): DataFrame = {
    val perDoc = dupSpans(s, d)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("tok_start").as("a"), col("tok_end").as("b")))
        .as("spans"),
        sum("span_toks").as("cut"))
    Tables.documents(s, d)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(concat_ws(" ",
          // Spark HOF index i is 0-based = the span coordinates' base
          expr("filter(split(text, ' '), (t, i) -> " +
            "NOT exists(spans, sp -> i >= sp.a AND i < sp.b))")))
          .as("clean_text"),
        coalesce(col("cut"), lit(0L)).as("toks_cut"))
      .orderBy("doc_id")
  }

  // lazy: embeds qDupSubstringSql, which is declared just below —
  // eager init would capture null (evaluation happens at oracle-map
  // build, after every plain val is ready).  DuckDB index lambdas are
  // 1-based where Spark's are 0-based, hence the i - 1.
  lazy val qDupCutSql: String =
    s"""WITH spans AS (
       |$qDupSubstringSql
       |), sp AS (
       |  SELECT doc_id, list(struct_pack(a := tok_start, b := tok_end)) AS spans,
       |    CAST(SUM(span_toks) AS BIGINT) AS cut
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CASE WHEN sp.spans IS NULL THEN d.text
       |       -- COALESCE: DuckDB 1.0 renders the empty list as NULL
       |       -- where Spark's concat_ws gives '' (fully-cut doc)
       |       ELSE COALESCE(array_to_string(list_filter(string_split(d.text, ' '),
       |         (t, i) -> len(list_filter(sp.spans,
       |           s -> i - 1 >= s.a AND i - 1 < s.b)) = 0), ' '), '')
       |  END AS clean_text,
       |  COALESCE(sp.cut, 0) AS toks_cut
       |FROM documents d LEFT JOIN sp USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val qDupSubstringSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(range(len(toks) - ${dupW - 1})) AS pos,
       |    unnest(list_transform(range(len(toks) - ${dupW - 1}),
       |      i -> array_to_string(
       |        toks[CAST(i + 1 AS INT):CAST(i + $dupW AS INT)], ' '))) AS s
       |  FROM t WHERE len(toks) >= $dupW
       |), m AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY s) AS df FROM sh)
       |  WHERE df >= 2
       |), b AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           > $dupW THEN 1 ELSE 0 END AS brk
       |  FROM m
       |), i AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM b
       |)
       |SELECT doc_id, MIN(pos) AS tok_start, MAX(pos) + $dupW AS tok_end,
       |  MAX(pos) + $dupW - MIN(pos) AS span_toks
       |FROM i GROUP BY doc_id, island
       |ORDER BY doc_id, tok_start""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_substring" -> (qDupSubstring _),
    "q_dup_cut" -> (qDupCut _),
    "q_pii_scan" -> (qPiiScan _),
    "q_winnow_overlap" -> (qWinnowOverlap _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_cooccur" -> (qCooccur _),
    "q_length_hist" -> (qLengthHist _),
    "q_char_trigrams" -> (qCharTrigrams _),
    "q_dup_rate_source" -> (qDupRateSource _),
    "q_vocab_growth" -> (qVocabGrowth _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_recall_ivf" -> (qAnnRecallIvf _),
    "q_ann_recall_lsh" -> (qAnnRecallLsh _),
    "q_cluster_keep" -> (qClusterKeep _),
    "q_threshold_sweep" -> (qThresholdSweep _),
    "q_length_outliers" -> (qLengthOutliers _),
    "q_tok_len_hist" -> (qTokLenHist _),
    "q_dup_span" -> (qDupSpan _),
    "q_char_classes" -> (qCharClasses _))

  val oracle: Map[String, String] = Map(
    "q_dup_substring" -> qDupSubstringSql,
    "q_dup_cut" -> qDupCutSql,
    "q_pii_scan" -> qPiiScanSql,
    "q_winnow_overlap" -> qWinnowOverlapSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_cooccur" -> qCooccurSql,
    "q_length_hist" -> qLengthHistSql,
    "q_char_trigrams" -> qCharTrigramsSql,
    "q_dup_rate_source" -> qDupRateSourceSql,
    "q_vocab_growth" -> qVocabGrowthSql,
    "q_ann_recall" -> qAnnRecallSql,
    "q_ann_recall_ivf" -> qAnnRecallIvfSql,
    "q_ann_recall_lsh" -> qAnnRecallLshSql,
    "q_cluster_keep" -> qClusterKeepSql,
    "q_threshold_sweep" -> qThresholdSweepSql,
    "q_length_outliers" -> qLengthOutliersSql,
    "q_tok_len_hist" -> qTokLenHistSql,
    "q_dup_span" -> qDupSpanSql,
    "q_char_classes" -> qCharClassesSql)
}
