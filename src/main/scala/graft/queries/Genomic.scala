package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Genomic-semantics operators (SURVEY §2.2 O2-O4, O7-O10) exercised as
  * relational analogs over the shared testdata (SURVEY §3 mapping:
  * lineitem ≈ alignment facts — l_returnflag ≈ contig, derived numeric
  * ranges ≈ loci; part ≈ target intervals).
  *
  * The real-format counterparts (interval pushdown on BAM scans etc.)
  * live in graft.sources; these queries gate the *algorithms* against
  * the DuckDB oracle.
  */
object Genomic {

  /** Default swap point for [[qRangeCount]]'s distributed-ranking
    * form (`spark.graft.ranked.rangeCountMinBytes`), against the
    * PHYSICAL bytes of the query's two parquet inputs (lineitem +
    * part: 11.0 MB at sf0.1, 113 MB at sf1).
    * The measured window→ranked crossover is ≈ sf0.2 (r9: window
    * 2.13s vs ranked 2.39s at sf0.1, 8.61s vs 4.02s at sf1), i.e.
    * ~2× the sf0.1 input — 22 MB.  File size, not optimizer stats:
    * `queryExecution.optimizedPlan.stats` re-ran analysis+optimization
    * per query build and cost ~0.2s/run at sf0.1 (measured in the r20
    * ABBA), while a FileSystem length lookup is sub-ms and equally
    * deterministic. */
  private val RangeCountRankedMinBytes: String = "22000000"

  /** Physical length of the parquet inputs the ranked swap gates on. */
  private def inputBytes(s: SparkSession, paths: String*): Long =
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum

  /** Read model: id, contig, [rstart, rend] interval derived
    * deterministically from lineitem (same arithmetic in the oracle). */
  private def reads(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      expr("l_orderkey * 10 + l_linenumber").as("read_id"),
      col("l_returnflag").as("contig"),
      expr("(l_partkey * 3) % 1000").as("rstart"),
      expr("(l_partkey * 3) % 1000 + CAST(FLOOR(l_quantity) AS BIGINT)").as("rend"))

  /** Target model: intervals derived from part (p_size as width). */
  private def targets(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("target_id"),
      expr("CASE p_partkey % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END").as("tcontig"),
      expr("(p_partkey * 7) % 1000").as("tstart"),
      expr("(p_partkey * 7) % 1000 + p_size").as("tend"))

  // O2 — bounded-traversal interval filter.  The Spark-first analog of
  // ref: BAMInputFormat.java:150-190 (setTraversalParameters /
  // getIntervals): the interval predicate must reach the scan as
  // PushedFilters so only matching row groups are read (verified by an
  // explain audit in the test suite).
  def qIntervalFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  val qIntervalFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // O3 — interval overlap join, written NAIVELY (declarative overlap
  // predicate).  The graft RangeJoinRule (plans/GraftPlans.scala)
  // rewrites it into a binned equi-join — both sides explode
  // fixed-width bins, hash-join on (bin, contig), residual overlap
  // check, count-once in the bin of max(rstart, tstart) — so shuffle
  // is O(|reads| + |targets|), never the cartesian O(|r|·|t|) this
  // query would otherwise plan as.  100 TB-safe reformulation of
  // ref: util/IntervalUtil.java + BAMInputFormat bounded traversal.
  def qRangeJoin(s: SparkSession, d: String): DataFrame =
    reads(s, d).join(targets(s, d),
        col("contig") === col("tcontig") &&
        col("rstart") <= col("tend") && col("tstart") <= col("rend"))
      .groupBy("target_id")
      .agg(count(lit(1)).as("n_reads"))
      .orderBy("target_id")

  val qRangeJoinSql: String =
    """WITH r AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS read_id,
      |    l_returnflag AS contig,
      |    (l_partkey * 3) % 1000 AS rstart,
      |    (l_partkey * 3) % 1000 + CAST(FLOOR(l_quantity) AS BIGINT) AS rend
      |  FROM lineitem
      |), t AS (
      |  SELECT p_partkey AS target_id,
      |    CASE p_partkey % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS tcontig,
      |    (p_partkey * 7) % 1000 AS tstart,
      |    (p_partkey * 7) % 1000 + p_size AS tend
      |  FROM part
      |)
      |SELECT target_id, COUNT(*) AS n_reads
      |FROM r JOIN t ON contig = tcontig AND rstart <= tend AND tstart <= rend
      |GROUP BY target_id ORDER BY target_id""".stripMargin

  // O3b — overlap COUNT without materializing pairs: per target,
  // n_reads = F(tend) − G(tstart−1) where F = running count of reads
  // by start and G = running count of reads by end, both per-contig
  // window prefix sums over a merged event stream.  O((|r|+|t|)·log)
  // instead of O(pairs): at sf0.1 the pair join touches 204M pairs
  // (~30s, on par with DuckDB's native join); this runs in ~1s and is
  // the formulation that survives 100 TB when only counts are needed.
  def qRangeCount(s: SparkSession, d: String): DataFrame = {
    val r = reads(s, d)
    val t = targets(s, d)
    // F: reads ordered by rstart before target probes at tend (ties:
    // rstart <= tend is inclusive → reads first via flag 0)
    // NOTE on the `PARTITION BY contig` windows: contig has a handful
    // of values, so each window sorts the whole event stream on
    // |contig| tasks.  Measured r9 at local[32]: window 2.13s vs
    // ranked 2.39s at sf0.1, window 8.61s vs ranked 4.02s at sf1 —
    // swap point ≈ sf0.2, and on a many-core cluster where
    // |contig| << cores the ranked form is the only shape that scales.
    // r20 (VERDICT r19 item 7): the swap now flips on the MEASURED
    // input-size estimate instead of requiring the operator to know
    // the session flag exists — above
    // spark.graft.ranked.rangeCountMinBytes (default sits between the
    // sf0.1 and sf1 event-stream estimates, i.e. the measured ~sf0.2
    // swap point) both running sums build as the distributed
    // two-pass RankedPrefixSum; below it the codegen window stays.
    // -1 disables the flip, 0 forces the ranked form (the spec pins
    // both forms equal).  The session-wide
    // `spark.graft.ranked.autoRewrite` rule is unchanged and
    // orthogonal.
    val evF = r.select(col("contig"), col("rstart").as("pos"), lit(0).as("flag"),
        lit(1L).as("delta"), lit(-1L).as("target_id"))
      .unionAll(t.select(col("tcontig").as("contig"), col("tend").as("pos"),
        lit(1).as("flag"), lit(0L).as("delta"), col("target_id")))
    val wOrd = Window.partitionBy("contig").orderBy("pos", "flag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val minBytes = s.conf.get(
      "spark.graft.ranked.rangeCountMinBytes", RangeCountRankedMinBytes).toLong
    val useRanked = minBytes >= 0 &&
      inputBytes(s, s"$d/lineitem.parquet", s"$d/part.parquet") > minBytes
    def cum(ev: DataFrame): DataFrame =
      if (useRanked)
        graft.operators.Ranked.prefixSum(
          ev, Seq("contig"), Seq("pos", "flag"), "delta", "cum")
      else ev.withColumn("cum", sum("delta").over(wOrd))
    val f = cum(evF)
      .filter(col("flag") === 1)
      .select(col("target_id"), col("cum").as("f"))
    // G: reads counted by rend, target probes at tstart count strictly
    // earlier ends (rend < tstart → probes first on ties via flag 0)
    val evG = r.select(col("contig"), col("rend").as("pos"), lit(1).as("flag"),
        lit(1L).as("delta"), lit(-1L).as("target_id"))
      .unionAll(t.select(col("tcontig").as("contig"), col("tstart").as("pos"),
        lit(0).as("flag"), lit(0L).as("delta"), col("target_id")))
    val g = cum(evG)
      .filter(col("flag") === 0 && col("target_id") >= 0)
      .select(col("target_id"), col("cum").as("g"))
    f.join(g, "target_id")
      .select(col("target_id"), (col("f") - col("g")).cast("bigint").as("n_reads"))
      .orderBy("target_id")
  }

  val qRangeCountSql: String =
    """WITH r AS (
      |  SELECT l_returnflag AS contig,
      |    (l_partkey * 3) % 1000 AS rstart,
      |    (l_partkey * 3) % 1000 + CAST(FLOOR(l_quantity) AS BIGINT) AS rend
      |  FROM lineitem
      |), t AS (
      |  SELECT p_partkey AS target_id,
      |    CASE p_partkey % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS tcontig,
      |    (p_partkey * 7) % 1000 AS tstart,
      |    (p_partkey * 7) % 1000 + p_size AS tend
      |  FROM part
      |)
      |SELECT t.target_id, CAST(COUNT(r.rstart) AS BIGINT) AS n_reads
      |FROM t LEFT JOIN r
      |  ON r.contig = t.tcontig AND r.rstart <= t.tend AND t.tstart <= r.rend
      |GROUP BY t.target_id ORDER BY t.target_id""".stripMargin

  // O4 — depth-of-coverage via boundary events (+1 at read start, −1
  // just past read end) and a per-contig running sum.  2 rows per
  // read, never a per-base explode; window is partitioned by contig so
  // at 1000 executors each contig range is an independent sort.
  def qCoverage(s: SparkSession, d: String): DataFrame = {
    val r = reads(s, d)
    val ev = r.select(col("contig"), col("rstart").as("pos"), lit(1).as("delta"))
      .unionAll(r.select(col("contig"), (col("rend") + 1).as("pos"), lit(-1).as("delta")))
    val byPos = Window.partitionBy("contig").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.groupBy("contig", "pos")
      .agg(sum("delta").cast("bigint").as("d"))
      .select(col("contig"), col("pos"),
        sum("d").over(byPos).cast("bigint").as("depth"))
      .orderBy("contig", "pos")
  }

  val qCoverageSql: String =
    """WITH r AS (
      |  SELECT l_returnflag AS contig,
      |    (l_partkey * 3) % 1000 AS rstart,
      |    (l_partkey * 3) % 1000 + CAST(FLOOR(l_quantity) AS BIGINT) AS rend
      |  FROM lineitem
      |), ev AS (
      |  SELECT contig, rstart AS pos, 1 AS delta FROM r
      |  UNION ALL
      |  SELECT contig, rend + 1 AS pos, -1 AS delta FROM r
      |), g AS (
      |  SELECT contig, pos, CAST(SUM(delta) AS BIGINT) AS d
      |  FROM ev GROUP BY contig, pos
      |)
      |SELECT contig, pos,
      |  CAST(SUM(d) OVER (PARTITION BY contig ORDER BY pos
      |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth
      |FROM g ORDER BY contig, pos""".stripMargin

  // O7 — mark duplicates: per duplicate locus (contig, pos) keep the
  // best-quality representative (max score, deterministic tiebreak) —
  // the Picard-markdup shape as a single window pass.
  def qMarkdup(s: SparkSession, d: String): DataFrame = {
    val key = Window.partitionBy("l_returnflag", "l_partkey")
    val ranked = key.orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(
        col("l_returnflag").as("contig"), col("l_partkey").as("pos"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("score"),
        row_number().over(ranked).as("rn"),
        count(lit(1)).over(key).cast("bigint").as("n_dup"))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("contig", "pos")
  }

  val qMarkdupSql: String =
    """SELECT contig, pos, l_orderkey, l_linenumber, score, n_dup FROM (
      |  SELECT l_returnflag AS contig, l_partkey AS pos,
      |    l_orderkey, l_linenumber, l_extendedprice AS score,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_partkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY l_returnflag, l_partkey) AS BIGINT) AS n_dup
      |  FROM lineitem
      |) WHERE rn = 1 ORDER BY contig, pos""".stripMargin

  // O8 — flagstat: bitwise flag-field conditional aggregation in one
  // pass (SAM flag semantics, ref: FormatConstants.java + the flag
  // columns of SAMRecordReader.java).  Flag word derived as
  // l_orderkey % 4096 — 12 SAM flag bits.
  def qFlagstat(s: SparkSession, d: String): DataFrame = {
    def bit(b: Int, name: String) =
      sum(expr(s"CASE WHEN ((l_orderkey % 4096) & $b) <> 0 THEN 1 ELSE 0 END")).as(name)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("rgroup"))
      .agg(count(lit(1)).as("total"),
        bit(1, "paired"), bit(2, "proper_pair"), bit(4, "unmapped"),
        bit(8, "mate_unmapped"), bit(16, "reverse"), bit(256, "secondary"),
        bit(1024, "duplicate"), bit(2048, "supplementary"))
      .orderBy("rgroup")
  }

  val qFlagstatSql: String =
    """SELECT l_returnflag AS rgroup, COUNT(*) AS total,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 1) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS paired,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 2) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS proper_pair,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 4) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS unmapped,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 8) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS mate_unmapped,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 16) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS reverse,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 256) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS secondary,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 1024) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate,
      |  CAST(SUM(CASE WHEN ((l_orderkey % 4096) & 2048) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS supplementary
      |FROM lineitem GROUP BY l_returnflag ORDER BY rgroup""".stripMargin

  // O9 — vendor-QC filter + quality-encoding conversion
  // (sanger ↔ illumina = +31 phred offset shift,
  // ref: FormatConstants.java:30-40, SequencedFragment.java QC flag).
  def qQcFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(expr("((l_orderkey % 4096) & 512) = 0"))
      .select(
        expr("l_orderkey * 10 + l_linenumber").as("read_id"),
        expr("CAST((l_orderkey * 7 + l_linenumber * 13) % 42 AS BIGINT)").as("qual_sanger"),
        expr("CAST((l_orderkey * 7 + l_linenumber * 13) % 42 + 31 AS BIGINT)").as("qual_illumina"))
      .orderBy("read_id")

  val qQcFilterSql: String =
    """SELECT l_orderkey * 10 + l_linenumber AS read_id,
      |  CAST((l_orderkey * 7 + l_linenumber * 13) % 42 AS BIGINT) AS qual_sanger,
      |  CAST((l_orderkey * 7 + l_linenumber * 13) % 42 + 31 AS BIGINT) AS qual_illumina
      |FROM lineitem WHERE ((l_orderkey % 4096) & 512) = 0
      |ORDER BY read_id""".stripMargin

  // O10 — merge n sorted shards into one globally sorted stream
  // (ref: util/SAMFileMerger.java:32 reassembles part-files; here the
  // Spark-first equivalent is union + range repartition, which keeps
  // every writer balanced instead of funneling through one task).
  def qMergeSorted(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val shard0 = li.filter(col("l_orderkey") % 2 === 0)
      .repartitionByRange(col("l_shipdate")).sortWithinPartitions("l_shipdate")
    val shard1 = li.filter(col("l_orderkey") % 2 === 1)
      .repartitionByRange(col("l_shipdate")).sortWithinPartitions("l_shipdate")
    shard0.unionAll(shard1)
      .repartitionByRange(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
  }

  val qMergeSortedSql: String =
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
      |FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_filter" -> (qIntervalFilter _),
    "q_range_join" -> (qRangeJoin _),
    "q_range_count" -> (qRangeCount _),
    "q_coverage" -> (qCoverage _),
    "q_markdup" -> (qMarkdup _),
    "q_flagstat" -> (qFlagstat _),
    "q_qc_filter" -> (qQcFilter _),
    "q_merge_sorted" -> (qMergeSorted _))

  val oracle: Map[String, String] = Map(
    "q_interval_filter" -> qIntervalFilterSql,
    "q_range_join" -> qRangeJoinSql,
    "q_range_count" -> qRangeCountSql,
    "q_coverage" -> qCoverageSql,
    "q_markdup" -> qMarkdupSql,
    "q_flagstat" -> qFlagstatSql,
    "q_qc_filter" -> qQcFilterSql,
    "q_merge_sorted" -> qMergeSortedSql)
}
