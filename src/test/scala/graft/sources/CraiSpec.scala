package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef}
import graft.sources.v2.CramPartition

/** `.crai` round-trip + container-pruned CRAM interval reads. */
class CraiSpec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000000\n@SQ\tSN:c2\tLN:1000000",
    Array(SamRef("c1", 1000000), SamRef("c2", 1000000)))

  private def rec(c: String, pos: Int, i: Int) = SamRecord(s"r$i", 0, c, pos, 60,
    "100M", "*", 0, 0, "A" * 100, "I" * 100, Array.empty)

  private def fixture(n: Int): Seq[SamRecord] =
    Seq("c1", "c2").flatMap { c =>
      (0 until n).map(i => rec(c, 1000 + i * 40, i))
    }

  private lazy val cram: String = {
    import spark.implicits._
    val f = s"${tmpDir("crai")}/t.cram"
    CramIO.write(spark.createDataset(fixture(20000)).coalesce(1), header, f)
    f
  }

  test("write drops a .crai matching the container walk") {
    val (fs, p) = Fs.get(cram)
    val idx = Crai.read(fs, Crai.indexPath(p)).get
    val walked = Crai.build(cram)
    assert(idx === walked)
    assert(idx.length > 3, s"expected several containers, got ${idx.length}")
    // sorted input: at most one ref-boundary container is multi-ref
    assert(idx.count(_.seqId == -2) <= 1)
    assert(idx.filter(_.seqId >= 0).forall(_.span > 0))
    assert(idx.map(_.sliceSize).forall(_ > 0))
  }

  test("interval read matches full scan + filter, reading fewer containers") {
    val intervals = Seq(("c2", 50000, 90000))
    val bounded = CramIO.readIntervals(spark, cram, intervals).collect()
      .map(r => (r.rname, r.pos)).sorted.toSeq
    val full = CramIO.read(spark, cram).collect()
      .filter(r => r.rname == "c2" && r.pos <= 90000 && math.max(r.end, r.pos) >= 50000)
      .map(r => (r.rname, r.pos)).sorted.toSeq
    assert(bounded === full)
    assert(bounded.nonEmpty)
    val prunedGroups = CramIO.plan(cram, intervals, exact = true, 1L << 20, None).map(_.offsets)
    val allGroups = CramIO.plan(cram, Nil, exact = false, 1L << 20, None).map(_.offsets)
    assert(prunedGroups.map(_.size).sum < allGroups.map(_.size).sum,
      s"pruning read all ${allGroups.map(_.size).sum} containers")
    assert(CramIO.plan(cram, intervals, exact = true, 1L << 20, None).head.refs.length === 2)
  }

  test("records spanning into the interval from before are kept") {
    // reads are 100 bases; query a window starting mid-read
    val intervals = Seq(("c1", 1050, 1060))
    val got = CramIO.readIntervals(spark, cram, intervals).collect()
    assert(got.exists(r => r.pos < 1050 && r.end >= 1050))
  }

  test("DSv2: rname/pos predicates prune containers with exact results") {
    val df = spark.read.format("cram").load(cram)
      .filter(col("rname") === "c1" && col("pos") >= 2000 && col("pos") <= 4000)
    val expected = CramIO.read(spark, cram).collect()
      .filter(r => r.rname == "c1" && r.pos >= 2000 && r.pos <= 4000)
      .map(r => (r.qname, r.pos)).sorted.toSeq
    assert(df.collect().map(r => (r.getString(0), r.getInt(3))).sorted.toSeq === expected)
    def parts(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collectLeaves()
        .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .inputPartitions.map(_.asInstanceOf[CramPartition].offsets.size).sum
    assert(parts(df) < parts(spark.read.format("cram").load(cram)))
  }

  test("DSv2: intervals option applies record-level overlap semantics") {
    val opt = spark.read.format("cram").option("intervals", "c2:50000-90000")
      .load(cram).collect().map(r => (r.getString(0), r.getInt(3))).sorted.toSeq
    val typed = CramIO.readIntervals(spark, cram, Seq(("c2", 50000, 90000)))
      .collect().map(r => (r.qname, r.pos)).sorted.toSeq
    assert(opt === typed)
    assert(opt.nonEmpty)
  }
}
