package graft.sources

import graft.SparkSpec
import graft.model.VcfVariant

/** Bounded-traversal BCF reads: sidecar-granule pruning for our own
  * sorted writes, CSI chunk pruning for indexed files, full-scan
  * fallback otherwise — all result-identical to read + filter. */
class BcfBoundedSpec extends SparkSpec {

  private val dicts = BcfIO.Dicts(Array("c1", "c2"), Array("PASS"), Array("DP"))

  private def variant(c: String, pos: Int, i: Int): VcfVariant =
    VcfVariant(c, pos.toLong, s"v$i",
      if (i % 37 == 0) "A" * 400 else "A", Array("C"), Some(9.0), "PASS",
      Array("DP"), Array(s"${i % 70}"), Array.empty, Array.empty)

  private def sortedFixture(n: Int): Seq[VcfVariant] =
    Seq("c1", "c2").zipWithIndex.flatMap { case (c, ci) =>
      (0 until n).map(i => variant(c, 50 + i * 13, ci * n + i))
    }

  private def writeSortedBcf(n: Int, dirTag: String): String = {
    import spark.implicits._
    val f = s"${tmpDir(dirTag)}/t.bcf"
    BcfIO.write(spark.createDataset(sortedFixture(n)).coalesce(1), dicts, f,
      granularity = 64)
    f
  }

  private def ids(ds: org.apache.spark.sql.Dataset[VcfVariant]): Seq[String] =
    ds.collect().map(_.id).sorted.toSeq

  private def naive(f: String, intervals: Seq[(String, Int, Int)]): Seq[String] = {
    val merged = Vcf.mergeIntervals(intervals)
    BcfIO.read(spark, f).collect().filter { v =>
      merged.get(v.chrom).exists(_.exists { case (s, e) =>
        v.pos <= e && v.pos + math.max(1, v.ref.length) - 1 >= s
      })
    }.map(_.id).sorted.toSeq
  }

  test("sorted writes carry a prunable sidecar (maxSpan recorded)") {
    val f = writeSortedBcf(2000, "bcfb1")
    val (fs, p) = Fs.get(f)
    val sidx = SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get
    assert(sidx.maxSpan === 400)
  }

  test("sidecar-pruned interval read matches read + filter") {
    val f = writeSortedBcf(2000, "bcfb2")
    val intervals = Seq(("c2", 5000, 9000), ("c1", 1, 400))
    assert(ids(BcfIO.readIntervals(spark, f, intervals)) === naive(f, intervals))
    assert(naive(f, intervals).nonEmpty)
  }

  test("long-REF records spanning into the interval are kept") {
    val f = writeSortedBcf(2000, "bcfb3")
    // every 37th record has a 400-base REF; query a window that only
    // such a spanning record can reach into from before
    val full = BcfIO.read(spark, f).collect()
    val del = full.find(v => v.chrom == "c1" && v.ref.length > 100).get
    val s = del.pos.toInt + 50
    val intervals = Seq(("c1", s, s + 3))
    val got = BcfIO.readIntervals(spark, f, intervals).collect()
    assert(got.exists(_.id == del.id), s"spanning record ${del.id} missed")
    assert(ids(BcfIO.readIntervals(spark, f, intervals)) === naive(f, intervals))
  }

  test("CSI chunk pruning matches, with exactly-once output at tiny splits") {
    val f = writeSortedBcf(2000, "bcfb4")
    Csi.buildAndWriteBcf(f)
    val intervals = Seq(("c1", 1, 30000), ("c2", 100, 20000))
    val rows = BcfIO.readIntervals(spark, f, intervals, splitSize = 2048)
      .collect().map(_.id)
    assert(rows.length === rows.distinct.length, "duplicates across tasks")
    assert(rows.sorted.toSeq === naive(f, intervals))
  }

  test("DSv2: format(\"bcf\") load matches the typed reader") {
    val f = writeSortedBcf(800, "bcfb6")
    val v2 = spark.read.format("bcf").load(f)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val typed = BcfIO.read(spark, f).collect().map(v => (v.chrom, v.pos)).sorted.toSeq
    assert(v2 === typed)
    assert(v2.nonEmpty)
  }

  test("DSv2: chrom/pos predicates prune partitions with exact results") {
    import org.apache.spark.sql.functions.col
    val f = writeSortedBcf(2000, "bcfb7")
    // a split below the file size, so the full scan has partitions to prune
    def load() = spark.read.format("bcf").option("splitsize", "4096").load(f)
    val df = load()
      .filter(col("chrom") === "c2" && col("pos") >= 3000 && col("pos") <= 6000)
    val expected = BcfIO.read(spark, f).collect()
      .filter(v => v.chrom == "c2" && v.pos >= 3000 && v.pos <= 6000)
      .map(v => (v.chrom, v.pos)).sorted.toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq === expected)
    def parts(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collectLeaves()
        .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
        .inputPartitions.length
    assert(parts(df) < parts(load()))
  }

  test("DSv2: intervals option applies record-level overlap semantics") {
    val f = writeSortedBcf(1000, "bcfb8")
    val opt = spark.read.format("bcf").option("intervals", "c1:500-4000")
      .load(f).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val typed = BcfIO.readIntervals(spark, f, Seq(("c1", 500, 4000)))
      .collect().map(v => (v.chrom, v.pos)).sorted.toSeq
    assert(opt === typed)
    assert(opt.nonEmpty)
  }

  test("INFO END= symbolic records are found by queries inside their span") {
    import spark.implicits._
    val f = s"${tmpDir("bcfb9")}/t.bcf"
    val dicts2 = BcfIO.Dicts(Array("c1"), Array("PASS"), Array("END", "SVTYPE"))
    val del = VcfVariant("c1", 100L, "del1", "A", Array("<DEL>"), None, "PASS",
      Array("END", "SVTYPE"), Array("3000", "DEL"), Array.empty, Array.empty)
    val points = (0 until 500).map(i =>
      VcfVariant("c1", 200L + i * 20, s"p$i", "A", Array("C"), None, "PASS",
        Array.empty, Array.empty, Array.empty, Array.empty))
    BcfIO.write(spark.createDataset(del +: points).coalesce(1), dicts2, f,
      granularity = 64)
    Csi.buildAndWriteBcf(f)
    // a window deep inside the deletion's END span, far past POS+len(REF)
    val intervals = Seq(("c1", 2500, 2600))
    val got = BcfIO.readIntervals(spark, f, intervals).collect().map(_.id)
    assert(got.contains("del1"), s"END= span missed: ${got.mkString(",")}")
    // sidecar path too (maxSpan must cover the END span)
    val (fs, p) = Fs.get(f)
    assert(SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get.maxSpan === 2901)
    fs.delete(Csi.indexPath(p), false)
    val got2 = BcfIO.readIntervals(spark, f, intervals).collect().map(_.id)
    assert(got2.contains("del1"))
  }

  test("unsorted writes disable sidecar pruning but reads stay correct") {
    import spark.implicits._
    val f = s"${tmpDir("bcfb5")}/t.bcf"
    val vs = sortedFixture(300).reverse
    BcfIO.write(spark.createDataset(vs).coalesce(1), dicts, f, granularity = 64)
    val (fs, p) = Fs.get(f)
    assert(SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get.maxSpan === -1)
    val intervals = Seq(("c1", 100, 800))
    assert(ids(BcfIO.readIntervals(spark, f, intervals)) === naive(f, intervals))
  }

  test("sparse IDX= headers keep dictionary gaps (htslib subsetting)") {
    // bcftools subsetting legitimately leaves holes in the IDX space;
    // record wire indices ARE the IDX values, so the table must not
    // compact around gaps
    val header =
      """##fileformat=VCFv4.3
        |##FILTER=<ID=PASS,Description="ok",IDX=0>
        |##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=3>
        |##FORMAT=<ID=GT,Number=1,Type=String,Description="g",IDX=5>
        |##contig=<ID=chr1,IDX=0>
        |##contig=<ID=chr3,IDX=2>
        |#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO""".stripMargin
    val d = BcfIO.Dicts.fromHeader(header)
    assert(d.strings(0) === "PASS")
    assert(d.strings(3) === "DP")
    assert(d.strings(5) === "GT")
    assert(d.strings(1) === null && d.strings(2) === null && d.strings(4) === null)
    assert(d.contigs(0) === "chr1" && d.contigs(1) === null && d.contigs(2) === "chr3")

    // a record whose wire indices are the sparse IDX values decodes to
    // the right names
    val v = VcfVariant("chr3", 42L, "v1", "A", Array("C"), Some(9.0), "PASS",
      Array("DP"), Array("7"), Array.empty, Array.empty)
    val bytes = Bcf.encode(v, Map("chr3" -> 2), Map("PASS" -> 0), Map("DP" -> 3))
    val back = Bcf.decode(bytes, d.contigs, d.filterTable, d.infoTable)
    assert(back.chrom === "chr3")
    assert(back.filter === "PASS")
    assert(back.infoKeys.toSeq === Seq("DP") && back.infoValues.toSeq === Seq("7"))

    // a record pointing at an undefined slot fails loudly, not silently
    val badContig = Bcf.encode(v, Map("chr3" -> 1), Map("PASS" -> 0), Map("DP" -> 3))
    val e = intercept[IllegalStateException](
      Bcf.decode(badContig, d.contigs, d.filterTable, d.infoTable))
    assert(e.getMessage.contains("dictionary index 1"))
  }
}
