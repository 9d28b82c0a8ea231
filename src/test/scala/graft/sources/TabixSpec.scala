package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.VcfVariant

/** Tabix index round-trip + bounded-traversal VCF reads (the
  * reference's VCFInputFormat.filterByInterval semantics,
  * VCFInputFormat.java:388-460). */
class TabixSpec extends SparkSpec {

  private def variant(chrom: String, pos: Int, i: Int): VcfVariant =
    VcfVariant(chrom, pos.toLong, s"rs$i",
      // every 31st record is a long deletion (spans ~400 bases);
      // every 53rd is a symbolic allele spanning via INFO END=
      if (i % 31 == 0) "A" * 400 else "A",
      if (i % 53 == 0) Array("<DEL>") else Array("C"),
      Some(30.0), "PASS",
      if (i % 53 == 0) Array("END", "SVTYPE") else Array("DP"),
      if (i % 53 == 0) Array((pos + 2500).toString, "DEL") else Array(s"${i % 90}"),
      Array.empty, Array.empty)

  /** Coordinate-sorted multi-contig fixture; dense enough to span
    * many BGZF blocks. */
  private def fixture(n: Int): Seq[VcfVariant] = {
    val contigs = Seq("chr1", "chr2", "chr3")
    contigs.zipWithIndex.flatMap { case (c, ci) =>
      (0 until n).map(i => variant(c, 100 + i * 70 + (ci * 13) % 5, ci * n + i))
    }
  }

  private val header = Vcf.VcfHeader(Seq(
    "##fileformat=VCFv4.3",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##INFO=<ID=END,Number=1,Type=Integer,Description=\"End\">",
    "##INFO=<ID=SVTYPE,Number=1,Type=String,Description=\"SV type\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))

  private lazy val vcfBgz: String = {
    import spark.implicits._
    val f = s"${tmpDir("tbx")}/calls.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(fixture(4000)).coalesce(1), header, f,
      tabix = true)
    f
  }

  test("tabix index round-trips through write + read") {
    val (fs, p) = Fs.get(vcfBgz)
    val idx = Tabix.read(fs, Tabix.indexPath(p)).get
    assert(idx.format === Tabix.FormatVcf)
    assert(idx.names === Seq("chr1", "chr2", "chr3"))
    assert(idx.colSeq === 1 && idx.colBeg === 2 && idx.colEnd === 0)
    val again = {
      val tmp = new org.apache.hadoop.fs.Path(tmpDir("tbx2"), "copy.tbi")
      Tabix.write(fs, tmp, idx)
      Tabix.read(fs, tmp).get
    }
    assert(again.names === idx.names)
    idx.refs.zip(again.refs).foreach { case (a, b) =>
      assert(a.bins === b.bins)
      assert(a.linear.toSeq === b.linear.toSeq)
    }
    // htslib metadata pseudo-bin carries per-contig record counts
    assert(idx.refs(0).bins(Bai.PseudoBin)(1).beg === 4000L)
  }

  test("indexed interval read matches full scan + overlap filter") {
    val intervals = Seq(("chr2", 5000, 9000), ("chr1", 1, 300))
    val indexed = Vcf.readIntervals(spark, vcfBgz, intervals).collect()
      .map(v => (v.chrom, v.pos, v.id)).sorted.toSeq
    val merged = Vcf.mergeIntervals(intervals)
    val full = Vcf.read(spark, vcfBgz).collect().filter { v =>
      merged.get(v.chrom).exists(_.exists { case (s, e) =>
        v.pos <= e && Vcf.spanEnd(v) >= s
      })
    }.map(v => (v.chrom, v.pos, v.id)).sorted.toSeq
    assert(full.nonEmpty)
    assert(indexed === full)
  }

  test("spanning records (long REF, INFO END=) are found when they " +
    "start before the interval") {
    // pick an interval starting just past a long-deletion start so the
    // only way to find it is the spanning rule
    val intervals = Seq(("chr1", 350, 360))
    val indexed = Vcf.readIntervals(spark, vcfBgz, intervals).collect()
    val overl = indexed.filter(v => v.pos < 350 && Vcf.spanEnd(v) >= 350)
    assert(overl.nonEmpty, "expected records spanning into the interval")
  }

  test("tiny splitSize bisects an interval into many tasks with " +
    "exactly-once output") {
    val intervals = Seq(("chr1", 1, 300000))
    val tasks = Vcf.planBounded(vcfBgz, intervals, splitSize = 4096).get
    assert(tasks.length > 4, s"expected bisection, got ${tasks.length} task(s)")
    val rows = Vcf.readIntervals(spark, vcfBgz, intervals, splitSize = 4096)
      .collect().map(v => (v.chrom, v.pos, v.id))
    assert(rows.length === rows.distinct.length, "duplicate records across tasks")
    val oracle = Vcf.readIntervals(spark, vcfBgz, intervals).collect()
      .map(v => (v.chrom, v.pos, v.id))
    assert(rows.sorted.toSeq === oracle.sorted.toSeq)
  }

  test("overlapping user intervals do not duplicate records") {
    val intervals = Seq(("chr3", 100, 2000), ("chr3", 1500, 4000),
      ("chr3", 1500, 1600))
    val rows = Vcf.readIntervals(spark, vcfBgz, intervals).collect()
      .map(v => (v.chrom, v.pos, v.id))
    assert(rows.length === rows.distinct.length)
    val single = Vcf.readIntervals(spark, vcfBgz, Seq(("chr3", 100, 4000)))
      .collect().map(v => (v.chrom, v.pos, v.id))
    assert(rows.sorted.toSeq === single.sorted.toSeq)
  }

  test("a record spanning across two disjoint intervals is reported once") {
    // long deletions span ~400 bases; query two small windows inside
    // one deletion's span
    val full = Vcf.read(spark, vcfBgz).collect()
    val del = full.find(v => v.chrom == "chr2" && v.ref.length > 100).get
    val s = del.pos.toInt
    val intervals = Seq(("chr2", s + 10, s + 20), ("chr2", s + 100, s + 110))
    val rows = Vcf.readIntervals(spark, vcfBgz, intervals).collect()
      .map(v => (v.chrom, v.pos, v.id))
    assert(rows.count(_ == ((del.chrom, del.pos, del.id))) === 1)
  }

  test("bounded plan reads a fraction of the file") {
    val (fs, p) = Fs.get(vcfBgz)
    val fileLen = fs.getFileStatus(p).getLen
    val tasks = Vcf.planBounded(vcfBgz, Seq(("chr2", 5000, 5500)),
      64L * 1024 * 1024).get
    val readBytes = tasks.flatMap(_.chunks).map { case (b, e) =>
      Bgzf.voCompressed(e) - Bgzf.voCompressed(b) + 1
    }.sum
    assert(readBytes < fileLen / 4,
      s"pruning too weak: $readBytes of $fileLen bytes")
  }

  test("DSv2: intervals option matches typed readIntervals") {
    val opt = spark.read.format("vcf").option("intervals", "chr2:5000-9000")
      .load(vcfBgz).collect().map(r => (r.getString(0), r.getLong(1)))
    val typed = Vcf.readIntervals(spark, vcfBgz, Seq(("chr2", 5000, 9000)))
      .collect().map(v => (v.chrom, v.pos))
    assert(opt.sorted.toSeq === typed.sorted.toSeq)
  }

  test("DSv2: chrom/pos predicates prune chunks and keep exact results") {
    import spark.implicits._
    val df = spark.read.format("vcf").load(vcfBgz)
      .filter(col("chrom") === "chr1" && col("pos") >= 2000 && col("pos") <= 4000)
    val expected = Vcf.read(spark, vcfBgz)
      .filter(v => v.chrom == "chr1" && v.pos >= 2000 && v.pos <= 4000)
      .collect().map(v => (v.chrom, v.pos)).sorted.toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      === expected)
    // the scan itself plans fewer partitions than the unfiltered scan
    val prunedParts = df.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.length
    val fullParts = spark.read.format("vcf").load(vcfBgz)
      .queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.length
    assert(prunedParts <= fullParts)
    // pushdown is visible in the scan description
    assert(df.queryExecution.executedPlan.toString.contains("chrom"))
  }

  test("unindexed bgzf falls back to full scan + filter") {
    import spark.implicits._
    val f = s"${tmpDir("tbxno")}/calls.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(fixture(300)).coalesce(1), header, f)
    assert(Vcf.planBounded(f, Seq(("chr1", 1, 500)), 1L << 20).isEmpty)
    val rows = Vcf.readIntervals(spark, f, Seq(("chr1", 1, 500))).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(v => v.chrom == "chr1" && v.pos <= 500))
    // the DSv2 intervals OPTION must filter records on the fallback
    // path too, not silently return the whole file
    val opt = spark.read.format("vcf").option("intervals", "chr1:1-500")
      .load(f).collect()
    assert(opt.length === rows.length)
  }

  test("the .tbi builder bins by Vcf.spanEnd: INFO END= edge cases") {
    import spark.implicits._
    def site(pos: Int, i: Int, info: Seq[(String, String)]): VcfVariant =
      VcfVariant("chr1", pos.toLong, s"e$i", "A", Array("C"), None, "PASS",
        info.map(_._1).toArray, info.map(_._2).toArray, Array.empty, Array.empty)
    // filler every 250 bases keeps the linear index populated; the edge
    // cases sit among it
    val filler = (0 until 400).map(i => site(100 + i * 250, i, Seq("DP" -> "5")))
    val edges = Seq(
      site(1000, 1000, Seq("END" -> "12abc", "END" -> "70000")), // digits-only END wins
      site(2000, 1001, Seq("END" -> "50000x")), // not a number: REF span
      site(3000, 1002, Seq("END" -> "")), // empty: REF span
      site(4000, 1003, Seq("XEND" -> "90000")), // another key
      site(5000, 1004, Seq("END" -> "80000")), // plain symbolic span
      site(6000, 1005, Seq("END" -> "10"))) // END before POS: REF span
    val vs = (filler ++ edges).sortBy(_.pos)
    val f = s"${tmpDir("tbxend")}/end.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(vs).coalesce(1), header, f, tabix = true)
    Seq(("chr1", 60000, 65000), ("chr1", 40000, 45000), ("chr1", 75000, 76000),
      ("chr1", 85000, 95000), ("chr1", 1, 999), ("chr1", 5500, 5600)).foreach { iv =>
      val naive = vs.filter(v => v.pos <= iv._3 && Vcf.spanEnd(v) >= iv._2).map(_.id).sorted
      val got = Vcf.readIntervals(spark, f, Seq(iv), splitSize = 4096).collect().map(_.id).sorted
      assert(got.toSeq === naive, s"$iv")
    }
    // the record whose span only the second END= gives is found far away
    assert(Vcf.readIntervals(spark, f, Seq(("chr1", 60000, 65000))).collect()
      .exists(_.id == "e1000"))
  }

  test("graft-built .bai, BAM .csi, BCF .csi and .tbi bytes are pinned") {
    // SHA-256 of each index as the builders wrote it at commit a8983cb,
    // before the three formats shared one binning module; the spec
    // layouts must not change silently
    def sha(f: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
        .map(b => f"$b%02x").mkString
    def fixture(name: String): String = {
      val f = s"${tmpDir("golden")}/$name"
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(getClass.getClassLoader.getResource(name).getFile),
        java.nio.file.Paths.get(f))
      f
    }
    val bam = fixture("test.bam")
    Bai.buildAndWrite(bam)
    Csi.buildAndWrite(bam)
    val bcf = fixture("test.bgzf.bcf")
    Csi.buildAndWriteBcf(bcf)
    assert(sha(s"$bam.bai") === "ab40a35ff9e49a9a532eb23407d07d390cb9fea8e6aaa110f7d722006b49c644")
    assert(sha(s"$bam.csi") === "51fd467674d2a33ec055c2afd36f290b908d4480291ee07c81671f17998512f4")
    assert(sha(s"$bcf.csi") === "a95c064441495024b7ceb2d106b3d3f395b8490a5505b83e8371cdd704e5ef16")
    assert(sha(s"$vcfBgz.tbi") === "49452800ecd7749197576d9a181c674824ff860ac936ae13937ffd25dbe95e4b")
  }

  test("indexing rejects a record past the 2^29 capacity of tabix binning") {
    import spark.implicits._
    val f = s"${tmpDir("tbxbig")}/big.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(Seq(variant("chr1", 600000000, 0))).coalesce(1),
      header, f)
    val e = intercept[IllegalArgumentException](Tabix.buildVcf(f))
    assert(e.getMessage.contains("index capacity"))
  }

  test("indexing rejects an unsorted file") {
    import spark.implicits._
    val f = s"${tmpDir("tbxbad")}/bad.vcf.bgz"
    val vs = Seq(variant("chr1", 500, 0), variant("chr1", 100, 1))
    Vcf.writeBgzf(spark.createDataset(vs).coalesce(1), header, f)
    val e = intercept[Exception](Tabix.buildVcf(f))
    assert(e.getMessage.contains("sorted"))
  }
}
