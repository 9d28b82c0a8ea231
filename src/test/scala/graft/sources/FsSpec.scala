package graft.sources

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef, VcfVariant}

/** [[Fs]] shares one Hadoop `Configuration` across every caller and
  * thread of the JVM.  Pinned here: it is one instance, concurrent
  * driver-side planning and executor-side reads through it return
  * exactly what serial reads return, and none of them mutates it. */
class FsSpec extends SparkSpec {

  private val refs = Array(SamRef("chr1", 200000), SamRef("chr2", 120000))
  private val header = SamHeader(
    ("@HD\tVN:1.6\tSO:unsorted" +: refs.map(r => s"@SQ\tSN:${r.name}\tLN:${r.length}"))
      .mkString("\n"), refs)

  private val reads: Seq[SamRecord] = {
    val rnd = new scala.util.Random(11)
    (0 until 3000).map { i =>
      val c = if (rnd.nextInt(3) == 0) refs(1) else refs(0)
      val len = 50 + rnd.nextInt(50)
      val seq = Seq.fill(len)("ACGT".charAt(rnd.nextInt(4))).mkString
      SamRecord(s"r$i", if (i % 2 == 0) 0 else 16, c.name, 1 + rnd.nextInt(c.length - 200),
        rnd.nextInt(61), s"${len}M", "*", 0, 0, seq, "I" * len,
        Array(s"NM:i:${rnd.nextInt(5)}"))
    }
  }

  private val nSamples = 6
  private val sites: Seq[VcfVariant] = {
    val rnd = new scala.util.Random(12)
    refs.toSeq.flatMap { r =>
      Seq.fill(200)(1L + rnd.nextInt(r.length - 10)).distinct.sorted.map { p =>
        VcfVariant(r.name, p, s"v${r.name}_$p", "A", Array("C"),
          Some((10 + rnd.nextInt(90)).toDouble), "PASS", Array("DP"),
          Array((1 + rnd.nextInt(99)).toString), Array("GT", "DP"),
          Array.fill(nSamples)(s"${rnd.nextInt(2)}/${rnd.nextInt(2)}:${rnd.nextInt(60)}"))
      }
    }
  }

  private val vcfHeader = Vcf.VcfHeader(Seq(
    "##fileformat=VCFv4.3",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"depth\">") ++
    refs.map(r => s"##contig=<ID=${r.name},length=${r.length}>") :+
    ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +
      (0 until nSamples).map(i => s"\ts$i").mkString))

  private val regions: Seq[(String, Int, Int)] = {
    val rnd = new scala.util.Random(13)
    Seq.fill(8) {
      val r = refs(rnd.nextInt(refs.length))
      val len = 2000 + rnd.nextInt(40000)
      val s = 1 + rnd.nextInt(r.length - len)
      (r.name, s, s + len - 1)
    }
  }

  /** BAM with only a `.bai` (no sidecar), CRAM + `.crai`, VCF bgzf +
    * `.tbi`, BCF + `.csi`. */
  private lazy val files: (String, String, String, String) = {
    import spark.implicits._
    val dir = tmpDir("fsspec")
    val bam = s"$dir/reads.bam"
    val cram = s"$dir/reads.cram"
    val vcf = s"$dir/sites.vcf.bgz"
    val bcf = s"$dir/sites.bcf"
    BamIO.writeSorted(spark.createDataset(reads).repartition(4), header, bam)
    val (fs, bamPath) = Fs.get(bam)
    fs.delete(SplittingIndex.indexPath(bamPath), false)
    Bai.buildAndWrite(bam)
    val sorted = reads.sortBy(r => (r.rname, r.pos))
    CramIO.write(spark.createDataset(spark.sparkContext.parallelize(sorted, 4)), header, cram)
    Vcf.writeBgzf(spark.createDataset(spark.sparkContext.parallelize(sites, 3)),
      vcfHeader, vcf, tabix = true)
    BcfIO.write(Vcf.read(spark, vcf),
      BcfIO.Dicts(refs.map(_.name), Array("PASS"), Array("DP"), Array("GT", "DP")), bcf)
    Csi.buildAndWriteBcf(bcf)
    (bam, cram, vcf, bcf)
  }

  private def canon(p: Product): String = p.productIterator.map {
    case a: Array[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("\t")

  /** Every (format, region) read, as a thunk returning sorted records. */
  private def regionReads: Seq[((String, (String, Int, Int)), () => Seq[String])] = {
    val (bam, cram, vcf, bcf) = files
    regions.flatMap { iv =>
      Seq[(String, () => Seq[String])](
        "bam" -> (() => BamIO.read(spark, bam, intervals = Seq(iv)).collect().toSeq.map(canon)),
        "cram" -> (() => CramIO.readIntervals(spark, cram, Seq(iv)).collect().toSeq.map(canon)),
        "vcf" -> (() => Vcf.readIntervals(spark, vcf, Seq(iv)).collect().toSeq.map(canon)),
        "bcf" -> (() => BcfIO.readIntervals(spark, bcf, Seq(iv)).collect().toSeq.map(canon))
      ).map { case (fmt, f) => ((fmt, iv), () => f().sorted) }
    }
  }

  private def onThreads[A](n: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), 5.minutes)
    finally pool.shutdown()
  }

  test("one Configuration instance across calls and threads") {
    val first = Fs.conf
    assert(Fs.conf eq first)
    val seen = onThreads(8)(Seq.fill(32)(() => Fs.conf))
    assert(seen.forall(_ eq first))
    val (bam, _, _, _) = files
    val fss = onThreads(8)(Seq.fill(32)(() => Fs.get(bam)._1))
    assert(fss.forall(_ eq fss.head), "Hadoop's FileSystem cache hands out one instance")
  }

  test("region reads from 8 driver threads equal the serial reads; the shared conf is untouched") {
    def snapshot = Fs.conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val before = snapshot
    val reads = regionReads
    val serial = reads.map { case (k, f) => k -> f() }
    Seq("bam", "cram", "vcf", "bcf").foreach { fmt =>
      assert(serial.exists { case ((f, _), recs) => f == fmt && recs.nonEmpty },
        s"$fmt: every region came back empty")
    }
    val concurrent = reads.map(_._1).zip(onThreads(8)(reads.map(_._2)))
    serial.zip(concurrent).foreach { case ((k, want), (k2, got)) =>
      assert(k === k2)
      assert(got === want, s"$k: concurrent read differs from serial")
    }
    assert(snapshot === before)
  }

  test("a BAM scan split into >= 4 tasks equals the serial BamCodec decode") {
    val (bam, _, _, _) = files
    val (fs, p) = Fs.get(bam)
    val in = new Bgzf.BgzfInputStream(new java.io.BufferedInputStream(fs.open(p)))
    val serial = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val h = BamCodec.readHeader(in)
      var a = in.read()
      while (a >= 0) {
        val sz = a | (in.read() << 8) | (in.read() << 16) | (in.read() << 24)
        val buf = new Array[Byte](sz)
        var o = 0
        while (o < sz) { val r = in.read(buf, o, sz - o); assert(r > 0); o += r }
        serial += canon(BamCodec.decode(buf, h.refs))
        a = in.read()
      }
    } finally in.close()
    assert(serial.length === reads.length)
    val ds = BamIO.read(spark, bam, splitSize = fs.getFileStatus(p).getLen / 5)
    assert(ds.rdd.getNumPartitions >= 4)
    assert(ds.collect().toSeq.map(canon).sorted === serial.toSeq.sorted)
  }
}
