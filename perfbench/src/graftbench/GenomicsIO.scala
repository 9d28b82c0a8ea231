package graftbench

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, FileInputStream}
import java.nio.file.{Files, Paths}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{SamHeader, SamRecord, SamRef, VcfVariant}
import graft.sources._

/** graft's own I/O surface: sorted BAM ingest, full and pruned scans, a
  * DSv2 filter scan, CRAM (spec profile), a many-sample VCF cohort as
  * bgzf + tabix converted to BCF + CSI, site-only and full scans, and a
  * seeded batch of region reads over all four formats, one at a time.
  * Every read, and the unsorted BAM read back, is checked against the
  * generated records: a multiset checksum for scans, a brute-force
  * overlap filter for regions. The serial deflate must inflate back to
  * its input. */
final class GenomicsIO(seed: Long, work: String, cpus: Int, tiny: Boolean) extends Workload {
  import GenomicsIO._

  private val nReads = if (tiny) 4000 else 10000
  private val nSites = if (tiny) 400 else 1500
  private val nSamples = if (tiny) 20 else 40
  private val regionsPerFormat = if (tiny) 4 else 6
  private val refs = Array(SamRef("chr1", 16000000), SamRef("chr2", 6000000),
    SamRef("chr3", 3000000), SamRef("chr4", 2000000), SamRef("chr5", 1200000))
  private val refIdx = refs.map(_.name).zipWithIndex.toMap
  private val header = SamHeader(("@HD\tVN:1.6\tSO:unsorted" +: refs.map(r =>
    s"@SQ\tSN:${r.name}\tLN:${r.length}") ++: (0 until 4).map(i => s"@RG\tID:rg$i\tSM:s$i"))
    .mkString("\n"), refs)

  private var reads: Array[SamRecord] = _
  private var sortedReads: Array[SamRecord] = _
  private var sites: Array[VcfVariant] = _
  private var regions: Seq[(String, Int, Int)] = _
  private val dir = s"$work/genomics"
  private val bam = s"$dir/sorted.bam"
  private val unsortedBam = s"$dir/unsorted.bam"
  private val cram = s"$dir/reads.cram"
  private val vcf = s"$dir/cohort.vcf.bgz"
  private val bcf = s"$dir/cohort.bcf"
  private var bytesPerRec = 0.0

  def inputSizes: Seq[(String, Long)] = Seq("reads" -> nReads.toLong, "sites" -> nSites.toLong,
    "samples" -> nSamples.toLong, "regions_per_format" -> regionsPerFormat.toLong)

  def prepare(spark: SparkSession): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    reads = Array.tabulate(nReads)(i => genRead(rnd, i))
    sortedReads = reads.filterNot(_.isUnmapped).sortBy(r => (refIdx(r.rname), r.pos, r.qname)) ++
      reads.filter(_.isUnmapped)
    sites = genSites(rnd)
    regions = (0 until regionsPerFormat).map { _ =>
      val ref = refs(rnd.nextInt(refs.length))
      val len = math.exp(math.log(1e3) + rnd.nextDouble() * (math.log(1e6) - math.log(1e3))).toInt
      val start = 1 + rnd.nextInt(math.max(1, ref.length - len))
      (ref.name, start, start + len - 1)
    }
    Files.createDirectories(Paths.get(dir))
  }

  private def genRead(rnd: java.util.SplittableRandom, i: Int): SamRecord = {
    val seq = new String(Array.fill(100)("ACGT".charAt(rnd.nextInt(4))))
    val qual = new String(Array.fill(100)((35 + rnd.nextInt(40)).toChar))
    val rg = s"RG:Z:rg${rnd.nextInt(4)}"
    if (rnd.nextDouble() < 0.02)
      SamRecord(s"r$i", 4, "*", 0, 0, "*", "*", 0, 0, seq, qual, Array(rg))
    else {
      // reads land on contigs in proportion to contig length (skewed)
      var x = rnd.nextLong(refs.map(_.length.toLong).sum)
      var c = 0
      while (x >= refs(c).length) { x -= refs(c).length; c += 1 }
      val pos = 1 + rnd.nextInt(refs(c).length - 400)
      val cigar = Cigars(rnd.nextInt(Cigars.length))
      val flag = Flags(rnd.nextInt(Flags.length))
      val pnext = pos + rnd.nextInt(300)
      SamRecord(s"r$i", flag, refs(c).name, pos, rnd.nextInt(61), cigar, "=", pnext,
        pnext - pos + 100, seq, qual, Array(s"NM:i:${rnd.nextInt(5)}", rg))
    }
  }

  private def genSites(rnd: java.util.SplittableRandom): Array[VcfVariant] = {
    val total = refs.map(_.length.toLong).sum
    refs.toSeq.flatMap { r =>
      val n = math.max(1, (nSites * r.length / total).toInt)
      val pos = Array.fill(n)(1L + rnd.nextInt(r.length - 10)).distinct.sorted
      pos.toSeq.map { p =>
        val ref = "ACGT".charAt(rnd.nextInt(4))
        val alt = "ACGT".filter(_ != ref).charAt(rnd.nextInt(3))
        VcfVariant(r.name, p, s"v${r.name}_$p", ref.toString, Array(alt.toString),
          Some((10 + rnd.nextInt(90)).toDouble), "PASS", Array("DP"),
          Array((1 + rnd.nextInt(99)).toString), Array("GT", "DP"),
          Array.fill(nSamples)(s"${rnd.nextInt(2)}/${rnd.nextInt(2)}:${rnd.nextInt(60)}"))
      }
    }.toArray
  }

  private def vcfHeader: Vcf.VcfHeader = Vcf.VcfHeader(Seq(
    "##fileformat=VCFv4.3",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"depth\">") ++
    refs.map(r => s"##contig=<ID=${r.name},length=${r.length}>") :+
    ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +
      (0 until nSamples).map(i => s"\ts$i").mkString))

  private def dicts = BcfIO.Dicts(refs.map(_.name), Array("PASS"), Array("DP"), Array("GT", "DP"))

  private def splitFor(file: String): Long =
    math.max(256L << 10, Files.size(Paths.get(file)) / (cpus * 2))

  private def ds[T: scala.reflect.ClassTag](spark: SparkSession, xs: Array[T])(
      implicit e: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    spark.createDataset(spark.sparkContext.parallelize(xs.toSeq, cpus * 2))

  def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    BamIO.write(ds(spark, sortedReads.take(2000)), header, s"$dir/warmup.bam")
    BamIO.read(spark, s"$dir/warmup.bam").count()
  }

  def round(spark: SparkSession, rec: Recorder): Unit = {
    import spark.implicits._
    val unsorted = ds(spark, reads)
    val sorted = ds(spark, sortedReads)
    val readSum = Checksum.of(reads.iterator.map(Checksum.read))
    val prunedSum = Checksum.of(reads.iterator.map(Checksum.pruned))
    val siteSum = Checksum.of(sites.iterator.map(Checksum.site))
    val siteOnlySum = Checksum.of(sites.iterator.map(Checksum.siteOnly))
    val always = (_: Any) => true

    // ---- ingest: writes and their index builds
    rec.op("sources.BamIO.write_sorted", nReads)(BamIO.writeSorted(unsorted, header, bam))(always)
    rec.op("sources.index.bai", 0)(Bai.buildAndWrite(bam))(always)
    rec.op("sources.BamIO.write_unsorted", nReads)(BamIO.write(unsorted, header, unsortedBam))(_ =>
      rec.same(Checksum.ofDs(BamIO.read(spark, unsortedBam).map(Checksum.read)), readSum))
    rec.op("sources.CramIO.write", nReads)(CramIO.write(sorted, header, cram, profile = "spec"))(always)
    rec.op("sources.Vcf.write", nSites)(Vcf.writeBgzf(ds(spark, sites), vcfHeader, vcf))(always)
    rec.op("sources.index.tabix", 0)(Tabix.buildAndWriteVcf(vcf))(always)
    rec.op("sources.BcfIO.write", nSites)(
      BcfIO.write(Vcf.read(spark, vcf, splitSize = splitFor(vcf)), dicts, bcf))(always)
    rec.op("sources.index.csi", 0)(Csi.buildAndWriteBcf(bcf))(always)
    bytesPerRec = Seq(bam, cram, vcf, bcf).map(f => Files.size(Paths.get(f))).sum.toDouble /
      (2L * nReads + 2L * nSites)

    // ---- serial BGZF over the written BAM
    var raw: Array[Byte] = Array.emptyByteArray
    rec.op("sources.Bgzf.inflate", 0) {
      val in = new Bgzf.BgzfInputStream(new BufferedInputStream(new FileInputStream(bam), 1 << 16))
      val buf = new ByteArrayOutputStream(1 << 24)
      try in.transferTo(buf) finally in.close()
      raw = buf.toByteArray
      rec.tracer.attr("mb", raw.length / 1048576.0)
    }(_ => rec.same(raw.take(4).toSeq, "BAM\u0001".getBytes("US-ASCII").toSeq))
    rec.op("sources.Bgzf.deflate", 0) {
      val buf = new ByteArrayOutputStream(raw.length + (1 << 20))
      val out = new Bgzf.BgzfOutputStream(buf)
      out.write(raw)
      out.close()
      rec.tracer.attr("mb", raw.length / 1048576.0)
      buf.toByteArray
    } { gz =>
      val in = new Bgzf.BgzfInputStream(new ByteArrayInputStream(gz))
      try rec.same(in.readAllBytes().toSeq, raw.toSeq) finally in.close()
    }

    // ---- scans
    rec.op("sources.BamIO.scan", nReads) {
      val d = rec.span("plan")(BamIO.read(spark, bam, splitSize = splitFor(bam)))
      rec.tracer.attr("splits", d.rdd.getNumPartitions)
      rec.span("exec")(Checksum.ofDs(d.map(Checksum.read)))
    }(rec.same(_, readSum))
    rec.op("sources.BamIO.pruned_scan", nReads)(Checksum.ofDs(
      BamIO.read(spark, bam, splitSize = splitFor(bam), columns = Seq("qname", "rname", "pos"))
        .map(Checksum.pruned)))(rec.same(_, prunedSum))
    val mapq30 = reads.count(_.mapq >= 30).toLong
    rec.op("sources.v2.bam_filter_scan", nReads)(spark.read.format("bam")
      .option("splitsize", splitFor(bam).toString).load(bam).where("mapq >= 30").count())(rec.same(_, mapq30))
    rec.op("sources.CramIO.scan", nReads)(Checksum.ofDs(
      CramIO.read(spark, cram, splitSize = splitFor(cram)).map(Checksum.read)))(rec.same(_, readSum))
    rec.op("sources.Vcf.scan_full", nSites)(Checksum.ofDs(
      Vcf.read(spark, vcf, splitSize = splitFor(vcf)).map(Checksum.site)))(rec.same(_, siteSum))
    rec.op("sources.Vcf.scan_sites", nSites)(Checksum.ofDs(
      Vcf.read(spark, vcf, splitSize = splitFor(vcf), columns = SiteCols).map(Checksum.siteOnly)))(rec.same(_, siteOnlySum))
    rec.op("sources.BcfIO.scan_full", nSites)(Checksum.ofDs(
      BcfIO.read(spark, bcf, splitSize = splitFor(bcf)).map(Checksum.site)))(rec.same(_, siteSum))
    rec.op("sources.BcfIO.scan_sites", nSites)(Checksum.ofDs(
      BcfIO.read(spark, bcf, splitSize = splitFor(bcf), columns = SiteCols).map(Checksum.siteOnly)))(rec.same(_, siteOnlySum))

    // ---- region reads, one at a time, each against a brute-force filter
    regions.foreach { case iv @ (c, s, e) =>
      val want = Checksum.of(reads.iterator.filter(r =>
        !r.isUnmapped && r.rname == c && r.pos <= e && r.end >= s).map(Checksum.read))
      rec.op("sources.BamIO.region", 1) {
        val d = rec.span("plan")(BamIO.read(spark, bam, intervals = Seq(iv)))
        rec.tracer.attr("splits", d.rdd.getNumPartitions)
        rec.span("exec")(Checksum.ofDs(d.map(Checksum.read)))
      }(rec.same(_, want))
    }
    regions.foreach { case iv @ (c, s, e) =>
      val want = Checksum.of(reads.iterator.filter(r =>
        !r.isUnmapped && r.rname == c && r.pos <= e && math.max(r.end, r.pos) >= s)
        .map(Checksum.read))
      rec.op("sources.CramIO.region", 1)(Checksum.ofDs(
        CramIO.readIntervals(spark, cram, Seq(iv)).map(Checksum.read)))(rec.same(_, want))
    }
    regions.foreach { case iv @ (c, s, e) =>
      val want = Checksum.of(sites.iterator.filter(v =>
        v.chrom == c && v.pos <= e && Vcf.spanEnd(v) >= s).map(Checksum.site))
      rec.op("sources.Vcf.region", 1)(Checksum.ofDs(
        Vcf.readIntervals(spark, vcf, Seq(iv)).map(Checksum.site)))(rec.same(_, want))
      rec.op("sources.BcfIO.region", 1)(Checksum.ofDs(
        BcfIO.readIntervals(spark, bcf, Seq(iv)).map(Checksum.site)))(rec.same(_, want))
    }
  }

  private def rate(rec: Recorder, names: Seq[String], extra: Seq[String] = Nil): Double = {
    val ops = rec.best.filter(o => o.ok && (names.contains(o.name) || extra.contains(o.name)))
    val t = ops.map(_.sec).sum
    if (t > 0) ops.filter(o => names.contains(o.name)).map(_.n).sum / t else 0.0
  }

  def opLatenciesMs(rec: Recorder): Seq[Double] =
    rec.best.filter(o => o.ok && o.name.endsWith(".region")).map(_.sec * 1e3)

  def throughput(rec: Recorder): Double = rate(rec, WriteOps ++ ScanOps, IndexOps)

  def figures(rec: Recorder): Seq[(String, Double, String)] = {
    val region = opLatenciesMs(rec)
    Seq(
      ("ingest_rec_per_s", rate(rec, WriteOps, IndexOps), "rec/s"),
      ("scan_rec_per_s", rate(rec, ScanOps), "rec/s"),
      ("region_p50_ms", Main.quantile(region, 0.5), "ms"),
      ("region_p90_ms", Main.quantile(region, 0.9), "ms"),
      ("bytes_per_rec", bytesPerRec, "B"))
  }

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    import SpanMath._
    val kids = children(spans)
    def medS(name: String) = medianS(spans, name)
    def rate(name: String) = Main.median(ops(spans, name).map(s => s.attrs.getOrElse("mb", 0.0) / sec(s)))
    def medAttr(ss: Seq[Span], k: String) = Main.median(ss.flatMap(_.attrs.get(k)))
    val sortShuffle = ops(spans, "sources.BamIO.write_sorted").map(s =>
      subtree(s, kids).filter(_.name == "stage").map(_.attrs.getOrElse("shuffle_write_mb", 0.0)).sum)
    val rounds = ops(spans, "sources.BamIO.write_sorted").size
    val full = medAttr(ops(spans, "sources.BamIO.scan"), "splits")
    val regionPlans = inner(spans, "sources.BamIO.region", "plan")
    Seq(
      ("sources.Bgzf.deflate_MBps", rate("sources.Bgzf.deflate"), "MB/s"),
      ("sources.Bgzf.inflate_MBps", rate("sources.Bgzf.inflate"), "MB/s"),
      ("sources.BamIO.write_sorted_s", medS("sources.BamIO.write_sorted"), "s"),
      ("sources.BamIO.write_unsorted_s", medS("sources.BamIO.write_unsorted"), "s"),
      ("sources.BamIO.shuffle_write_mb", Main.median(sortShuffle), "MB"),
      ("sources.CramIO.write_s", medS("sources.CramIO.write"), "s"),
      ("sources.Vcf.write_s", medS("sources.Vcf.write"), "s"),
      ("sources.BcfIO.write_s", medS("sources.BcfIO.write"), "s"),
      ("sources.index.build_s", IndexOps.flatMap(ops(spans, _)).map(sec).sum / math.max(1, rounds), "s"),
      ("sources.BamIO.scan_s", medS("sources.BamIO.scan"), "s"),
      ("sources.BamIO.pruned_scan_s", medS("sources.BamIO.pruned_scan"), "s"),
      ("sources.v2.bam_filter_scan_s", medS("sources.v2.bam_filter_scan"), "s"),
      ("sources.CramIO.scan_s", medS("sources.CramIO.scan"), "s"),
      ("sources.Vcf.scan_full_s", medS("sources.Vcf.scan_full"), "s"),
      ("sources.Vcf.scan_sites_s", medS("sources.Vcf.scan_sites"), "s"),
      ("sources.BcfIO.scan_full_s", medS("sources.BcfIO.scan_full"), "s"),
      ("sources.BcfIO.scan_sites_s", medS("sources.BcfIO.scan_sites"), "s"),
      ("sources.BamIO.plan_ms", Main.median(inner(spans, "sources.BamIO.scan", "plan").map(sec)) * 1e3, "ms"),
      ("sources.BamIO.splits", full, "count"),
      ("sources.BamIO.region_plan_ms", Main.median(regionPlans.map(sec)) * 1e3, "ms"),
      ("sources.BamIO.region_exec_ms",
        Main.median(inner(spans, "sources.BamIO.region", "exec").map(sec)) * 1e3, "ms"),
      ("sources.BamIO.region_split_frac", if (full > 0) medAttr(ops(spans, "sources.BamIO.region"), "splits") / full else 0.0, "frac"),
      ("sources.CramIO.region_ms", medS("sources.CramIO.region") * 1e3, "ms"),
      ("sources.Vcf.region_ms", medS("sources.Vcf.region") * 1e3, "ms"),
      ("sources.BcfIO.region_ms", medS("sources.BcfIO.region") * 1e3, "ms")) ++
      SparkTotals(spans)
  }
}

object GenomicsIO {
  val Cigars = Array("100M", "5S95M", "48M2D52M", "60M1I39M")
  val Flags = Array(0, 16, 99, 147, 83, 163)
  val SiteCols = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter", "infoKeys", "infoValues")
  val WriteOps = Seq("sources.BamIO.write_sorted", "sources.BamIO.write_unsorted",
    "sources.CramIO.write", "sources.Vcf.write", "sources.BcfIO.write")
  val IndexOps = Seq("sources.index.bai", "sources.index.tabix", "sources.index.csi")
  val ScanOps = Seq("sources.BamIO.scan", "sources.BamIO.pruned_scan", "sources.v2.bam_filter_scan",
    "sources.CramIO.scan", "sources.Vcf.scan_full", "sources.Vcf.scan_sites",
    "sources.BcfIO.scan_full", "sources.BcfIO.scan_sites")
}

/** Order-independent record checksums: (count, wrapping sum of a 64-bit
  * hash per record), so a lost, duplicated or altered record shows. */
object Checksum {
  private def h64(parts: Seq[Any]): Long = {
    val s = parts.mkString("\u0001")
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  def read(r: SamRecord): Long = h64(Seq(r.qname, r.flag, r.rname, r.pos, r.mapq, r.cigar,
    r.rnext, r.pnext, r.tlen, r.seq, r.qual, r.tags.sorted.mkString(",")))
  def pruned(r: SamRecord): Long = h64(Seq(r.qname, r.rname, r.pos))
  def siteOnly(v: VcfVariant): Long = h64(Seq(v.chrom, v.pos, v.id, v.ref, v.alt.mkString(","),
    v.qual, v.filter, v.infoKeys.mkString(","), v.infoValues.mkString(",")))
  def site(v: VcfVariant): Long = h64(Seq(siteOnly(v), v.format.mkString(":"),
    v.genotypes.mkString("\t")))

  def of(hashes: Iterator[Long]): (Long, Long) =
    hashes.foldLeft((0L, 0L)) { case ((n, s), h) => (n + 1, s + h) }

  def ofDs(hashes: Dataset[Long]): (Long, Long) = {
    import hashes.sparkSession.implicits._
    hashes.mapPartitions(it => Iterator(of(it))).collect()
      .foldLeft((0L, 0L)) { case ((n, s), (n2, s2)) => (n + n2, s + s2) }
  }
}
