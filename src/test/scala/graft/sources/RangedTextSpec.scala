package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec

class RangedTextSpec extends SparkSpec {

  /** Every line of `f` as its planned ranges own them, range by range. */
  private def ownedLines(f: String, splitSize: Long): Array[String] = {
    val comp = RangedText.compression(f)
    RangedText.ranges(f, splitSize).flatMap { case (s, e) =>
      RangedText.readLines(f, s, e, comp).map(_.text)
    }.toArray
  }

  test("ownership protocol: every line owned by exactly one range, any bounds") {
    val dir = tmpDir("rt")
    val f = s"$dir/t.txt"
    val lines = (0 until 200).map(i => s"line-$i-${"x" * (i % 17)}")
    Files.write(Paths.get(f), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val len = Files.size(Paths.get(f))
    // craft adversarial bounds: including one exactly at a line start
    val lineStarts = lines.scanLeft(0L)((acc, l) => acc + l.length + 1)
    for (bounds <- Seq(
      Seq(0L, len),
      Seq(0L, len / 3, 2 * len / 3, len),
      Seq(0L, lineStarts(50), lineStarts(51), len), // bounds ON line starts
      (0L to len by 37L) :+ len)) {
      val got = bounds.distinct.sorted.sliding(2).collect { case Seq(a, b) if a < b =>
        RangedText.readLines(f, a, b, RangedText.PlainText).map(_.text).toSeq
      }.toSeq.flatten
      assert(got.sorted === lines.sorted, s"bounds=$bounds")
    }
  }

  test("UTF-8 lines decode whole through plain, gzip and BGZF reads and " +
    "through a .tbi, a character split across the 64 KiB edge included") {
    val dir = tmpDir("utf8")
    val head = Seq("##fileformat=VCFv4.3",
      "##INFO=<ID=NOTE,Number=1,Type=String,Description=\"Note\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO").mkString("", "\n", "\n")
    val prefix = "chr1\t100\trs0\tA\tC\t.\tPASS\tNOTE="
    // pad the first note so its 'é' takes bytes 65535 and 65536: the
    // edge of the 64 KiB line buffer and of 32 KiB BGZF blocks
    val pad = "x" * (65535 - head.getBytes(UTF_8).length - prefix.length)
    val notes = (pad + "é!") +: (1 to 300).map(i => s"café-$i-ünï-€-𝄞")
    val lines = notes.zipWithIndex.map { case (n, i) =>
      s"chr1\t${100 + i * 10}\trs$i\tA\tC\t.\tPASS\tNOTE=$n" }
    val bytes = (head + lines.mkString("", "\n", "\n")).getBytes(UTF_8)
    assert(new String(bytes, 65535, 2, UTF_8) === "é")
    val plain = s"$dir/u.vcf"
    Files.write(Paths.get(plain), bytes)
    val gz = s"$dir/u.vcf.gz"
    val gzo = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(gz)))
    gzo.write(bytes); gzo.close()
    val bgz = s"$dir/u.vcf.bgz"
    val bo = new Bgzf.BgzfOutputStream(Files.newOutputStream(Paths.get(bgz)), blockSize = 32768)
    bo.write(bytes); bo.close()
    Tabix.buildAndWriteVcf(bgz)
    // line positions stay byte offsets
    val starts = (head.split("\n").toSeq ++ lines).scanLeft(0L)(_ + _.getBytes(UTF_8).length + 1)
    assert(RangedText.readLines(plain, 0, bytes.length, RangedText.PlainText)
      .map(_.offset).toSeq === starts.init)
    Seq(plain, gz, bgz).foreach { f =>
      assert(Vcf.read(spark, f).collect().sortBy(_.pos).map(_.infoValues.head).toSeq === notes, f)
      assert(spark.read.format("vcf").load(f).select("infoValues").collect()
        .map(_.getSeq[String](0).head).sorted.toSeq === notes.sorted, f)
      assert(ownedLines(f, 4096).toSeq === head.split("\n").toSeq ++ lines, f)
    }
    val bounded = Vcf.readIntervals(spark, bgz, Seq(("chr1", 100, 150), ("chr1", 3000, 3050)))
      .collect().sortBy(_.pos).map(_.infoValues.head).toSeq
    assert(bounded === notes.take(6) ++ notes.slice(290, 296))
  }

  test("ownership protocol holds over BGZF with block-aligned bounds") {
    val dir = tmpDir("rtb")
    val f = s"$dir/t.txt.bgz"
    val lines = (0 until 500).map(i => s"row-$i-${"y" * (i % 23)}")
    val out = new Bgzf.BgzfOutputStream(new java.io.FileOutputStream(f), blockSize = 256)
    out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    out.close()
    val got = ownedLines(f, splitSize = 700)
    assert(got.sorted === lines.sorted.toArray)
    // many ranges actually used
    assert(RangedText.ranges(f, 700).size > 3)
  }

  test("plain gzip reads as ONE whole-file range (enhanced-gzip fallback)") {
    // ref: util/BGZFEnhancedGzipCodec.java — a .gz that is NOT BGZF
    // must still decode, as a single non-splittable stream
    val dir = tmpDir("rtgz")
    val f = s"$dir/t.txt.gz"
    val lines = (0 until 300).map(i => s"gz-$i-${"w" * (i % 13)}")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    out.close()
    assert(RangedText.compression(f) === RangedText.GzipText)
    assert(!RangedText.isBgzf(f))
    assert(RangedText.ranges(f, 64).size === 1) // never split mid-stream
    val got = ownedLines(f, splitSize = 64)
    assert(got.toSeq === lines)
    // decoded-stream opener serves header sniffing on gzip too
    val dec = new java.io.BufferedReader(new java.io.InputStreamReader(
      RangedText.openDecoded(f), UTF_8))
    try assert(dec.readLine() === lines.head) finally dec.close()
  }

  test("BGZF block index makes split placement index-driven, same results") {
    val dir = tmpDir("rtgbi")
    val f = s"$dir/t.txt.bgz"
    val lines = (0 until 500).map(i => s"idx-$i-${"z" * (i % 19)}")
    val out = new Bgzf.BgzfOutputStream(new java.io.FileOutputStream(f), blockSize = 256)
    out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    out.close()
    val noIndex = RangedText.ranges(f, 700)
    BgzfBlockIndex.buildAndWrite(f, granularity = 512)
    val (fs, p) = Fs.get(f)
    val (offsets, idxLen) = BgzfBlockIndex.read(fs, BgzfBlockIndex.indexPath(p)).get
    assert(offsets.nonEmpty && offsets.head === 0L)
    assert(idxLen === Files.size(Paths.get(f)))
    // every sampled offset is a true block start
    val bytes = Files.readAllBytes(Paths.get(f))
    offsets.foreach { o =>
      assert(Bgzf.parseBsize(bytes, o.toInt) > 0, s"offset $o not a block start")
    }
    val withIndex = RangedText.ranges(f, 700)
    assert(withIndex.size > 3)
    val got = ownedLines(f, splitSize = 700)
    assert(got.sorted === lines.sorted.toArray)
    val _ = noIndex
  }
}

class BamUtilSpec extends SparkSpec {
  import graft.model.{SamHeader, SamRef}

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:unknown\n@SQ\tSN:chr1\tLN:10000\n@SQ\tSN:chr2\tLN:8000",
    Array(SamRef("chr1", 10000), SamRef("chr2", 8000)))

  test("interval spec parsing (IntervalUtil analog)") {
    val ivs = BamIO.parseIntervals("chr1:100-200,chr2,chr1:1000-2000", header)
    assert(ivs === Seq(("chr1", 100, 200), ("chr2", 1, 8000), ("chr1", 1000, 2000)))
  }

  test("writeSorted produces a coordinate-sorted BAM with rewritten header") {
    import spark.implicits._
    val recs = (0 until 200).map { i =>
      graft.model.SamRecord(s"q$i", 0, if (i % 2 == 0) "chr2" else "chr1",
        1 + (i * 97) % 5000, 60, "10M", "*", 0, 0, "ACGTACGTAC", "IIIIIIIIII",
        Array.empty)
    }
    val dir = tmpDir("bamsort")
    val file = s"$dir/sorted.bam"
    BamIO.writeSorted(spark.createDataset(recs).repartition(5), header, file)
    val h = BamIO.readHeader(file)
    assert(h.sortOrder === "coordinate")
    // sequential read order must be (refIdx, pos) ascending
    val back = BamIO.read(spark, file, splitSize = 1L << 30).collect()
    val keys = back.map(r => (header.refs.map(_.name).indexOf(r.rname), r.pos))
    // single range read preserves file order only per-partition; read
    // sequentially instead
    val (fs, p) = Fs.get(file)
    val in = new Bgzf.BgzfInputStream(new java.io.BufferedInputStream(fs.open(p)))
    BamCodec.readHeader(in)
    val seqKeys = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var sz = 0
    while ({ sz = { val a = in.read(); if (a < 0) -1 else a | (in.read() << 8) | (in.read() << 16) | (in.read() << 24) }; sz > 0 }) {
      val buf = new Array[Byte](sz)
      var o = 0
      while (o < sz) o += in.read(buf, o, sz - o)
      val r = BamCodec.decode(buf, header.refs)
      seqKeys += ((header.refs.map(_.name).indexOf(r.rname), r.pos))
    }
    assert(seqKeys.length === 200)
    assert(seqKeys.toSeq === seqKeys.sorted.toSeq)
    assert(keys.length === 200)
  }
}

class BcfIOSpec extends SparkSpec {
  test("distributed BCF write + indexed ranged read round-trips sites") {
    import spark.implicits._
    val dicts = BcfIO.Dicts(Array("chr1", "chr2"), Array("PASS", "q10"),
      Array("DP", "AF"))
    val vs = (0 until 400).map { i =>
      graft.model.VcfVariant(
        chrom = dicts.contigs(i % 2), pos = 100L + i, id = s"rs$i", ref = "A",
        alt = Array(if (i % 3 == 0) "G" else "C"),
        qual = if (i % 7 == 0) None else Some(i.toDouble),
        filter = if (i % 5 == 0) "q10" else "PASS",
        infoKeys = Array("DP"), infoValues = Array(s"$i"),
        format = Array.empty, genotypes = Array.empty)
    }
    val dir = tmpDir("bcfio")
    val file = s"$dir/t.bcf"
    BcfIO.write(spark.createDataset(vs).repartition(4), dicts, file, granularity = 50)
    assert(new java.io.File(file + ".sidx").exists())
    assert(GraftIO.detect(file) === GraftIO.BcfFormat)
    val back = BcfIO.read(spark, file).collect()
    assert(back.length === 400)
    val byId = back.map(v => v.id -> v).toMap
    vs.foreach { v =>
      val b = byId(v.id)
      assert(b.chrom === v.chrom && b.pos === v.pos && b.filter === v.filter)
      assert(b.infoValues.toSeq === v.infoValues.toSeq)
    }
  }

  test("readVariants dispatches by magic: BCF and VCF through one entry point") {
    import spark.implicits._
    val dicts = BcfIO.Dicts(Array("chr1"), Array("PASS"), Array("DP"))
    val vs = (0 until 50).map { i =>
      graft.model.VcfVariant("chr1", 100L + i, s"rs$i", "A", Array("C"),
        Some(i.toDouble), "PASS", Array("DP"), Array(s"$i"),
        Array.empty, Array.empty)
    }
    val dir = tmpDir("anyvar")
    val bcf = s"$dir/t.bcf"
    BcfIO.write(spark.createDataset(vs).coalesce(1), dicts, bcf)
    assert(GraftIO.readVariants(spark, bcf).collect().map(_.id).sorted ===
      vs.map(_.id).sorted.toArray)
    intercept[IllegalArgumentException](
      GraftIO.readVariants(spark, s"$dir/t.bcf.sidx")) // not a variant container
  }

  test("foreign BCF without sidecar index reads via record-start guessing") {
    import spark.implicits._
    val dicts = BcfIO.Dicts(Array("chr1", "chr2"), Array("PASS"), Array("DP"))
    val vs = (0 until 400).map { i =>
      graft.model.VcfVariant(
        chrom = dicts.contigs(i % 2), pos = 100L + i, id = s"rs$i", ref = "A",
        alt = Array("C"), qual = Some(i.toDouble), filter = "PASS",
        infoKeys = Array("DP"), infoValues = Array(s"$i"),
        format = Array.empty, genotypes = Array.empty)
    }
    val dir = tmpDir("bcfguess")
    val file = s"$dir/t.bcf"
    BcfIO.write(spark.createDataset(vs).repartition(3), dicts, file, granularity = 40)
    val (fs, p) = Fs.get(file)
    fs.delete(SplittingIndex.indexPath(p), false)
    // small splits force several guessed boundaries
    val back = BcfIO.read(spark, file, splitSize = 4096).collect()
    assert(back.length === 400)
    assert(back.map(_.id).sorted === vs.map(_.id).sorted.toArray)
  }

  test("distributed BCF round-trips the genotype matrix (fmt dictionary in header)") {
    import spark.implicits._
    val dicts = BcfIO.Dicts(Array("chr1"), Array("PASS"), Array("DP"),
      fmtKeys = Array("GT", "DP", "AD"))
    val vs = (0 until 200).map { i =>
      graft.model.VcfVariant(
        chrom = "chr1", pos = 100L + i, id = s"rs$i", ref = "A", alt = Array("C"),
        qual = None, filter = "PASS", infoKeys = Array("DP"), infoValues = Array(s"$i"),
        format = Array("GT", "DP", "AD"),
        genotypes = Array(
          s"${i % 2}/1:${i % 120}:${i},${i * 2}",
          if (i % 7 == 0) "./.:.:." else s"1|1:${90 + i % 9}:${i + 1}"))
    }
    val dir = tmpDir("bcfgt")
    val file = s"$dir/g.bcf"
    BcfIO.write(spark.createDataset(vs).repartition(3), dicts, file, granularity = 40)
    // dictionaries (incl. format) ride the header text
    assert(BcfIO.readDicts(file).fmtKeys.toSeq === Seq("GT", "DP", "AD"))
    val back = BcfIO.read(spark, file).collect()
    assert(back.length === 200)
    val byId = back.map(v => v.id -> v).toMap
    vs.foreach { v =>
      val b = byId(v.id)
      assert(b.format.toSeq === v.format.toSeq, v.id)
      assert(b.genotypes.toSeq === v.genotypes.toSeq, v.id)
    }
  }
}

class CsiSpec extends SparkSpec {
  import graft.model.{SamHeader, SamRecord, SamRef}

  /** SAM spec §5.3 `reg2bins`, literally (fixed 14-bit leaves, 5
    * levels): the reference the parameterized binning must match. */
  private def samSpecReg2bins(beg: Int, end0: Int): Seq[Int] = {
    val end = end0 - 1
    Seq(0) ++ ((1 + (beg >> 26)) to (1 + (end >> 26))) ++
      ((9 + (beg >> 23)) to (9 + (end >> 23))) ++
      ((73 + (beg >> 20)) to (73 + (end >> 20))) ++
      ((585 + (beg >> 17)) to (585 + (end >> 17))) ++
      ((4681 + (beg >> 14)) to (4681 + (end >> 14)))
  }

  test("reg2bin/reg2bins at min_shift=14, depth=5 are bit-identical to BAI") {
    val cases = Seq((0, 100), (16383, 16385), (100000, 200000),
      (1 << 20, (1 << 20) + 50000), (536870000, 536870911))
    cases.foreach { case (b, e) =>
      assert(BinIndex.reg2bins(b, e, 14, 5).sorted === samSpecReg2bins(b, e).sorted, s"[$b,$e)")
    }
    assert(BinIndex.reg2bin(16000, 16100, 14, 5) === BamCodec.reg2bin(16000, 16100))
    assert(BinIndex.reg2bin(0, 1 << 26, 14, 5) === BamCodec.reg2bin(0, 1 << 26))
  }

  test("binStart inverts reg2bin level placement") {
    Seq((14, 5), (14, 6), (12, 4)).foreach { case (ms, d) =>
      Seq((0, 1), (5000, 5100), (1 << 20, (1 << 20) + 10), (1 << 28, (1 << 28) + 5))
        .foreach { case (b, e) =>
          val bin = BinIndex.reg2bin(b, e, ms, d)
          val start = BinIndex.binStart(bin, ms, d)
          assert(start <= b, s"bin $bin start $start beg $b")
        }
    }
  }

  test("CSI round-trips and bounded traversal via .csi matches the filter") {
    import spark.implicits._
    val header = SamHeader(
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:100000",
      Array(SamRef("chr1", 100000), SamRef("chr2", 100000)))
    val recs = (0 until 1000).map { i =>
      SamRecord(s"q$i", 0, if (i < 600) "chr1" else "chr2",
        1 + (if (i < 600) i * 150 else (i - 600) * 200), 60, "30M", "*", 0, 0,
        "ACGTACGTACGTACGTACGTACGTACGTAC", "I" * 30, Array.empty)
    }
    val dir = tmpDir("csi")
    val file = s"$dir/t.bam"
    BamIO.writeSorted(spark.createDataset(recs).repartition(4), header, file)
    Csi.buildAndWrite(file, minShift = 14, depth = 5)
    val (fs, p) = Fs.get(file)
    val idx = Csi.read(fs, Csi.indexPath(new org.apache.hadoop.fs.Path(file))).get
    assert(idx.minShift === 14 && idx.depth === 5)
    assert(idx.refs.length === 2 && idx.refs(0).bins.nonEmpty)
    // no graft sidecar, no .bai: the CSI path must serve the intervals
    fs.delete(SplittingIndex.indexPath(p), false)
    val iv = Seq(("chr1", 30000, 60000))
    val got = BamIO.read(spark, file, intervals = iv).collect().map(_.qname).sorted
    val expect = recs.filter(r => r.rname == "chr1" && r.pos <= 60000 && r.end >= 30000)
      .map(_.qname).sorted.toArray
    assert(got === expect)
    assert(got.nonEmpty)
    val chunks = idx.chunksFor(0, 30000, 60000)
    assert(chunks.nonEmpty)
  }

  test("auto depth CSI indexes a contig past BAI's 512 Mbp limit") {
    import spark.implicits._
    // positions beyond 2^29 overflow BAI's 5-level binning; build()
    // derives the needed depth (6 here) from the header contig length
    val header = SamHeader(
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:big1\tLN:1200000000",
      Array(SamRef("big1", 1200000000)))
    val recs = (0 until 300).map { i =>
      SamRecord(s"q$i", 0, "big1", 1 + i * 4000000, 60, "30M", "*", 0, 0,
        "ACGTACGTACGTACGTACGTACGTACGTAC", "I" * 30, Array.empty)
    }
    val dir = tmpDir("csibig")
    val file = s"$dir/big.bam"
    BamIO.writeSorted(spark.createDataset(recs).coalesce(1), header, file)
    Csi.buildAndWrite(file) // no explicit depth
    val (fs, p) = Fs.get(file)
    val idx = Csi.read(fs, Csi.indexPath(p)).get
    assert(idx.depth === 6)
    fs.delete(SplittingIndex.indexPath(p), false)
    val iv = Seq(("big1", 900000000, 1000000000))
    val got = BamIO.read(spark, file, intervals = iv).collect().map(_.qname).sorted
    val expect = recs.filter(r => r.pos <= 1000000000 && r.end >= 900000000)
      .map(_.qname).sorted.toArray
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("depthFor matches capacity boundaries; undersized explicit depth errors") {
    import spark.implicits._
    assert(BinIndex.depthFor(1L << 14) === 1)
    assert(BinIndex.depthFor((1L << 29)) === 5)
    assert(BinIndex.depthFor((1L << 29) + 1) === 6)
    assert(BinIndex.depthFor(1200000000L) === 6)
    // an explicit depth too small for the data must fail loudly, not
    // silently mis-bin
    val header = SamHeader(
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:big1\tLN:1200000000",
      Array(SamRef("big1", 1200000000)))
    val recs = Seq(SamRecord("q0", 0, "big1", 900000000, 60, "30M", "*", 0, 0,
      "ACGTACGTACGTACGTACGTACGTACGTAC", "I" * 30, Array.empty))
    val dir = tmpDir("csishort")
    val file = s"$dir/s.bam"
    BamIO.writeSorted(spark.createDataset(recs).coalesce(1), header, file)
    val e = intercept[IllegalArgumentException](Csi.build(file, depth = 5))
    assert(e.getMessage.contains("index capacity"))
  }
}

class BaiSpec extends SparkSpec {
  import graft.model.{SamHeader, SamRecord, SamRef}

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:100000",
    Array(SamRef("chr1", 100000), SamRef("chr2", 100000)))

  test("BAI round-trips and bounded traversal via .bai matches the filter") {
    import spark.implicits._
    val recs = (0 until 1000).map { i =>
      SamRecord(s"q$i", 0, if (i < 600) "chr1" else "chr2",
        1 + (if (i < 600) i * 150 else (i - 600) * 200), 60, "30M", "*", 0, 0,
        "ACGTACGTACGTACGTACGTACGTACGTAC", "I" * 30, Array.empty)
    }
    val dir = tmpDir("bai")
    val file = s"$dir/t.bam"
    BamIO.writeSorted(spark.createDataset(recs).repartition(4), header, file)
    Bai.buildAndWrite(file)
    // round-trip the index file itself
    val (fs, p) = Fs.get(file)
    val idx = Bai.read(fs, Bai.indexPath(new org.apache.hadoop.fs.Path(file))).get
    assert(idx.refs.length === 2)
    assert(idx.refs(0).bins.nonEmpty && idx.refs(0).linear.nonEmpty)
    // drop the graft sidecar so the BAI path is exercised
    fs.delete(SplittingIndex.indexPath(p), false)
    val iv = Seq(("chr1", 30000, 60000))
    val got = BamIO.read(spark, file, intervals = iv).collect().map(_.qname).sorted
    val expect = recs.filter(r => r.rname == "chr1" && r.pos <= 60000 && r.end >= 30000)
      .map(_.qname).sorted.toArray
    assert(got === expect)
    assert(got.nonEmpty)
    // chunks must actually prune: far fewer than a full scan would read
    val chunks = idx.chunksFor(0, 30000, 60000)
    assert(chunks.nonEmpty)
  }

  test("metadata pseudo-bin 37450 never feeds chunk resolution") {
    // htsjdk-style index: a real bin plus the pseudo-bin whose "chunks"
    // are counts, not virtual offsets
    val real = BinIndex.Chunk(1L << 16, 2L << 16)
    val pseudo = Seq(BinIndex.Chunk(0L, 0L), BinIndex.Chunk(12345L, 7L)) // counts
    val idx = BinIndex.Index(14, 5, Array(BinIndex.RefIndex(
      Map(4681 -> Seq(real), Bai.PseudoBin -> pseudo), Array(0L))))
    val chunks = idx.chunksFor(0, 1, 16384)
    assert(chunks === Seq(real))
  }

  test("BAI building rejects a record past 2^29 and an unsorted BAM, as htslib does") {
    import spark.implicits._
    val big = SamHeader(
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:big1\tLN:1200000000",
      Array(SamRef("big1", 1200000000)))
    def read(i: Int, pos: Int): SamRecord = SamRecord(s"q$i", 0, "big1", pos, 60, "30M",
      "*", 0, 0, "ACGTACGTACGTACGTACGTACGTACGTAC", "I" * 30, Array.empty)
    val far = s"${tmpDir("baibig")}/far.bam"
    BamIO.writeSorted(spark.createDataset(Seq(read(0, 900000000))).coalesce(1), big, far)
    assert(intercept[IllegalArgumentException](Bai.build(far)).getMessage
      .contains("index capacity"))
    val unsorted = s"${tmpDir("baiunsorted")}/u.bam"
    BamIO.write(spark.createDataset(Seq(read(0, 5000), read(1, 100))).coalesce(1), big, unsorted)
    assert(intercept[IllegalArgumentException](Bai.build(unsorted)).getMessage
      .contains("sorted"))
  }

  test("CSI pseudo-bin number matches the spec at every depth") {
    // depth 5 must reproduce BAI's fixed 37450; each extra level
    // multiplies the regular-bin count by 8
    assert(BinIndex.pseudoBin(5) === Bai.PseudoBin)
    assert(BinIndex.pseudoBin(6) === ((1 << 21) - 1) / 7 + 1)
    assert(BinIndex.reg2bins(0, 1 << (14 + 15), 14, 5).max < BinIndex.pseudoBin(5))
  }
}

class VcfBgzfSpec extends SparkSpec {
  test("plain-gzip VCF reads whole (header + records) via the fallback") {
    import spark.implicits._
    val headerLines = Seq("##fileformat=VCFv4.3",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    val vs = (0 until 120).map(i =>
      s"chr1\t${100 + i}\trs$i\tA\tC\t50\tPASS\tDP=$i")
    val dir = tmpDir("vcfgz")
    val f = s"$dir/o.vcf.gz"
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write(((headerLines ++ vs).mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(Vcf.readHeader(f).lines === headerLines)
    val typed = Vcf.read(spark, f, splitSize = 512).collect()
    assert(typed.map(_.pos).sorted === (100 until 220).map(_.toLong).toArray)
    val v2 = spark.read.format("vcf").load(f)
    assert(v2.count() === 120)
    assert(v2.select("pos").as[Long].collect().sorted ===
      (100 until 220).map(_.toLong).toArray)
  }

  test("writeBgzf emits a splittable, terminated .vcf.bgz our reader consumes") {
    import spark.implicits._
    val header = Vcf.VcfHeader(Seq("##fileformat=VCFv4.3",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))
    val vs = (0 until 150).map(i => Vcf.parseLine(
      s"chr1\t${100 + i}\trs$i\tA\tC\t50\tPASS\tDP=$i"))
    val dir = tmpDir("vcfbgz")
    val out = s"$dir/o.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(vs).repartition(3), header, out)
    assert(RangedText.isBgzf(out))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes.takeRight(Bgzf.EofMarker.length) === Bgzf.EofMarker)
    val back = Vcf.read(spark, out, splitSize = 1024).collect()
    assert(back.map(_.pos).sorted === vs.map(_.pos).sorted.toArray)
    assert(Vcf.readHeader(out).lines === header.lines)
  }
}
