package graft.sources

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef}

/** Spec-profile CRAM writer: real data-series containers, no graft
  * marker — so reading them back exercises the SAME foreign decoder
  * that reads htslib files (the two sides were built independently
  * against the public spec, which is the conformance witness
  * available in this container).
  */
class CramSpecWriteSpec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:80000" +
      "\n@RG\tID:rg0\tSM:s",
    Array(SamRef("chr1", 100000), SamRef("chr2", 80000)))

  /** CRAM-representable records: mapped reads with CIGARs that consume
    * exactly the stored bases; unmapped reads with cigar "*"/mapq 0. */
  private def mkRecs(n: Int): Seq[SamRecord] = (0 until n).map { i =>
    val unmapped = i % 7 == 6
    val contig = if (i % 3 == 2) "chr2" else "chr1"
    val pos = 1 + (i * 37) % 70000
    val readLen = 20 + i % 16
    val seq = ("ACGTTGCA" * 8).take(readLen)
    val qual = ("IIFF@@HH" * 8).take(readLen)
    if (unmapped)
      SamRecord(s"u$i", 0x4 | 0x1, "*", 0, 0, "*", "*", 0, 0, seq, qual,
        Array(s"NM:i:${i % 5}"))
    else {
      // exercise every feature-coded op: clips, indels, skips, pads
      val cigar = (i % 5) match {
        case 0 => s"${readLen}M"
        case 1 => s"5S${readLen - 5}M"
        case 2 => s"${readLen - 6}M2D6M"
        case 3 => s"4M3I${readLen - 7}M2H"
        case _ => s"${readLen - 8}M100N4P8M"
      }
      SamRecord(s"r$i", (if (i % 2 == 0) 0x10 else 0) | (if (i % 4 == 0) 0x1 | 0x20 else 0),
        contig, pos, i % 60, cigar,
        if (i % 4 == 0) "=" else "*", if (i % 4 == 0) pos + 99 else 0,
        if (i % 4 == 0) 150 else 0, seq, qual,
        Array(s"NM:i:${i % 9}", "RG:Z:rg0", s"AS:i:${i % 100}",
          s"XB:B:s,${i % 5},-3,${i % 11}", "XZ:Z:spec profile"))
    }
  }

  private def fields(r: SamRecord) =
    (r.qname, r.flag, r.rname, r.pos, r.mapq, r.cigar, r.rnext, r.pnext,
      r.tlen, r.seq, r.qual, r.tags.toSeq)

  test("spec-profile CRAM round-trips through the FOREIGN decoder") {
    import spark.implicits._
    val recs = mkRecs(600)
    val dir = tmpDir("cramspec")
    val file = s"$dir/s.cram"
    CramIO.write(spark.createDataset(recs).repartition(3), header, file,
      profile = "spec")
    // no graft marker → the planner must classify the file as foreign
    val meta = CramIO.plan(file, Nil, exact = false, 1L << 20, None).head
    assert(meta.foreign, "spec-profile output must read through the foreign path")
    assert(meta.major === 3)
    val back = CramIO.read(spark, file).collect()
    assert(back.length === recs.length)
    val byName = back.map(r => r.qname -> r).toMap
    recs.foreach { r => assert(fields(byName(r.qname)) === fields(r), r.qname) }
  }

  test("qualities '*' and zero-length reads survive the spec profile") {
    import spark.implicits._
    val odd = Seq(
      SamRecord("noqual", 0, "chr1", 10, 30, "12M", "*", 0, 0,
        "ACGTACGTACGT", "*", Array.empty),
      SamRecord("empty", 0x4, "*", 0, 0, "*", "*", 0, 0, "*", "*", Array.empty),
      SamRecord("tagonly", 0x4, "*", 0, 0, "*", "*", 0, 0, "AC", "II",
        Array("XX:i:-42", "XY:f:1.5", "XW:Z:hello world")))
    val dir = tmpDir("cramspec_odd")
    val file = s"$dir/o.cram"
    CramIO.write(spark.createDataset(odd).coalesce(1), header, file, profile = "spec")
    val back = CramIO.read(spark, file).collect().map(r => r.qname -> r).toMap
    assert(fields(back("noqual")) === fields(odd(0)))
    assert(fields(back("empty")) === fields(odd(1)))
    assert(fields(back("tagonly")) === fields(odd(2)))
  }

  test("CRAM-semantics normalization is the documented one") {
    import spark.implicits._
    // unmapped record with cigar/mapq: the format has nowhere to put
    // them (same degradation as an htsjdk writer) — reads back */0
    val in = Seq(SamRecord("u0", 0x4, "chr1", 5, 37, "10M", "*", 0, 0,
      "ACGTACGTAC", "IIIIIIIIII", Array.empty))
    val dir = tmpDir("cramspec_norm")
    val file = s"$dir/n.cram"
    CramIO.write(spark.createDataset(in).coalesce(1), header, file, profile = "spec")
    val r = CramIO.read(spark, file).collect().head
    assert(r.cigar === "*" && r.mapq === 0)
    assert(r.seq === "ACGTACGTAC" && r.pos === 5) // bases/pos preserved
  }

  test("spec31 profile writes CRAM 3.1 with Nx16 + name-tokenised blocks") {
    import spark.implicits._
    val recs = mkRecs(800)
    val dir = tmpDir("cramspec31")
    val file = s"$dir/s31.cram"
    CramIO.write(spark.createDataset(recs).repartition(2), header, file,
      profile = "spec31")
    val src = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    assert(src(4) === 3.toByte && src(5) === 1.toByte, "version bytes must be 3.1")
    // the blocks must really carry the 3.1 codecs
    val bs = new CramForeign.ByteStream(src)
    bs.p = 26
    val methods = scala.collection.mutable.Set[Int]()
    while (bs.remaining > 0) {
      val clen = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      bs.itf8(); bs.itf8(); bs.itf8(); bs.itf8()
      bs.ltf8(); bs.ltf8()
      val nBlk = bs.itf8(); val nLm = bs.itf8()
      (0 until nLm).foreach(_ => bs.itf8())
      bs.p += 4
      val end = bs.p + clen
      var b = 0
      while (b < nBlk) {
        val m = bs.byte(); bs.byte(); bs.itf8()
        val csz = bs.itf8(); bs.itf8()
        if (csz > 0) methods += m
        bs.p += csz + 4
        b += 1
      }
      assert(bs.p === end)
    }
    assert(methods.contains(CramIO.RansNx16M), s"no Nx16 blocks: $methods")
    assert(methods.contains(CramIO.NameTokM), s"no name-tokenised blocks: $methods")
    // and it reads back record-for-record through the foreign decoder
    val back = CramIO.read(spark, file).collect()
    assert(back.length === recs.length)
    val byName = back.map(r => r.qname -> r).toMap
    recs.foreach { r => assert(fields(byName(r.qname)) === fields(r), r.qname) }
    // bounded interval read prunes through the .crai on 3.1 framing too
    val hit = CramIO.readIntervals(spark, file, Seq(("chr1", 1, 5000)))
      .collect().map(_.qname).toSet
    val expect = recs.filter(r => r.rname == "chr1" && r.pos <= 5000 &&
      r.end >= 1 && (r.flag & 0x4) == 0).map(_.qname).toSet
    assert(hit === expect)
  }

  test("spec31-fqz profile rides the QS series on fqzcomp and reads back") {
    import spark.implicits._
    val recs = mkRecs(800)
    val dir = tmpDir("cramspec31fqz")
    val file = s"$dir/s31fqz.cram"
    CramIO.write(spark.createDataset(recs).repartition(2), header, file,
      profile = "spec31-fqz")
    val src = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    assert(src(4) === 3.toByte && src(5) === 1.toByte, "version bytes must be 3.1")
    val bs = new CramForeign.ByteStream(src)
    bs.p = 26
    val methods = scala.collection.mutable.Set[Int]()
    while (bs.remaining > 0) {
      val clen = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      bs.itf8(); bs.itf8(); bs.itf8(); bs.itf8()
      bs.ltf8(); bs.ltf8()
      val nBlk = bs.itf8(); val nLm = bs.itf8()
      (0 until nLm).foreach(_ => bs.itf8())
      bs.p += 4
      val end = bs.p + clen
      var b = 0
      while (b < nBlk) {
        val m = bs.byte(); bs.byte(); bs.itf8()
        val csz = bs.itf8(); bs.itf8()
        if (csz > 0) methods += m
        bs.p += csz + 4
        b += 1
      }
      assert(bs.p === end)
    }
    assert(methods.contains(CramIO.FqzM), s"no fqzcomp blocks: $methods")
    assert(methods.contains(CramIO.NameTokM), s"no name-tokenised blocks: $methods")
    // record-for-record through the foreign decoder, qualities intact
    val back = CramIO.read(spark, file).collect()
    assert(back.length === recs.length)
    val byName = back.map(r => r.qname -> r).toMap
    recs.foreach { r => assert(fields(byName(r.qname)) === fields(r), r.qname) }
  }

  test("paired-end reads round-trip through NF mate chains in multi-slice containers") {
    import spark.implicits._
    // real pairs: mutual RNEXT/PNEXT, consistent mate flags, canonical
    // TLEN — exactly what the writer chains (CF 0x4 + NF) instead of
    // storing detached mate fields, and what resolveMates reconstructs
    val readLen = 60
    val seq = ("ACGTTGCA" * 8).take(readLen)
    val qual = ("IIFF@@HH" * 8).take(readLen)
    val pairs = (0 until 600).flatMap { i =>
      val p = 1 + i * 97
      val span = 100 + readLen // mate starts at p+100
      Seq(
        SamRecord(s"p$i", 0x63, "chr1", p, 60, s"${readLen}M", "=", p + 100,
          span, seq, qual, Array(s"NM:i:${i % 5}")),
        SamRecord(s"p$i", 0x93, "chr1", p + 100, 60, s"${readLen}M", "=", p,
          -span, seq, qual, Array(s"NM:i:${i % 5}")))
    }
    val dir = tmpDir("cramspec_pairs")
    val file = s"$dir/p.cram"
    CramIO.write(spark.createDataset(pairs).coalesce(1), header, file,
      profile = "spec")

    // the bytes must really carry NF chains and >1 slice per container:
    // walk the container structure and count slice headers / NF blocks
    val src = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val bs = new CramForeign.ByteStream(src)
    bs.p = 26 // past file definition
    var nfBlocks = 0
    val slicesPerContainer = scala.collection.mutable.ArrayBuffer[Int]()
    while (bs.remaining > 0) {
      val clen = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      bs.itf8(); bs.itf8(); bs.itf8(); bs.itf8() // rid, start, span, nRec
      bs.ltf8(); bs.ltf8() // counter, bases
      val nBlk = bs.itf8(); val nLm = bs.itf8()
      (0 until nLm).foreach(_ => bs.itf8())
      bs.p += 4 // header crc
      val end = bs.p + clen
      var slices = 0
      var b = 0
      while (b < nBlk) {
        bs.byte() // method
        val btype = bs.byte()
        val cid = bs.itf8()
        val csz = bs.itf8(); bs.itf8()
        if (btype == CramIO.SliceHeader) slices += 1
        if (btype == CramIO.External && cid == 34 && csz > 0) nfBlocks += 1
        bs.p += csz + 4 // body + crc
        b += 1
      }
      assert(bs.p === end, "container walk desync")
      slicesPerContainer += slices
    }
    assert(nfBlocks > 0, "no NF series block written — pairs were not chained")
    // the data container carries 2 slices sharing one compression header
    assert(slicesPerContainer.max >= 2,
      s"no multi-slice container written: $slicesPerContainer")

    val back = CramIO.read(spark, file).collect()
    assert(back.length === pairs.length)
    val byKey = back.map(r => (r.qname, r.flag) -> r).toMap
    pairs.foreach { r =>
      assert(fields(byKey((r.qname, r.flag))) === fields(r), r.qname)
    }
  }

  test("mapped records with CIGAR '*' but bases present write without aborting") {
    import spark.implicits._
    // legal SAM corner (flag 0x4 clear, CIGAR '*', bases stored):
    // previously hit the rpos==seqLen assertion mid-encode.  CRAM has
    // no "mapped, no alignment detail" state; the bases go out as one
    // verbatim run and read back as <len>M — the same reconstruction
    // htsjdk performs for feature-less mapped records.
    val in = Seq(
      SamRecord("m0", 0, "chr1", 50, 13, "*", "*", 0, 0,
        "ACGTAC", "IIIIII", Array("XX:i:1")),
      SamRecord("m1", 0x10, "chr1", 90, 0, "*", "*", 0, 0, "*", "*", Array.empty))
    val dir = tmpDir("cramspec_nocigar")
    val file = s"$dir/c.cram"
    CramIO.write(spark.createDataset(in).coalesce(1), header, file, profile = "spec")
    val back = CramIO.read(spark, file).collect().map(r => r.qname -> r).toMap
    val m0 = back("m0")
    assert(m0.seq === "ACGTAC" && m0.qual === "IIIIII")
    assert(m0.cigar === "6M" && m0.pos === 50 && m0.mapq === 13)
    assert(m0.tags.toSeq === Seq("XX:i:1"))
    val m1 = back("m1")
    assert(m1.seq === "*" && m1.cigar === "*" && m1.pos === 90)
  }

  test("interval reads prune spec-profile containers through the .crai") {
    import spark.implicits._
    val recs = mkRecs(600)
    val dir = tmpDir("cramspec_iv")
    val file = s"$dir/iv.cram"
    CramIO.write(spark.createDataset(recs).repartition(2), header, file,
      profile = "spec")
    val got = CramIO.readIntervals(spark, file, Seq(("chr2", 1000, 30000)))
      .collect().map(_.qname).sorted.toSeq
    val want = recs.filter(r => r.rname == "chr2" && r.pos <= 30000 &&
      math.max(r.end, r.pos) >= 1000).map(_.qname).sorted
    assert(got === want)
  }

  test("files terminate with the canonical 38-byte CRAM 3.0 EOF sequence") {
    import spark.implicits._
    val dir = tmpDir("crameof")
    val file = s"$dir/e.cram"
    CramIO.write(spark.createDataset(mkRecs(10)).coalesce(1), header, file,
      profile = "spec")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    // hts-specs CRAM 3.0 §9: the prescribed EOF container bytes — what
    // htslib/htsjdk compare literally to detect a complete file
    val canonical = Array(
      0x0f, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0x0f, 0xe0,
      0x45, 0x4f, 0x46, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x05,
      0xbd, 0xd9, 0x4f, 0x00, 0x01, 0x00, 0x06, 0x06, 0x01, 0x00,
      0x01, 0x00, 0x01, 0x00, 0xee, 0x63, 0x01, 0x4b).map(_.toByte)
    assert(bytes.length > 38)
    assert(bytes.takeRight(38).toSeq === canonical.toSeq)
  }

  test("DSv2 sink writes spec profile via option, reads back foreign") {
    import spark.implicits._
    val recs = mkRecs(200)
    val dir = tmpDir("cramspec_v2")
    val file = s"$dir/v2.cram"
    // the header option is a path to an existing header-bearing file
    val headerSrc = s"$dir/hdr.sam"
    java.nio.file.Files.write(java.nio.file.Paths.get(headerSrc),
      (header.text + "\n").getBytes("UTF-8"))
    spark.createDataset(recs).toDF()
      .write.format("cram")
      .option("header", headerSrc)
      .option("profile", "spec")
      .mode("overwrite")
      .save(file)
    val meta = CramIO.plan(file, Nil, exact = false, 1L << 20, None).head
    assert(meta.foreign)
    val back = spark.read.format("cram").load(file)
      .selectExpr("qname", "seq").as[(String, String)].collect().toMap
    recs.foreach(r => assert(back(r.qname) === r.seq, r.qname))

    // spec31 through the same sink: 3.1 version bytes, reads back
    val file31 = s"$dir/v31.cram"
    spark.createDataset(recs).toDF()
      .write.format("cram")
      .option("header", headerSrc)
      .option("profile", "spec31")
      .mode("overwrite")
      .save(file31)
    val src31 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file31))
    assert(src31(4) === 3.toByte && src31(5) === 1.toByte)
    val back31 = spark.read.format("cram").load(file31)
      .selectExpr("qname", "seq").as[(String, String)].collect().toMap
    recs.foreach(r => assert(back31(r.qname) === r.seq, r.qname))
  }
}
