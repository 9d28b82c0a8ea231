package graft.sources

import graft.SparkSpec

/** Foreign (htslib-written) CRAM record decode (S12 → full).
  *
  * Fixture: `test.cram` — the reference project's own CRAM test file
  * (src/test/resources/test.cram, originally from htslib's public test
  * suite: two reads Fred/Jim over the 20 bp "Sheila" contig of
  * `auxf.fa`, exercising every SAM aux tag type).  It is a CRAM *2.1*
  * container (no CRCs) whose blocks are rANS-compressed and whose
  * record payloads use the real htslib data-series encodings —
  * HUFFMAN (incl. 0-bit constants), GAMMA, EXTERNAL, BYTE_ARRAY_LEN,
  * BYTE_ARRAY_STOP — so one file end-to-ends the whole foreign stack.
  * The reference reads it through htsjdk (TestCRAMInputFormat.java);
  * graft decodes it natively.
  */
class ForeignCramSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getClassLoader.getResource(name).getFile

  private lazy val cram = res("test.cram")
  private lazy val fasta = res("auxf.fa")

  test("htslib-written CRAM 2.1 decodes record-for-record") {
    val recs = CramIO.read(spark, cram, reference = Some(fasta))
      .collect().sortBy(_.pos)
    assert(recs.length === 2)

    val fred = recs(0)
    assert(fred.qname === "Fred")
    assert(fred.flag === 16)
    assert(fred.rname === "Sheila")
    assert(fred.pos === 1)
    assert(fred.mapq === 86)
    assert(fred.cigar === "10M")
    assert(fred.rnext === "*")
    assert(fred.pnext === 0)
    assert(fred.tlen === 0)
    assert(fred.seq === "GCTAGCTCAG") // reconstructed from auxf.fa
    assert(fred.qual === "**********") // phred 9 × 10
    // 35 aux tags from the TD line + the RG tag (RG series index 0)
    assert(fred.tags.length === 36)
    assert(fred.tags.last === "RG:Z:ID")
    val f = fred.tags.toSeq
    assert(f.contains("A!:A:!"))
    assert(f.contains("AC:A:C"))
    assert(f.contains("F0:f:-1.0"))
    assert(f.contains("F1:f:0.0"))
    assert(f.contains("F2:f:1.0"))
    assert(f.contains(s"F3:f:${java.lang.Float.intBitsToFloat(0x21921924)}"))
    assert(f.contains("H0:B:c,-86"))
    assert(f.contains("H1:B:c,-34,-83,0,-66,-17")) // 0xdead00beef
    assert(f.contains("I0:i:0"))
    assert(f.contains("I9:i:65536"))
    assert(f.contains("IA:i:2147483647"))
    assert(f.contains("Z0:Z:space space"))
    assert(f.contains("i1:i:-1"))
    assert(f.contains("iA:i:-2147483647"))
    assert(f.contains("iB:i:-2147483648"))

    val jim = recs(1)
    assert(jim.qname === "Jim")
    assert(jim.flag === 16)
    assert(jim.pos === 11)
    assert(jim.mapq === 11)
    assert(jim.cigar === "10M")
    assert(jim.seq === "AAAAAAAAAA")
    assert(jim.qual === "??????????") // phred 30 × 10
    assert(jim.tags.toSeq === Seq(
      "BC:B:c,0,127,-128,-1",
      "BI:B:i,0,2147483647,-2147483648,-1",
      "BS:B:s,0,32767,-32768,-1",
      "Bc:B:c,-128,-127,0,127",
      "Bi:B:i,-2147483648,-2147483647,0,2147483647",
      "Bs:B:s,-32768,-32767,0,32767",
      "RG:Z:ID"))
  }

  test("decode without the reference FASTA fails with guidance") {
    val e = intercept[org.apache.spark.SparkException](
      CramIO.read(spark, cram).collect())
    assert(e.getMessage.contains("reference") ||
      Option(e.getCause).exists(_.getMessage.contains("reference")))
  }

  test("DSv2 cram face decodes foreign files via option(reference)") {
    val df = spark.read.format("cram").option("reference", fasta).load(cram)
    val rows = df.selectExpr("qname", "pos", "seq").collect().sortBy(_.getInt(1))
    assert(rows.map(_.getString(0)).toSeq === Seq("Fred", "Jim"))
    assert(rows.map(_.getString(2)).toSeq === Seq("GCTAGCTCAG", "AAAAAAAAAA"))
  }

  test("bounded interval read prunes and filters foreign records exactly") {
    val hit = CramIO.readIntervals(spark, cram, Seq(("Sheila", 11, 20)),
      reference = Some(fasta)).collect()
    assert(hit.map(_.qname).toSeq === Seq("Jim"))
    val none = CramIO.readIntervals(spark, cram, Seq(("Sheila", 21, 40)),
      reference = Some(fasta)).collect()
    assert(none.isEmpty)
  }

  test("the same records decode from a CRAM 3.0 re-framing (CRC path)") {
    // same block bytes re-framed with 3.0 container/block CRC32s —
    // proves the version-dependent framing reader, the rANS blocks
    // under a 3.0 container, and landmark remapping
    val dir = tmpDir("cram30")
    val out = s"$dir/test30.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      reframeTo30(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cram))))
    val recs = CramIO.read(spark, out, reference = Some(fasta))
      .collect().sortBy(_.pos)
    val orig = CramIO.read(spark, cram, reference = Some(fasta))
      .collect().sortBy(_.pos)
    assert(recs.length === 2)
    recs.zip(orig).foreach { case (a, b) =>
      assert((a.qname, a.flag, a.rname, a.pos, a.mapq, a.cigar, a.seq, a.qual,
        a.tags.toSeq) ===
        ((b.qname, b.flag, b.rname, b.pos, b.mapq, b.cigar, b.seq, b.qual,
          b.tags.toSeq)))
    }
  }

  private def w32(o: java.io.OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }

  /** Re-emit a CRAM 2.x byte stream as CRAM 3.0 framing: identical
    * block payloads, but container headers and blocks gain their
    * CRC32s and landmarks are remapped for the per-block growth. */
  private def reframeTo30(src: Array[Byte]): Array[Byte] = {
    val bs = new CramForeign.ByteStream(src)
    val out = new java.io.ByteArrayOutputStream(src.length + 256)
    out.write("CRAM".getBytes("US-ASCII"))
    out.write(3); out.write(0)
    out.write(src, 6, 20) // file id
    bs.p = 26
    while (bs.remaining > 0) {
      val clen = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      val refId = bs.itf8(); val start = bs.itf8()
      val span = bs.itf8(); val nRec = bs.itf8()
      val ctr = bs.ltf8(); val bases = bs.ltf8()
      val nBlk = bs.itf8(); val nLm = bs.itf8()
      val lms = Array.fill(nLm)(bs.itf8())
      val bodyStart = bs.p
      val newBody = new java.io.ByteArrayOutputStream(clen + 4 * nBlk)
      val offMap = scala.collection.mutable.Map[Int, Int]()
      var b = 0
      while (b < nBlk) {
        offMap(bs.p - bodyStart) = newBody.size()
        val blkStart = bs.p
        bs.byte(); bs.byte(); bs.itf8() // method, type, content id
        val csz = bs.itf8(); bs.itf8()
        bs.p += csz
        val blkBytes = java.util.Arrays.copyOfRange(src, blkStart, bs.p)
        newBody.write(blkBytes)
        val crc = new java.util.zip.CRC32(); crc.update(blkBytes)
        w32(newBody, crc.getValue.toInt)
        b += 1
      }
      assert(bs.p === bodyStart + clen, "container body length mismatch")
      val head = new java.io.ByteArrayOutputStream(64)
      w32(head, newBody.size())
      Cram.writeItf8(head, refId); Cram.writeItf8(head, start)
      Cram.writeItf8(head, span); Cram.writeItf8(head, nRec)
      Cram.writeLtf8(head, ctr); Cram.writeLtf8(head, bases)
      Cram.writeItf8(head, nBlk); Cram.writeItf8(head, lms.length)
      lms.foreach(l => Cram.writeItf8(head, offMap.getOrElse(l, l)))
      val hb = head.toByteArray
      out.write(hb)
      val hcrc = new java.util.zip.CRC32(); hcrc.update(hb)
      w32(out, hcrc.getValue.toInt)
      newBody.writeTo(out)
    }
    out.toByteArray
  }

  test("rANS 4x8 round-trips: both orders, uniform/skewed/runny payloads") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.fill(1)(42.toByte),
      Array.fill(3)(0.toByte),
      Array.tabulate(4096)(i => (i % 251).toByte), // dense alphabet
      Array.fill(10000)((rnd.nextInt(4) + 60).toByte), // tiny alphabet
      Array.tabulate(5000)(i => if (i % 100 < 90) 'A'.toByte else rnd.nextInt(256).toByte),
      Array.fill(7)(rnd.nextInt(256).toByte), // below one quarter-round
      ("FredJim" * 400).getBytes("US-ASCII"))
    for (p <- payloads; order <- Seq(0, 1)) {
      val enc = CramForeign.Rans.encode(p, order)
      val dec = CramForeign.Rans.decode(enc)
      assert(java.util.Arrays.equals(dec, p),
        s"order $order length ${p.length} round-trip mismatch")
    }
  }

  test("rANS 4x8 property: seeded inputs round-trip at orders 0 and 1; " +
    "truncated or flipped bodies throw or decode to the declared size, never hang") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val rnd = new scala.util.Random(20261020L)
    // lengths 1..70k, not all multiples of 4 (order 1 drains the tail
    // with state 3); one-symbol, small-alphabet and full-alphabet input
    val lengths = Seq(1, 2, 3, 4, 5, 7, 8, 4097, 65535, 70000) ++
      Seq.fill(14)(1 + rnd.nextInt(70000))
    val inputs = lengths.zipWithIndex.map { case (n, i) =>
      val alphabet = i % 3 match {
        case 0 => 1
        case 1 => 2 + rnd.nextInt(6)
        case _ => 256
      }
      val base = rnd.nextInt(256)
      Array.fill(n)(((base + rnd.nextInt(alphabet)) & 0xff).toByte)
    }
    def decodeWithin(body: Array[Byte], n: Int): Either[Throwable, Array[Byte]] =
      try Await.result(Future(scala.util.Try(CramForeign.Rans.decode(body, n)).toEither),
        60.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException => fail(s"no answer in 60 s")
      }
    for ((x, i) <- inputs.zipWithIndex; order <- Seq(0, 1)) {
      val what = s"input $i (${x.length} bytes) order $order"
      val enc = CramForeign.Rans.encode(x, order)
      assert(java.util.Arrays.equals(CramForeign.Rans.decode(enc, x.length), x), what)
      assert(java.util.Arrays.equals(CramForeign.Rans.decode(enc), x), what)
      (0 until 6).foreach { k =>
        val cut = rnd.nextInt(enc.length)
        assert(decodeWithin(enc.take(cut), x.length).isLeft, s"$what truncated to $cut")
        val flipped = enc.clone()
        val at = rnd.nextInt(enc.length)
        flipped(at) = (flipped(at) ^ (1 + rnd.nextInt(255))).toByte
        decodeWithin(flipped, x.length).foreach(out =>
          assert(out.length === x.length, s"$what byte $at flipped"))
      }
    }
  }

  test("rANS Nx16 round-trips: orders, 4/32-way, PACK/RLE/CAT/STRIPE/NOSZ") {
    import RansNx16._
    val rnd = new scala.util.Random(31)
    val payloads = Seq(
      Array.fill(1)(42.toByte),
      Array.fill(3)(0.toByte),
      Array.tabulate(4096)(i => (i % 251).toByte), // dense alphabet
      Array.fill(10000)((rnd.nextInt(4) + 60).toByte), // ≤16 syms (packable)
      Array.tabulate(5000)(i => if (i % 100 < 90) 'A'.toByte else rnd.nextInt(256).toByte),
      Array.fill(7)(rnd.nextInt(256).toByte), // below one interleave round
      Array.fill(9000)(7.toByte), // single symbol, long runs
      (("AAAAAAAABBC" * 700) + "ZQ").getBytes("US-ASCII"), // runny
      ("FredJim" * 400).getBytes("US-ASCII"))
    val flagSets = Seq(
      0, Order1, N32, Order1 | N32, Cat,
      Pack, Pack | Order1, Rle, Rle | Order1 | N32, Pack | Rle,
      Stripe, Stripe | Order1, Stripe | N32)
    for (p <- payloads; fl <- flagSets) {
      val enc = encode(p, fl)
      val dec = decode(enc)
      assert(java.util.Arrays.equals(dec, p),
        s"nx16 flags 0x${fl.toHexString} length ${p.length} round-trip mismatch")
      // NOSZ variant: size carried out of band
      val encN = encode(p, fl | NoSz)
      val decN = decode(encN, p.length)
      assert(java.util.Arrays.equals(decN, p),
        s"nx16+NOSZ flags 0x${fl.toHexString} round-trip mismatch")
    }
  }

  /** Re-emit a CRAM 2.x stream as CRAM 3.1: every block payload
    * re-compressed with rANS Nx16 (method 5), 3.0-style CRCs, version
    * bytes 3.1.  No htslib 3.1 fixture is available offline; this
    * pins the method-5 dispatch and the Nx16 codec under a real
    * container built from htslib's own block payloads. */
  private def reframeTo31(
      src: Array[Byte],
      pick: (Int, Array[Byte]) => (Int, Array[Byte]) =
        (_, raw) => (5, RansNx16.encode(raw, RansNx16.Order1 | RansNx16.N32)))
      : Array[Byte] = {
    val bs = new CramForeign.ByteStream(src)
    val out = new java.io.ByteArrayOutputStream(src.length + 256)
    out.write("CRAM".getBytes("US-ASCII"))
    out.write(3); out.write(1)
    out.write(src, 6, 20) // file id
    bs.p = 26
    var blockNo = 0
    while (bs.remaining > 0) {
      val clen = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      val refId = bs.itf8(); val start = bs.itf8()
      val span = bs.itf8(); val nRec = bs.itf8()
      val ctr = bs.ltf8(); val bases = bs.ltf8()
      val nBlk = bs.itf8(); val nLm = bs.itf8()
      val lms = Array.fill(nLm)(bs.itf8())
      val bodyStart = bs.p
      val newBody = new java.io.ByteArrayOutputStream(clen + 4 * nBlk)
      val offMap = scala.collection.mutable.Map[Int, Int]()
      var b = 0
      while (b < nBlk) {
        offMap(bs.p - bodyStart) = newBody.size()
        val method = bs.byte(); val btype = bs.byte(); val cid = bs.itf8()
        val csz = bs.itf8(); val rsz = bs.itf8()
        val body = java.util.Arrays.copyOfRange(src, bs.p, bs.p + csz)
        bs.p += csz
        // decompress with the 2.x method, recompress as Nx16
        val raw = method match {
          case _ if csz == 0 && rsz == 0 => body // empty (EOF-style) block
          case 0 => body
          case 1 =>
            val g = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(body))
            val o = new Array[Byte](rsz)
            var n = 0
            while (n < rsz) { val r = g.read(o, n, rsz - n); require(r > 0); n += r }
            o
          case 4 => CramForeign.Rans.decode(body)
          case m => fail(s"unexpected 2.x method $m")
        }
        val (newMethod, enc) =
          if (raw.isEmpty) (0, raw)
          else { blockNo += 1; pick(blockNo - 1, raw) }
        val blk = new java.io.ByteArrayOutputStream(enc.length + 16)
        blk.write(newMethod); blk.write(btype)
        Cram.writeItf8(blk, cid)
        Cram.writeItf8(blk, enc.length)
        Cram.writeItf8(blk, raw.length)
        blk.write(enc)
        val blkBytes = blk.toByteArray
        newBody.write(blkBytes)
        val crc = new java.util.zip.CRC32(); crc.update(blkBytes)
        w32(newBody, crc.getValue.toInt)
        b += 1
      }
      assert(bs.p === bodyStart + clen, "container body length mismatch")
      val head = new java.io.ByteArrayOutputStream(64)
      w32(head, newBody.size())
      Cram.writeItf8(head, refId); Cram.writeItf8(head, start)
      Cram.writeItf8(head, span); Cram.writeItf8(head, nRec)
      Cram.writeLtf8(head, ctr); Cram.writeLtf8(head, bases)
      Cram.writeItf8(head, nBlk); Cram.writeItf8(head, lms.length)
      lms.foreach(l => Cram.writeItf8(head, offMap.getOrElse(l, l)))
      val hb = head.toByteArray
      out.write(hb)
      val hcrc = new java.util.zip.CRC32(); hcrc.update(hb)
      w32(out, hcrc.getValue.toInt)
      newBody.writeTo(out)
    }
    out.toByteArray
  }

  test("the same records decode from a CRAM 3.1 re-framing (rANS Nx16 blocks)") {
    val dir = tmpDir("cram31")
    val out = s"$dir/test31.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      reframeTo31(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cram))))
    val recs = CramIO.read(spark, out, reference = Some(fasta))
      .collect().sortBy(_.pos)
    val orig = CramIO.read(spark, cram, reference = Some(fasta))
      .collect().sortBy(_.pos)
    assert(recs.length === 2)
    recs.zip(orig).foreach { case (a, b) =>
      assert((a.qname, a.flag, a.rname, a.pos, a.mapq, a.cigar, a.seq, a.qual,
        a.tags.toSeq) ===
        ((b.qname, b.flag, b.rname, b.pos, b.mapq, b.cigar, b.seq, b.qual,
          b.tags.toSeq)))
    }
  }

  test("the same records decode when blocks ride lzma (3) and fqzcomp (7)") {
    // cycle methods across the container's non-empty blocks so every
    // newly-dispatched method is exercised under real container
    // framing: lzma via the xz container, fqzcomp framed as a single
    // record spanning the block (its in-stream lengths are
    // self-contained, so any byte payload is a valid quality series)
    val dir = tmpDir("cram31mix")
    val out = s"$dir/test31mix.cram"
    val pick: (Int, Array[Byte]) => (Int, Array[Byte]) = (i, raw) =>
      (i % 3) match {
        case 0 =>
          val bos = new java.io.ByteArrayOutputStream()
          val xz = new org.tukaani.xz.XZOutputStream(bos,
            new org.tukaani.xz.LZMA2Options())
          xz.write(raw); xz.finish(); xz.close()
          (CramIO.Lzma, bos.toByteArray)
        case 1 => (CramIO.FqzM, Fqz.encode(raw, Array(raw.length)))
        case _ => (CramIO.RansNx16M,
          RansNx16.encode(raw, RansNx16.Order1 | RansNx16.N32))
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      reframeTo31(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cram)), pick))
    val recs = CramIO.read(spark, out, reference = Some(fasta))
      .collect().sortBy(_.pos)
    val orig = CramIO.read(spark, cram, reference = Some(fasta))
      .collect().sortBy(_.pos)
    assert(recs.length === 2)
    recs.zip(orig).foreach { case (a, b) =>
      assert((a.qname, a.flag, a.rname, a.pos, a.mapq, a.cigar, a.seq, a.qual,
        a.tags.toSeq) ===
        ((b.qname, b.flag, b.rname, b.pos, b.mapq, b.cigar, b.seq, b.qual,
          b.tags.toSeq)))
    }
  }

  test("NF mate chains resolve flags, RNEXT/PNEXT and signed TLEN") {
    import CramForeign._
    // two paired records, CF=4 (mate downstream) on the first with
    // NF=0 → mate is the NEXT record; the second is detached-less and
    // gets its fields from the chain resolution
    val h = CompHeader(apDelta = false, rnCaptured = true, refRequired = false,
      subMatrix = Array[Byte](0x1b, 0x1b, 0x1b, 0x1b, 0x1b),
      tagLines = Array(Array.empty[TagDef]),
      ds = Map(
        "BF" -> ExternalEnc(1),
        "CF" -> ExternalEnc(2),
        "RL" -> HuffmanEnc(Array(4), Array(0)),
        "AP" -> ExternalEnc(3),
        "RG" -> HuffmanEnc(Array(-1), Array(0)),
        "RN" -> ByteArrayLenEnc(HuffmanEnc(Array(2), Array(0)), ExternalEnc(4)),
        "NF" -> ExternalEnc(5),
        "TL" -> HuffmanEnc(Array(0), Array(0)),
        "FN" -> HuffmanEnc(Array(1), Array(0)),
        "FC" -> ExternalEnc(6),
        "FP" -> ExternalEnc(7),
        "BB" -> ByteArrayLenEnc(HuffmanEnc(Array(4), Array(0)), ExternalEnc(8)),
        "MQ" -> HuffmanEnc(Array(60), Array(0))),
      tagEnc = Map.empty)
    val slice = SliceHeader(0, 10, 100, 2, Array(1, 2, 3, 4, 5, 6, 7, 8), -1)
    def itf8s(vs: Int*): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      vs.foreach(Cram.writeItf8(b, _))
      b.toByteArray
    }
    val ctx = new SliceCtx(new BitReader(Array[Byte](0)), Map(
      // r1: paired+proper+first (0x43); r2: paired+proper+reverse+last
      1 -> new ByteStream(itf8s(0x43, 0x93)),
      // r1: has-downstream-mate (0x4, reads NF); r2: neither detached
      // nor downstream — everything comes from chain resolution
      2 -> new ByteStream(itf8s(0x4, 0x0)),
      3 -> new ByteStream(itf8s(10, 60)),
      4 -> new ByteStream("p1p1".getBytes("US-ASCII")),
      5 -> new ByteStream(itf8s(0)), // NF: next record
      6 -> new ByteStream(Array('b'.toByte, 'b'.toByte)),
      7 -> new ByteStream(itf8s(1, 1)),
      8 -> new ByteStream("ACGTTGCA".getBytes("US-ASCII"))))
    val refs = Array(graft.model.SamRef("chr1", 1000))
    val recs = decodeSlice(h, slice, ctx, refs, Array.empty,
      new RefSource(None, refs))
    assert(recs.length === 2)
    val (a, b) = (recs(0), recs(1))
    assert(a.qname === "p1" && b.qname === "p1")
    assert(a.pos === 10 && b.pos === 60)
    // b is reverse (0x10): a gains mate-reverse 0x20; neither unmapped
    assert((a.flag & 0x20) !== 0)
    assert(a.rnext === "=" && a.pnext === 60)
    assert(b.rnext === "=" && b.pnext === 10)
    // template: leftmost start 10, rightmost end 63 (pos 60 + 4M - 1)
    assert(a.tlen === 54 && b.tlen === -54)
    assert(a.seq === "ACGT" && b.seq === "TGCA")
  }

  test("multi-slice containers decode every slice") {
    import CramForeign._
    // the same one-record slice twice in one container: decodeContainer
    // must walk both slice-header-delimited block runs
    val h = CompHeader(apDelta = false, rnCaptured = true, refRequired = false,
      subMatrix = Array[Byte](0x1b, 0x1b, 0x1b, 0x1b, 0x1b),
      tagLines = Array(Array.empty[TagDef]),
      ds = Map(
        "BF" -> HuffmanEnc(Array(4), Array(0)), // unmapped
        "CF" -> HuffmanEnc(Array(2), Array(0)), // detached, no stored quals
        "RL" -> HuffmanEnc(Array(3), Array(0)),
        "AP" -> HuffmanEnc(Array(0), Array(0)),
        "RG" -> HuffmanEnc(Array(-1), Array(0)),
        "RN" -> ByteArrayStopEnc(0, 1),
        "MF" -> HuffmanEnc(Array(0), Array(0)),
        "NS" -> HuffmanEnc(Array(-1), Array(0)),
        "NP" -> HuffmanEnc(Array(0), Array(0)),
        "TS" -> HuffmanEnc(Array(0), Array(0)),
        "TL" -> HuffmanEnc(Array(0), Array(0)),
        "BA" -> ExternalEnc(2)),
      tagEnc = Map.empty)
    // serialize the compression header through the spec writer's own
    // framing? simpler: reuse decode-side objects directly by calling
    // decodeSlice twice is NOT the point — build Block seq for
    // decodeContainer with a real comp-header payload
    def compHeaderBytes: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      // preservation: RN=1, AP=0, RR=0 (TD omitted → no tag lines)
      val pres = new java.io.ByteArrayOutputStream()
      Cram.writeItf8(pres, 3)
      pres.write("RN".getBytes("US-ASCII")); pres.write(1)
      pres.write("AP".getBytes("US-ASCII")); pres.write(0)
      pres.write("RR".getBytes("US-ASCII")); pres.write(0)
      Cram.writeItf8(out, pres.size()); out.write(pres.toByteArray)
      def enc(codec: Int, params: Array[Byte]): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream()
        Cram.writeItf8(b, codec); Cram.writeItf8(b, params.length); b.write(params)
        b.toByteArray
      }
      def itf8(v: Int): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream(); Cram.writeItf8(b, v); b.toByteArray
      }
      def huffConst(v: Int): Array[Byte] =
        enc(3, itf8(1) ++ itf8(v) ++ itf8(1) ++ itf8(0))
      val ds = Seq(
        "BF" -> huffConst(4), "CF" -> huffConst(2), "RL" -> huffConst(3),
        "AP" -> huffConst(0), "RG" -> huffConst(-1),
        "RN" -> enc(5, Array[Byte](0) ++ itf8(1)),
        "MF" -> huffConst(0), "NS" -> huffConst(-1), "NP" -> huffConst(0),
        "TS" -> huffConst(0), "TL" -> huffConst(0),
        "BA" -> enc(1, itf8(2)))
      val dsB = new java.io.ByteArrayOutputStream()
      Cram.writeItf8(dsB, ds.length)
      ds.foreach { case (k, e) => dsB.write(k.getBytes("US-ASCII")); dsB.write(e) }
      Cram.writeItf8(out, dsB.size()); out.write(dsB.toByteArray)
      // empty tag map
      Cram.writeItf8(out, 1); Cram.writeItf8(out, 0)
      out.toByteArray
    }
    def sliceBlocks(name: String, bases: String): Seq[CramIO.Block] = {
      val sh = new java.io.ByteArrayOutputStream()
      Cram.writeItf8(sh, -1); Cram.writeItf8(sh, 0); Cram.writeItf8(sh, 0)
      Cram.writeItf8(sh, 1) // one record
      Cram.writeLtf8(sh, 0L); Cram.writeItf8(sh, 3)
      Cram.writeItf8(sh, 2); Cram.writeItf8(sh, 1); Cram.writeItf8(sh, 2)
      Cram.writeItf8(sh, -1); sh.write(new Array[Byte](16))
      Seq(
        CramIO.Block(CramIO.Raw, CramIO.SliceHeader, 0, sh.toByteArray),
        CramIO.Block(CramIO.Raw, CramIO.CoreData, 0, Array.emptyByteArray),
        CramIO.Block(CramIO.Raw, CramIO.External, 1,
          (name.getBytes("US-ASCII") ++ Array[Byte](0))),
        CramIO.Block(CramIO.Raw, CramIO.External, 2, bases.getBytes("US-ASCII")))
    }
    val blocks = Seq(CramIO.Block(CramIO.Raw, CramIO.CompressionHeader, 0,
      compHeaderBytes)) ++ sliceBlocks("s1", "ACG") ++ sliceBlocks("s2", "TTA")
    val refs = Array.empty[graft.model.SamRef]
    val recs = decodeContainer(blocks, refs, Array.empty, new RefSource(None, refs))
    assert(recs.map(r => (r.qname, r.seq)).toSeq ===
      Seq(("s1", "ACG"), ("s2", "TTA")))
    val _ = h
  }

  test("substitution features reconstruct bases through the SM matrix") {
    // hand-build a slice: one mapped read, 2 features — an X at read
    // pos 3 (code 0 = first alternative base) and a D of 2 at pos 6 —
    // against reference GCTAGCTCAGAAAAAAAAAA
    import CramForeign._
    val h = CompHeader(apDelta = false, rnCaptured = true, refRequired = true,
      subMatrix = Array[Byte](0x1b, 0x1b, 0x1b, 0x1b, 0x1b),
      tagLines = Array(Array.empty[TagDef]),
      ds = Map(
        "BF" -> HuffmanEnc(Array(0), Array(0)),
        "CF" -> HuffmanEnc(Array(2), Array(0)), // detached, no stored quals
        "RL" -> HuffmanEnc(Array(8), Array(0)),
        "AP" -> HuffmanEnc(Array(3), Array(0)),
        "RG" -> HuffmanEnc(Array(-1), Array(0)),
        "RN" -> ByteArrayLenEnc(HuffmanEnc(Array(2), Array(0)), ExternalEnc(1)),
        "MF" -> HuffmanEnc(Array(0), Array(0)),
        "NS" -> HuffmanEnc(Array(-1), Array(0)),
        "NP" -> HuffmanEnc(Array(0), Array(0)),
        "TS" -> HuffmanEnc(Array(0), Array(0)),
        "TL" -> HuffmanEnc(Array(0), Array(0)),
        "FN" -> HuffmanEnc(Array(2), Array(0)),
        "FC" -> ExternalEnc(2),
        "FP" -> ExternalEnc(3),
        "BS" -> HuffmanEnc(Array(0), Array(0)),
        "DL" -> HuffmanEnc(Array(2), Array(0)),
        "MQ" -> HuffmanEnc(Array(60), Array(0))),
      tagEnc = Map.empty)
    val slice = SliceHeader(0, 3, 10, 1, Array(1, 2, 3), -1)
    val ctx = new SliceCtx(new BitReader(Array[Byte](0)), Map(
      1 -> new ByteStream("r1".getBytes("US-ASCII")),
      2 -> new ByteStream(Array('X'.toByte, 'D'.toByte)),
      3 -> new ByteStream(Array[Byte](3, 3)))) // FP deltas: pos 3, then 6
    val refs = Array(graft.model.SamRef("Sheila", 20))
    val fa = java.nio.file.Files.createTempFile("ref", ".fa")
    java.nio.file.Files.write(fa, ">Sheila\nGCTAGCTCAGAAAAAAAAAA\n".getBytes)
    val rec = decodeSlice(h, slice, ctx, refs, Array.empty,
      new RefSource(Some(fa.toString), refs)).head
    assert(rec.qname === "r1")
    assert(rec.pos === 3)
    // ref from pos 3 is T A G C T C A G A A…; read = TA, substituted
    // base at read pos 3 (ref G, code 0 → A), CT, 2-base deletion
    // skips CA, tail copies G A A
    assert(rec.cigar === "5M2D3M")
    assert(rec.seq === "TAACT" + "GAA")
    assert(rec.tlen === 0)
    assert(rec.qual === "*")
  }

  test("adaptive arithmetic coder round-trips: orders, transforms, carry paths") {
    import RansNx16.{Order1, Cat, Pack, Rle, Stripe, NoSz}
    val rnd = new scala.util.Random(17)
    val payloads = Seq(
      Array.fill(1)(42.toByte),
      Array.fill(3)(0.toByte),
      Array.tabulate(4096)(i => (i % 251).toByte),
      Array.fill(10000)((rnd.nextInt(4) + 60).toByte),
      Array.tabulate(5000)(i => if (i % 100 < 90) 'A'.toByte else rnd.nextInt(256).toByte),
      Array.fill(9000)(7.toByte), // long runs: exercises carry chains
      Array.fill(20000)(0xFF.toByte), // all-0xFF: the carry-propagation worst case
      ("FredJim" * 400).getBytes("US-ASCII"))
    val flagSets = Seq(0, Order1, Cat, Pack, Rle, Rle | Order1, Pack | Rle,
      Stripe, Stripe | Order1)
    for (p <- payloads; fl <- flagSets) {
      val enc = Arith.encode(p, fl)
      val dec = Arith.decode(enc)
      assert(java.util.Arrays.equals(dec, p),
        s"arith flags 0x${fl.toHexString} length ${p.length} round-trip mismatch")
      val encN = Arith.encode(p, fl | NoSz)
      val decN = Arith.decode(encN, p.length)
      assert(java.util.Arrays.equals(decN, p),
        s"arith+NOSZ flags 0x${fl.toHexString} round-trip mismatch")
    }
    // the adaptive model should beat raw storage on skewed data
    val skewed = Array.tabulate(50000)(i =>
      if (i % 10 < 9) 'Q'.toByte else (i % 7 + 40).toByte)
    assert(Arith.encode(skewed, Order1).length < skewed.length / 4)
  }

  test("name tokeniser round-trips realistic read-name sets") {
    def run(names: Seq[String]): Unit = {
      val raw = names.flatMap(n => n.getBytes("US-ASCII") :+ 0.toByte).toArray
      val enc = NameTok.encode(raw)
      val dec = NameTok.decode(enc)
      assert(java.util.Arrays.equals(dec, raw),
        s"name set starting ${names.head} round-trip mismatch " +
          s"(${raw.length} raw, ${enc.length} comp)")
    }
    // Illumina-style: instrument:run:flowcell:lane:tile:x:y
    run((0 until 3000).map(i =>
      s"M00123:77:000000000-A1B2C:1:${1101 + i / 500}:${10000 + i * 3}:${20000 + (i * 7) % 9999}"))
    // SRA-style with DUP pairs (mate pairs share the name)
    run((0 until 2000).flatMap(i => Seq(s"SRR1234567.${i + 1}", s"SRR1234567.${i + 1}")))
    // leading-zero counters (DIGITS0 + DDELTA0)
    run((0 until 1500).map(i => f"read_${i % 800}%06d_tail"))
    // heterogeneous and short
    run(Seq("a", "", "x:1", "x:2", "x:2", "zz09", "zz10", "0"))
    // compression sanity: the structured sets should shrink a lot
    val names = (0 until 5000).map(i => s"HS25_09827:2:2102:${i * 13 % 99999}:${i * 31 % 99999}")
    val raw = names.flatMap(n => n.getBytes("US-ASCII") :+ 0.toByte).toArray
    assert(NameTok.encode(raw).length < raw.length / 3,
      "tokenised names should compress far below the raw bytes")
  }

  test("canonical Huffman codes assign by (length, symbol value), not listed order") {
    import CramForeign._
    // alphabet listed value-DESCENDING within equal code lengths: the
    // spec (and htslib/htsjdk) sort ties by symbol VALUE, so 65 must
    // take the short code and 66 < 67 the two-bit codes in value order
    val enc = HuffmanEnc(Array(67, 66, 65), Array(2, 2, 1))
    // bit stream 0 | 10 | 11 → 65, 66, 67; packed MSB-first = 0101_1000
    val br = new BitReader(Array(0x58.toByte))
    assert(enc.read(br) === 65)
    assert(enc.read(br) === 66)
    assert(enc.read(br) === 67)
  }

  test("CF bit 0x8 reports SEQ as '*' instead of reference bases") {
    import CramForeign._
    // one mapped record, FN=0 (pure match run) against an embedded
    // reference — without CF 0x8 it would decode as the reference
    // bases; with it, samtools/htsjdk report '*'
    val h = CompHeader(apDelta = false, rnCaptured = true, refRequired = false,
      subMatrix = Array[Byte](0x1b, 0x1b, 0x1b, 0x1b, 0x1b),
      tagLines = Array(Array.empty[TagDef]),
      ds = Map(
        "BF" -> HuffmanEnc(Array(0), Array(0)),
        "CF" -> HuffmanEnc(Array(0xA), Array(0)), // detached + unknown SEQ
        "RL" -> HuffmanEnc(Array(4), Array(0)),
        "AP" -> HuffmanEnc(Array(10), Array(0)),
        "RG" -> HuffmanEnc(Array(-1), Array(0)),
        "RN" -> ByteArrayStopEnc(0, 1),
        "MF" -> HuffmanEnc(Array(0), Array(0)),
        "NS" -> HuffmanEnc(Array(-1), Array(0)),
        "NP" -> HuffmanEnc(Array(0), Array(0)),
        "TS" -> HuffmanEnc(Array(0), Array(0)),
        "TL" -> HuffmanEnc(Array(0), Array(0)),
        "FN" -> HuffmanEnc(Array(0), Array(0)),
        "MQ" -> HuffmanEnc(Array(60), Array(0))),
      tagEnc = Map.empty)
    val slice = SliceHeader(0, 10, 4, 1, Array(1, 2), 2)
    val ctx = new SliceCtx(new BitReader(Array[Byte](0)), Map(
      1 -> new ByteStream("r1".getBytes("US-ASCII") ++ Array[Byte](0)),
      2 -> new ByteStream("ACGT".getBytes("US-ASCII")))) // embedded ref
    val refs = Array(graft.model.SamRef("chr1", 100))
    val rec = decodeSlice(h, slice, ctx, refs, Array.empty,
      new RefSource(None, refs)).head
    assert(rec.cigar === "4M") // alignment detail still decodes
    assert(rec.seq === "*")    // but SEQ is reported unknown
    assert(rec.qual === "*")
  }
}
