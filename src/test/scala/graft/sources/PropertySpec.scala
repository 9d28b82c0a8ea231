package graft.sources

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{SamHeader, SamRecord, SamRef}

/** Property-based robustness: arbitrary payloads through BGZF,
  * generated records through the BAM codec, arbitrary split points
  * through the boundary guesser. */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling loop standing in for forAll (the
    * scalatest/scalacheck bridge artifact isn't in the offline cache). */
  private def forSamples[A](gen: Gen[A], n: Int = 150)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private val header = SamHeader(
    "@HD\tVN:1.6\n@SQ\tSN:c1\tLN:100000\n@SQ\tSN:c2\tLN:100000",
    Array(SamRef("c1", 100000), SamRef("c2", 100000)))
  private val refIdx = header.refs.map(_.name).zipWithIndex.toMap

  test("BGZF round-trips arbitrary byte payloads at arbitrary block sizes") {
    val gen = for {
      data <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
      blockSize <- Gen.choose(64, 60000)
    } yield (data, blockSize)
    forSamples(gen, 100) { case (data, blockSize) =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new Bgzf.BgzfOutputStream(bos, blockSize = math.min(blockSize, 0xff00))
      out.write(data)
      out.close()
      val in = new Bgzf.BgzfInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      val back = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      var r = in.read(buf)
      while (r > 0) { back.write(buf, 0, r); r = in.read(buf) }
      assert(back.toByteArray === data)
    }
  }

  private val genBase = Gen.oneOf('A', 'C', 'G', 'T', 'N')
  private val genQual = Gen.choose(33, 93).map(_.toChar)
  private val genRecord: Gen[SamRecord] = for {
    qlen <- Gen.choose(1, 20)
    qname <- Gen.listOfN(qlen, Gen.alphaNumChar).map(_.mkString)
    flag <- Gen.choose(0, 4095)
    rname <- Gen.oneOf("c1", "c2", "*")
    pos <- if (true) Gen.choose(1, 99000) else Gen.const(0)
    mapq <- Gen.choose(0, 254)
    seqLen <- Gen.choose(1, 60)
    seq <- Gen.listOfN(seqLen, genBase).map(_.mkString)
    qual <- Gen.listOfN(seqLen, genQual).map(_.mkString)
    nm <- Gen.choose(0, 100)
    tagStr <- Gen.listOfN(Gen.choose(0, 12).sample.getOrElse(4),
      Gen.alphaNumChar).map(_.mkString)
  } yield SamRecord(
    qname = if (qname.isEmpty) "q" else qname,
    flag = flag,
    rname = rname,
    pos = if (rname == "*") 0 else pos,
    mapq = mapq,
    cigar = if (rname == "*") "*" else s"${seqLen}M",
    rnext = "*", pnext = 0, tlen = 0,
    seq = seq, qual = qual,
    tags = Array(s"NM:i:$nm", s"XX:Z:$tagStr"))

  test("BAM codec round-trips generated records") {
    forSamples(genRecord, 300) { r =>
      val dec = BamCodec.decode(BamCodec.encode(r, refIdx), header.refs)
      assert(dec.qname === r.qname)
      assert(dec.flag === r.flag)
      assert(dec.rname === r.rname)
      assert(dec.pos === r.pos)
      assert(dec.seq === r.seq)
      assert(dec.qual === r.qual)
      assert(dec.tags.toSeq === r.tags.toSeq)
    }
  }

  test("ITF8/LTF8 round-trip arbitrary values") {
    forSamples(Gen.choose(Int.MinValue, Int.MaxValue), 300) { v =>
      val bos = new java.io.ByteArrayOutputStream()
      Cram.writeItf8(bos, v)
      assert(Cram.readItf8(new java.io.ByteArrayInputStream(bos.toByteArray)) === v)
    }
    forSamples(Gen.choose(Long.MinValue, Long.MaxValue), 300) { v =>
      val bos = new java.io.ByteArrayOutputStream()
      Cram.writeLtf8(bos, v)
      assert(Cram.readLtf8(new java.io.ByteArrayInputStream(bos.toByteArray)) === v)
    }
  }

  test("CSI binning invariants hold for arbitrary intervals and parameters") {
    val gen = for {
      minShift <- Gen.oneOf(12, 14, 16)
      depth <- Gen.choose(3, 7)
      // cover coordinates past 2^29 (where minShift+3*depth hits 32
      // and Int shifts would wrap) and past tree capacity (clamped)
      beg <- Gen.choose(0, Int.MaxValue - (1 << 21))
      len <- Gen.choose(1, 1 << 20)
    } yield (minShift, depth, beg, beg + len)
    forSamples(gen, 500) { case (ms, d, beg, end) =>
      val bin = BinIndex.reg2bin(beg, end, ms, d)
      val bins = BinIndex.reg2bins(beg, end, ms, d)
      // the assigned bin is among the overlapping bins
      assert(bins.contains(bin), s"bin $bin not in reg2bins [$beg,$end) ms=$ms d=$d")
      // the assigned bin's interval starts at or before the record
      assert(BinIndex.binStart(bin, ms, d) <= beg)
      // an in-capacity point query at beg must fetch the record's bin
      if (end.toLong <= (1L << (ms + 3 * d)))
        assert(BinIndex.reg2bins(beg, beg + 1, ms, d).contains(bin),
          s"point query at $beg misses bin $bin ms=$ms d=$d")
    }
  }

  test("CRAM block layer round-trips arbitrary payloads (raw + gzip)") {
    val gen = for {
      data <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
      method <- Gen.oneOf(CramIO.Raw, CramIO.Gzip)
      id <- Gen.choose(0, 1 << 20)
    } yield (data, method, id)
    forSamples(gen, 150) { case (data, method, id) =>
      val bos = new java.io.ByteArrayOutputStream()
      CramIO.writeBlock(bos, CramIO.Block(method, CramIO.External, id, data))
      val b = CramIO.readBlock(new java.io.ByteArrayInputStream(bos.toByteArray))
      assert(b.contentId === id)
      assert(b.data.toSeq === data.toSeq)
    }
  }

  private val genAllele = Gen.frequency(
    (8, Gen.choose(0, 3).map(_.toString)),
    (1, Gen.choose(4, 120).map(_.toString)),
    (1, Gen.const(".")))
  private val genGt: Gen[String] = for {
    ploidy <- Gen.choose(1, 4)
    alleles <- Gen.listOfN(ploidy, genAllele)
    seps <- Gen.listOfN(math.max(0, ploidy - 1), Gen.oneOf("/", "|"))
  } yield alleles.head + seps.zip(alleles.tail).map { case (s, a) => s + a }.mkString

  test("BCF genotype matrix round-trips generated GT/int/float matrices") {
    val genSample = for {
      gt <- genGt
      dp <- Gen.frequency((6, Gen.choose(0, 3000000).map(_.toString)), (1, Gen.const(".")))
      vafRaw <- Gen.choose(0, 1000)
      vaf <- Gen.oneOf(java.lang.Float.toString(vafRaw / 1000.0f), ".")
    } yield s"$gt:$dp:$vaf"
    val gen = for {
      n <- Gen.choose(1, 6)
      samples <- Gen.listOfN(n, genSample)
    } yield samples.toArray
    val fmtKeys = Array("GT", "DP", "VAF")
    val fmtIdx = fmtKeys.zipWithIndex.toMap
    forSamples(gen, 200) { samples =>
      val v = graft.model.VcfVariant("c1", 5L, "x", "A", Array("C"), None, "PASS",
        Array.empty, Array.empty, fmtKeys, samples)
      val indiv = Bcf.encodeIndiv(v, fmtIdx)
      val (fmt, back) = Bcf.decodeIndiv(indiv, fmtKeys, fmtKeys.length, samples.length)
      assert(fmt.toSeq === fmtKeys.toSeq)
      assert(back.toSeq === samples.toSeq)
    }
  }

  test("tabix bounded reads equal naive overlap filtering for arbitrary " +
    "sorted VCFs, intervals, and split sizes") {
    val genVcf: Gen[Seq[graft.model.VcfVariant]] = for {
      nContigs <- Gen.choose(1, 3)
      perContig <- Gen.listOfN(nContigs, Gen.choose(0, 150))
      recs <- Gen.sequence[Seq[Seq[graft.model.VcfVariant]], Seq[graft.model.VcfVariant]](
        perContig.zipWithIndex.map { case (n, ci) =>
          Gen.listOfN(n, for {
            pos <- Gen.choose(1, 50000)
            refLen <- Gen.frequency((8, Gen.choose(1, 3)), (2, Gen.choose(50, 400)))
            endInfo <- Gen.frequency((9, Gen.const(0)), (1, Gen.choose(500, 3000)))
          } yield (pos, refLen, endInfo)).map(_.sortBy(_._1).zipWithIndex.map {
            case ((pos, refLen, endInfo), i) =>
              graft.model.VcfVariant(s"c${ci + 1}", pos.toLong, s"v${ci}_$i",
                "A" * refLen, Array("C"), None, "PASS",
                if (endInfo > 0) Array("END") else Array.empty,
                if (endInfo > 0) Array((pos + endInfo).toString) else Array.empty,
                Array.empty, Array.empty)
          })
        })
    } yield recs.flatten

    val genQuery = for {
      nIv <- Gen.choose(1, 3)
      ivs <- Gen.listOfN(nIv, for {
        c <- Gen.choose(1, 3).map(i => s"c$i")
        s <- Gen.choose(1, 50000)
        w <- Gen.choose(0, 20000)
      } yield (c, s, s + w))
      splitSize <- Gen.oneOf(256L, 4096L, 1L << 20)
    } yield (ivs, splitSize)

    forSamples(Gen.zip(genVcf, Gen.listOfN(6, genQuery)), 25) { case (vs, queries) =>
      val dir = java.nio.file.Files.createTempDirectory("tbxprop").toString
      val f = s"$dir/t.vcf.bgz"
      val (fs, p) = Fs.get(f)
      val out = new Bgzf.BgzfOutputStream(fs.create(p, true), blockSize = 512)
      out.write("##fileformat=VCFv4.3\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        .getBytes("UTF-8"))
      vs.foreach(v => out.write((Vcf.formatLine(v) + "\n").getBytes("UTF-8")))
      out.close()
      Tabix.buildAndWriteVcf(f)
      queries.foreach { case (ivs, splitSize) =>
        val merged = Vcf.mergeIntervals(ivs)
        val naive = vs.filter { v =>
          merged.get(v.chrom).exists(_.exists { case (s, e) =>
            v.pos <= e && Vcf.spanEnd(v) >= s
          })
        }.map(_.id).sorted
        val indexed = Vcf.planBounded(f, ivs, splitSize) match {
          case Some(tasks) => tasks.flatMap(Vcf.openTask(_)._1).map(_.id)
          case None => fail("index written but planBounded returned None")
        }
        assert(indexed.length === indexed.distinct.length,
          s"duplicates across tasks (splitSize=$splitSize ivs=$ivs)")
        assert(indexed.sorted === naive,
          s"mismatch (splitSize=$splitSize ivs=$ivs)")
      }
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("packed k-grams decode back to the naive lowercase substrings") {
    val gen = for {
      k <- Gen.choose(1, 8)
      len <- Gen.choose(0, 200)
      text <- Gen.listOfN(len, Gen.frequency(
        (8, Gen.alphaNumChar), (2, Gen.oneOf(' ', '.', ',', '!')))).map(_.mkString)
    } yield (text, k)
    forSamples(gen, 200) { case (text, k) =>
      val packed = graft.functions.GraftFunctions.packGrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k)
        .toLongArray()
      val lower = text.toLowerCase
      val naive = (0 to lower.length - k).map(i => lower.substring(i, i + k))
      assert(packed.length === math.max(0, naive.length))
      packed.zip(naive).foreach { case (p, g) =>
        val decoded = new String((0 until k).map { j =>
          ((p >>> (8 * (k - 1 - j))) & 0xff).toByte
        }.toArray, java.nio.charset.StandardCharsets.UTF_8)
        assert(decoded === g)
      }
    }
  }

  test("BCF bounded reads equal naive overlap filtering under a CSI for " +
    "arbitrary sorted files and intervals") {
    val contigs = Array("c1", "c2")
    val filters = Array("PASS")
    val infoKeys = Array("DP")
    val genFile = for {
      perContig <- Gen.listOfN(2, Gen.choose(0, 120))
      recs <- Gen.sequence[Seq[Seq[graft.model.VcfVariant]], Seq[graft.model.VcfVariant]](
        perContig.zipWithIndex.map { case (n, ci) =>
          Gen.listOfN(n, for {
            pos <- Gen.choose(1, 40000)
            refLen <- Gen.frequency((8, Gen.choose(1, 3)), (2, Gen.choose(50, 500)))
          } yield (pos, refLen)).map(_.sortBy(_._1).zipWithIndex.map {
            case ((pos, refLen), i) =>
              graft.model.VcfVariant(contigs(ci), pos.toLong, s"v${ci}_$i",
                "A" * refLen, Array("C"), None, "PASS",
                Array("DP"), Array("7"), Array.empty, Array.empty)
          })
        })
    } yield recs.flatten
    val genQuery = for {
      c <- Gen.oneOf("c1", "c2", "c3")
      s <- Gen.choose(1, 40000)
      w <- Gen.choose(0, 15000)
      splitSize <- Gen.oneOf(512L, 1L << 20)
    } yield (Seq((c, s, s + w)), splitSize)

    forSamples(Gen.zip(genFile, Gen.listOfN(5, genQuery)), 20) { case (vs, queries) =>
      val dir = java.nio.file.Files.createTempDirectory("bcfprop").toString
      val f = s"$dir/t.bcf"
      Bcf.write(f, BcfIO.Dicts(contigs, filters, infoKeys).headerText,
        vs, contigs, filters, infoKeys)
      Csi.buildAndWriteBcf(f)
      val (fs, p) = Fs.get(f)
      val csi = Csi.read(fs, Csi.indexPath(p)).get
      val refIdOf = BcfIO.readDicts(f).contigs.zipWithIndex.toMap
      queries.foreach { case (ivs, splitSize) =>
        val merged = Vcf.mergeIntervals(ivs)
        val naive = vs.filter { v =>
          merged.get(v.chrom).exists(_.exists { case (s, e) =>
            v.pos <= e && v.pos + math.max(1, v.ref.length) - 1 >= s
          })
        }.map(_.id).sorted
        val parts = BcfIO.plan(f, ivs, exact = false, splitSize)
        val csiRanges = csi.ranges(ivs.flatMap { case (c, s, e) =>
          refIdOf.get(c).map(ri => (ri, s, e)) }, splitSize)
        assert(parts.collect { case b: v2.BcfPartition => (b.startVo, b.endVo) } === csiRanges,
          ".csi written but the plan does not follow it")
        val got = parts.flatMap(_.open(Vcf.AllFields)._1).filter { v =>
          merged.get(v.chrom).exists(_.exists { case (s, e) =>
            v.pos <= e && v.pos + math.max(1, v.ref.length) - 1 >= s
          })
        }.map(_.id)
        assert(got.length === got.distinct.length,
          s"duplicates (splitSize=$splitSize ivs=$ivs)")
        assert(got.sorted === naive, s"mismatch (splitSize=$splitSize ivs=$ivs)")
      }
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test(".fai region arithmetic equals naive substring for arbitrary " +
    "line widths, contig lengths, and query ranges") {
    val gen = for {
      nContigs <- Gen.choose(1, 4)
      geoms <- Gen.listOfN(nContigs, for {
        len <- Gen.choose(1, 900)
        lb <- Gen.choose(1, 97)
      } yield (len, lb))
      queries <- Gen.listOfN(8, for {
        c <- Gen.choose(0, nContigs - 1)
        a <- Gen.choose(-5, 920)
        w <- Gen.choose(0, 300)
      } yield (c, a.toLong, (a + w).toLong))
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (geoms, queries, seed)
    forSamples(gen, 60) { case (geoms, queries, seed) =>
      val rng = new scala.util.Random(seed)
      val seqs = geoms.map { case (len, _) =>
        (0 until len).map(_ => "ACGTN" (rng.nextInt(5))).mkString
      }
      val dir = java.nio.file.Files.createTempDirectory("faiprop")
      val f = s"$dir/r.fa"
      val content = seqs.zip(geoms).zipWithIndex.map { case ((sq, (_, lb)), i) =>
        s">c$i\n${sq.grouped(lb).mkString("\n")}"
      }.mkString("", "\n", "\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val entries = Fasta.buildAndWriteFai(f)
      assert(entries.map(_.length) === geoms.map(_._1.toLong))
      queries.foreach { case (c, a, b) =>
        val sq = seqs(c)
        val lo = math.max(1L, a).toInt
        val hi = math.min(sq.length.toLong, b).toInt
        val expect = if (hi < lo) "" else sq.substring(lo - 1, hi)
        assert(Fasta.region(f, s"c$c", a, b) === expect,
          s"c$c[$a,$b] geom=${geoms(c)}")
      }
      val _ = dir.toFile.listFiles.foreach(_.delete())
    }
  }

  test("record-boundary guesser finds a true boundary from any offset") {
    val records = (0 until 50).map(i => genRecord.sample.get)
    val bos = new java.io.ByteArrayOutputStream()
    val starts = scala.collection.mutable.ArrayBuffer[Int]()
    records.foreach { r =>
      starts += bos.size()
      val data = BamCodec.encode(r, refIdx)
      val len = data.length
      bos.write(len & 0xff); bos.write((len >> 8) & 0xff)
      bos.write((len >> 16) & 0xff); bos.write((len >> 24) & 0xff)
      bos.write(data)
    }
    val stream = bos.toByteArray
    forSamples(Gen.choose(0, stream.length - 200), 200) { off =>
      val guess = BamCodec.guessRecordStart(
        java.util.Arrays.copyOfRange(stream, off, stream.length), header.refs.length)
      if (guess >= 0) {
        assert(starts.contains(off + guess),
          s"offset $off guessed non-boundary ${off + guess}")
      }
    }
  }

  private val sortedHeader = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:100000\n@SQ\tSN:c2\tLN:100000",
    header.refs)

  /** A BAM of `recs` (in the given order) in 512-byte BGZF blocks, with
    * no graft sidecar index. */
  private def writeBam(f: String, recs: Seq[SamRecord]): Unit = {
    val (fs, p) = Fs.get(f)
    val out = new Bgzf.BgzfOutputStream(fs.create(p, true), blockSize = 512)
    BamCodec.writeHeader(out, sortedHeader)
    recs.foreach { r =>
      val b = BamCodec.encode(r, refIdx)
      out.write(Array(b.length, b.length >> 8, b.length >> 16, b.length >> 24).map(_.toByte))
      out.write(b)
    }
    out.close()
  }

  /** Coordinate-sorted placed reads on c1/c2 (some spliced across
    * kilobases), then unplaced unmapped ones. */
  private val genSortedBam: Gen[Seq[SamRecord]] = for {
    placed <- Gen.listOfN(2, Gen.choose(0, 300)).flatMap { ns =>
      Gen.sequence[Seq[Seq[SamRecord]], Seq[SamRecord]](ns.zipWithIndex.map { case (n, ci) =>
        Gen.listOfN(n, for {
          pos <- Gen.choose(1, 95000)
          len <- Gen.choose(10, 60)
          intron <- Gen.frequency((9, Gen.const(0)), (1, Gen.choose(1000, 4000)))
        } yield (pos, len, intron)).map(_.sortBy(_._1).zipWithIndex.map {
          case ((pos, len, intron), i) =>
            SamRecord(s"r${ci}_$i", 0, s"c${ci + 1}", pos, 60,
              if (intron > 0) s"${len / 2}M${intron}N${len - len / 2}M" else s"${len}M",
              "*", 0, 0, "A" * len, "I" * len, Array.empty)
        })
      })
    }
    nUnmapped <- Gen.choose(0, 20)
  } yield placed.flatten ++ (0 until nUnmapped).map(i =>
    SamRecord(s"u$i", 4, "*", 0, 0, "*", "*", 0, 0, "ACGT", "IIII", Array.empty))

  test("BAM bounded reads through a .bai or a .csi equal naive overlap " +
    "filtering for arbitrary sorted files, intervals and split sizes") {
    val genQuery = for {
      nIv <- Gen.choose(1, 3)
      ivs <- Gen.listOfN(nIv, for {
        c <- Gen.oneOf("c1", "c2", "c3")
        s <- Gen.choose(1, 100000)
        w <- Gen.choose(0, 30000)
      } yield (c, s, s + w))
      splitSize <- Gen.oneOf(512L, 4096L, 1L << 20)
      includeUnmapped <- Gen.oneOf(false, true)
    } yield (ivs, splitSize, includeUnmapped)

    forSamples(Gen.zip(genSortedBam, Gen.listOfN(5, genQuery)), 20) { case (recs, queries) =>
      val dir = java.nio.file.Files.createTempDirectory("bamprop").toString
      val f = s"$dir/t.bam"
      val (fs, p) = Fs.get(f)
      writeBam(f, recs)
      Seq[String => Unit](Bai.buildAndWrite, Csi.buildAndWrite(_)).foreach { build =>
        fs.delete(Bai.indexPath(p), false)
        fs.delete(Csi.indexPath(p), false)
        build(f)
        queries.foreach { case (ivs, splitSize, includeUnmapped) =>
          val naive = recs.filter { r =>
            ivs.exists { case (c, s, e) => r.rname == c && r.pos <= e && r.end >= s } ||
              (includeUnmapped && r.rname == "*")
          }.map(_.qname).sorted
          val got = BamIO.plan(f, splitSize, includeUnmapped, exact = true)(_ => ivs)
            .flatMap(_.open(BamCodec.AllFields)._1).map(_.qname)
          assert(got.length === got.distinct.length,
            s"duplicates (splitSize=$splitSize ivs=$ivs unmapped=$includeUnmapped)")
          assert(got.sorted === naive,
            s"mismatch (splitSize=$splitSize ivs=$ivs unmapped=$includeUnmapped)")
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("a whole-contig BAM read through a .bai or a .csi spreads over " +
    "splitSize partitions") {
    val dir = java.nio.file.Files.createTempDirectory("bamsplit").toString
    val f = s"$dir/t.bam"
    val (fs, p) = Fs.get(f)
    writeBam(f, (0 until 400).map(i => SamRecord(s"r$i", 0, "c1", 1 + i * 240, 60, "50M",
      "*", 0, 0, "A" * 50, "I" * 50, Array.empty)))
    Seq[String => Unit](Bai.buildAndWrite, Csi.buildAndWrite(_)).foreach { build =>
      fs.delete(Bai.indexPath(p), false)
      fs.delete(Csi.indexPath(p), false)
      build(f)
      val parts = BamIO.plan(f, 512L, includeUnmapped = false, exact = true)(
        _ => Seq(("c1", 1, 100000)))
      assert(parts.length > 1, s"one partition for a whole contig at a 512 B split")
      assert(parts.flatMap(_.open(BamCodec.AllFields)._1).map(_.qname).sorted ===
        (0 until 400).map(i => s"r$i").sorted)
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  /** `file` as the BGZF record sinks write it: one shard per group of
    * `shards`, merged behind the header with its `.sidx`. */
  private def writeShards[R](file: String, codec: BgzfRecords.Codec[R], shards: Seq[Seq[R]],
                             granularity: Int): Unit = {
    val tmp = s"$file.shards"
    BgzfRecords.merge(file, codec, tmp, shards.zipWithIndex.map { case (rs, pid) =>
      val w = new BgzfRecords.ShardWriter(Fs.partPath(tmp, pid, codec.ext), codec,
        granularity, pid)
      rs.foreach(w.write)
      w.finish()
    }, granularity)
  }

  test("a truncated or byte-flipped .bai/.csi/.tbi reads back equal or " +
    "fails naming its path, never exhausting memory or hanging") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = java.nio.file.Files.createTempDirectory("idxcorrupt").toString
    // graft-built indexes over small generated files, and htslib's .tbi
    val bam = s"$dir/t.bam"
    writeBam(bam, genSortedBam.apply(Gen.Parameters.default, Seed(7L)).get)
    Bai.buildAndWrite(bam)
    Csi.buildAndWrite(bam)
    val bcf = s"$dir/t.bcf"
    val contigs = Array("c1", "c2")
    Bcf.write(bcf, BcfIO.Dicts(contigs, Array("PASS"), Array("DP")).headerText,
      (0 until 300).map(i => graft.model.VcfVariant(contigs(i / 150), 1L + (i % 150) * 300,
        s"v$i", "A" * (1 + i % 40), Array("C"), None, "PASS", Array("DP"), Array("7"),
        Array.empty, Array.empty)), contigs, Array("PASS"), Array("DP"))
    Csi.buildAndWriteBcf(bcf)
    // graft-written .sidx files: BAM in two shards, BCF in three
    val sharded = genSortedBam.apply(Gen.Parameters.default, Seed(8L)).get
    writeShards(s"$dir/s.bam", BamIO.RecordCodec(sortedHeader),
      Seq(sharded.take(sharded.length / 2), sharded.drop(sharded.length / 2)), 16)
    val sites = (0 until 300).map(i => graft.model.VcfVariant(contigs(i / 150),
      1L + (i % 150) * 300, s"v$i", "A", Array("C"), None, "PASS", Array("DP"), Array("7"),
      Array.empty, Array.empty))
    writeShards(s"$dir/s.bcf", BcfIO.RecordCodec(BcfIO.Dicts(contigs, Array("PASS"),
      Array("DP"))), sites.grouped(100).toSeq, 16)
    val vcf = s"$dir/t.vcf.bgz"
    val (fs, _) = Fs.get(vcf)
    val out = new Bgzf.BgzfOutputStream(fs.create(new org.apache.hadoop.fs.Path(vcf), true),
      blockSize = 512)
    out.write("##fileformat=VCFv4.3\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
      .getBytes("UTF-8"))
    (0 until 300).foreach(i => out.write(
      s"c${1 + i / 150}\t${1 + (i % 150) * 300}\tv$i\tA\tC\t.\tPASS\tEND=${(i % 150) * 300 + 900}\n"
        .getBytes("UTF-8")))
    out.close()
    Tabix.buildAndWriteVcf(vcf)
    val htslib = getClass.getClassLoader.getResource("HiSeq.10000.vcf.bgz.tbi").getFile

    def canon(b: BinIndex.Index): Any = (b.minShift, b.depth,
      b.refs.toSeq.map(r => (r.bins, r.linear.toSeq, r.loffsets)))
    def tabix(p: org.apache.hadoop.fs.Path): Option[Any] = Tabix.read(fs, p).map(t =>
      (t.format, t.colSeq, t.colBeg, t.colEnd, t.meta, t.skip, t.names, t.nNoCoor, canon(t.binning)))
    def sidx(p: org.apache.hadoop.fs.Path): Option[Any] = SplittingIndex.read(fs, p).map(i =>
      (i.granularity, i.entries.toSeq, i.endVo, i.maxSpan))
    val cases: Seq[(String, org.apache.hadoop.fs.Path => Option[Any])] = Seq(
      (s"$dir/s.bam.sidx", sidx),
      (s"$dir/s.bcf.sidx", sidx),
      (s"$bam.bai", p => Bai.read(fs, p).map(canon)),
      (s"$bam.csi", p => Csi.read(fs, p).map(canon)),
      (s"$bcf.csi", p => Csi.read(fs, p).map(canon)),
      (s"$vcf.tbi", tabix),
      (htslib, tabix))
    cases.zipWithIndex.foreach { case ((file, read), ci) =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
      val original = read(new org.apache.hadoop.fs.Path(file)).get
      val gen = Gen.oneOf(
        Gen.choose(0, bytes.length - 1).map(n => (s"truncated to $n", bytes.take(n), true)),
        for {
          at <- Gen.choose(0, bytes.length - 1)
          mask <- Gen.choose(1, 255)
        } yield {
          val b = bytes.clone()
          b(at) = (b(at) ^ mask).toByte
          (s"byte $at ^ $mask", b, false)
        })
      forSamples(gen, 80) { case (what, mutated, truncated) =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/m$ci-${file.split('.').last}")
        java.nio.file.Files.write(java.nio.file.Paths.get(p.toString), mutated)
        try {
          val got = try Await.result(Future(read(p)), 60.seconds) catch {
            case _: java.util.concurrent.TimeoutException => fail(s"$file $what: no answer in 60 s")
          }
          // a flipped bit may land in a value no layout can check (a
          // virtual offset); a cut file must read whole or fail
          if (truncated) assert(got === Some(original), s"$file $what")
        } catch {
          case e: java.io.IOException =>
            assert(e.getMessage.contains(p.toString), s"$file $what: $e")
        }
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }
}
