package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef}

class BamSpec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:10000\n@SQ\tSN:chr2\tLN:8000",
    Array(SamRef("chr1", 10000), SamRef("chr2", 8000)))

  private def mkRecord(i: Int): SamRecord = {
    val contig = if (i % 3 == 2) "chr2" else "chr1"
    val pos = 1 + (i * 37) % 9000
    SamRecord(
      qname = s"read$i", flag = (i * 13) % 4096, rname = contig, pos = pos,
      mapq = i % 60, cigar = s"${10 + i % 20}M${i % 5}S",
      rnext = if (i % 4 == 0) "=" else "*",
      pnext = if (i % 4 == 0) pos + 50 else 0,
      tlen = if (i % 4 == 0) 100 else 0,
      seq = ("ACGT" * 10).take(10 + i % 20 + i % 5),
      qual = ("IIIIFFFF@@" * 4).take(10 + i % 20 + i % 5),
      tags = Array(s"NM:i:${i % 9}", "PG:Z:graft", s"AS:i:${i % 100}"))
  }

  private val records = (0 until 500).map(mkRecord)

  private def fields(r: SamRecord) =
    (r.qname, r.flag, r.rname, r.pos, r.mapq, r.cigar, r.rnext, r.pnext,
      r.tlen, r.seq, r.qual, r.tags.toSeq)
  // coordinate order as written (sorted by refIdx, pos)
  private val sorted = records.sortBy(r => (if (r.rname == "chr1") 0 else 1, r.pos, r.qname))

  test("record codec round-trips all field types") {
    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    val exotic = SamRecord("q*1", 77, "*", 0, 0, "*", "*", 0, -150, "*", "*",
      Array("XA:A:c", "XF:f:1.5", "XH:H:1AFF", "XB:B:c,1,-2,3", "XI:B:f,0.5,1.5",
        "XU:i:3000000000"))
    for (r <- records.take(50) :+ exotic) {
      val enc = BamCodec.encode(r, refIdx)
      val dec = BamCodec.decode(enc, header.refs)
      assert(fields(dec) === fields(r))
    }
  }

  test("pruned decode skips fields byte-exactly (lazy-decode masks)") {
    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    for (r <- records.take(50)) {
      val enc = BamCodec.encode(r, refIdx)
      // every single-field mask yields that field decoded, the other
      // variable-width fields as placeholders, fixed fields always on
      val full = BamCodec.decode(enc, header.refs)
      val none = BamCodec.decode(enc, header.refs, 0)
      assert((none.flag, none.rname, none.pos, none.mapq, none.rnext,
        none.pnext, none.tlen) ===
        ((full.flag, full.rname, full.pos, full.mapq, full.rnext,
          full.pnext, full.tlen)))
      assert(none.qname === "*" && none.cigar === "*" && none.seq === "*"
        && none.qual === "*" && none.tags.isEmpty)
      val nameOnly = BamCodec.decode(enc, header.refs, BamCodec.FName)
      assert(nameOnly.qname === full.qname && nameOnly.seq === "*")
      val tagsOnly = BamCodec.decode(enc, header.refs, BamCodec.FTags)
      assert(tagsOnly.tags.toSeq === full.tags.toSeq && tagsOnly.qname === "*")
      val sq = BamCodec.decode(enc, header.refs, BamCodec.FSeq | BamCodec.FQual)
      assert(sq.seq === full.seq && sq.qual === full.qual && sq.cigar === "*")
    }
  }

  test("typed read with a columns subset matches the full read on those columns") {
    import spark.implicits._
    val dir = tmpDir("bam_lazy")
    val file = s"$dir/lazy.bam"
    BamIO.writeSorted(spark.createDataset(sorted), header, file)
    val full = BamIO.read(spark, file).collect().sortBy(_.qname)
    val pruned = BamIO.read(spark, file, columns = Seq("qname", "pos"))
      .collect().sortBy(_.qname)
    assert(pruned.map(r => (r.qname, r.rname, r.pos, r.flag)).toSeq ===
      full.map(r => (r.qname, r.rname, r.pos, r.flag)).toSeq)
    assert(pruned.forall(r => r.seq == "*" && r.qual == "*" && r.tags.isEmpty))
    // interval reads force the CIGAR into the mask (overlap needs end)
    val iv = BamIO.read(spark, file, intervals = Seq(("chr1", 100, 500)),
      columns = Seq("qname")).collect()
    val ivFull = BamIO.read(spark, file, intervals = Seq(("chr1", 100, 500)))
      .collect()
    assert(iv.map(_.qname).sorted.toSeq === ivFull.map(_.qname).sorted.toSeq)
    // DSv2: the pruned schema drives the same byte-level mask
    val v2 = spark.read.format("bam").load(file)
      .select("qname", "pos").as[(String, Int)].collect().sorted
    assert(v2.toSeq === full.map(r => (r.qname, r.pos)).sortBy(_._1).toSeq)
  }

  test("packed sort key writes coordinate order, no record lost") {
    // writeSorted orders by refIdx*2^32 + (pos + 2^31) — an injective
    // image of (refIdx ASC, pos ASC): the file must hold the records in
    // coordinate order (ties in any order) and exactly the input
    // multiset.  Input is unsorted and tie-heavy (every record
    // duplicated at the same coordinate).
    import spark.implicits._
    val dir = tmpDir("bam_packed_sort")
    val tied = records ++ records.map(r => r.copy(qname = r.qname + "b"))
    val shuffled = new scala.util.Random(5).shuffle(tied)
    val file = s"$dir/sorted.bam"
    BamIO.writeSorted(spark.createDataset(shuffled).repartition(8), header, file)
    // single-split read preserves file order
    val back = BamIO.read(spark, file, splitSize = 1L << 30).collect().toSeq
    def coord(r: SamRecord) = (if (r.rname == "chr1") 0 else 1, r.pos)
    assert(back.map(coord) === tied.map(coord).sorted, "file not coordinate-sorted")
    assert(back.map(fields).sortBy(_.toString) ===
      tied.map(fields).sortBy(_.toString), "record loss/corruption")
  }

  test("header round-trips") {
    val bos = new java.io.ByteArrayOutputStream()
    BamCodec.writeHeader(bos, header)
    val h2 = BamCodec.readHeader(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(h2.text === header.text)
    assert(h2.refs.toSeq === header.refs.toSeq)
  }

  test("write + read round-trips through a real BAM file with index") {
    import spark.implicits._
    val dir = tmpDir("bam")
    val file = s"$dir/test.bam"
    val ds = spark.createDataset(sorted).repartition(4)
    BamIO.write(ds, header, file, granularity = 50)
    assert(new java.io.File(file).exists())
    assert(new java.io.File(file + ".sidx").exists())
    val back = BamIO.read(spark, file).collect()
    // set equality (task order is nondeterministic)
    assert(back.toSet.map((r: SamRecord) => r.qname) === sorted.map(_.qname).toSet)
    assert(back.length === sorted.length)
    val byName = back.map(r => r.qname -> r).toMap
    sorted.foreach { r =>
      val b = byName(r.qname)
      assert(fields(b) === fields(r))
    }
  }

  /** (refId, pos0) stored in the record that starts at virtual offset
    * `vo`: the two int32s after `skip` bytes of length prefix (BAM:
    * block_size; BCF: l_shared + l_indiv). */
  private def keyAt(file: String, vo: Long, skip: Int): (Int, Int) = {
    val (fs, p) = Fs.get(file)
    val raw = fs.open(p)
    raw.seek(Bgzf.voCompressed(vo))
    val in = new Bgzf.BgzfInputStream(raw, Bgzf.voCompressed(vo))
    try {
      in.seekInBlock(Bgzf.voUncompressed(vo))
      val b = new Array[Byte](skip + 8)
      new java.io.DataInputStream(in).readFully(b)
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (bb.getInt(skip), bb.getInt(skip + 4))
    } finally in.close()
  }

  test("splitting-index entries name their records (BAM and BCF, 3 shards)") {
    import spark.implicits._
    val dir = tmpDir("sidx_keys")
    val g = 16
    // every shard's entries are its records 0, g, 2g, ... in write order
    def expected[T](shards: Array[Array[T]])(key: T => (Int, Int)): Seq[(Int, Int)] =
      shards.toSeq.flatMap(sh => sh.indices.by(g).map(i => key(sh(i))))
    def check(file: String, want: Seq[(Int, Int)], skip: Int): Unit = {
      val (fs, p) = Fs.get(file)
      val idx = SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get
      assert(idx.granularity === g)
      assert(idx.entries.map(e => (e.refId, e.pos)).toSeq === want, file)
      idx.entries.foreach { e =>
        assert(Bgzf.voUncompressed(e.vo) === 0, s"$file: entry not block-aligned")
        assert(keyAt(file, e.vo, skip) === ((e.refId, e.pos)), s"$file @ ${e.vo}")
      }
    }

    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    val bamRdd = spark.sparkContext.parallelize(sorted, 3)
    val bamShards = bamRdd.glom().collect()
    assert(bamShards.length === 3 && bamShards.forall(_.length > g))
    val bam = s"$dir/t.bam"
    BamIO.write(spark.createDataset(bamRdd), header, bam, granularity = g)
    check(bam, expected(bamShards)(r => (refIdx(r.rname), r.pos - 1)), skip = 4)

    val dicts = BcfIO.Dicts(Array("c1", "c2"), Array("PASS"), Array("DP"))
    val variants = (0 until 300).map { i =>
      graft.model.VcfVariant(if (i < 150) "c1" else "c2", 10L + (i % 150) * 7, s"v$i",
        if (i % 29 == 0) "A" * 300 else "A", Array("C"), Some(9.0), "PASS",
        Array("DP"), Array(s"${i % 70}"), Array.empty, Array.empty)
    }
    val bcfRdd = spark.sparkContext.parallelize(variants, 3)
    val bcfShards = bcfRdd.glom().collect()
    assert(bcfShards.length === 3 && bcfShards.forall(_.length > g))
    val bcf = s"$dir/t.bcf"
    BcfIO.write(spark.createDataset(bcfRdd), dicts, bcf, granularity = g)
    check(bcf, expected(bcfShards)(v => (dicts.contigs.indexOf(v.chrom), v.pos.toInt - 1)),
      skip = 8)
  }

  test("read honors small split sizes (multi-range) identically") {
    import spark.implicits._
    val dir = tmpDir("bam2")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(sorted).repartition(3), header, file, granularity = 25)
    val whole = BamIO.read(spark, file, splitSize = 1L << 30).collect().map(_.qname).sorted
    val split = BamIO.read(spark, file, splitSize = 2048).collect().map(_.qname).sorted
    assert(split === whole)
  }

  test("read without sidecar index falls back to split guessing") {
    import spark.implicits._
    val dir = tmpDir("bam3")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(sorted).repartition(2), header, file)
    val (fs, p) = Fs.get(file)
    fs.delete(SplittingIndex.indexPath(p), false)
    val back = BamIO.read(spark, file, splitSize = 4096).collect()
    assert(back.map(_.qname).sorted === sorted.map(_.qname).sorted.toArray)
  }

  test("interval read returns exactly the overlapping records") {
    import spark.implicits._
    val dir = tmpDir("bam4")
    val file = s"$dir/t.bam"
    // write coordinate-sorted so chunk pruning is active
    val ds = spark.createDataset(sorted).coalesce(1)
    BamIO.write(ds, header, file, granularity = 40)
    val iv = Seq(("chr1", 2000, 3000))
    val got = BamIO.read(spark, file, intervals = iv, splitSize = 4096)
      .collect().map(_.qname).sorted
    val expect = sorted.filter(r => r.rname == "chr1" && r.pos <= 3000 && r.end >= 2000)
      .map(_.qname).sorted.toArray
    assert(got === expect)
  }

  test("interval pruning keeps long reads that start before the interval") {
    import spark.implicits._
    // regression: chunk pruning by record-START keys must not drop a
    // read whose span reaches into the interval from far upstream
    val recs = (
      SamRecord("long1", 0, "chr1", 100, 60, "5000M", "*", 0, 0, "*", "*", Array.empty) +:
      (0 until 300).map(i => SamRecord(s"s$i", 0, "chr1", 1 + i * 30, 60, "20M",
        "*", 0, 0, "ACGTACGTACGTACGTACGT", "IIIIIIIIIIIIIIIIIIII", Array.empty))
    ).sortBy(_.pos)
    val dir = tmpDir("bamlong")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(recs).coalesce(1), header, file, granularity = 20)
    val got = BamIO.read(spark, file, intervals = Seq(("chr1", 4000, 4500)), splitSize = 512)
      .collect().map(_.qname).sorted
    val expect = recs.filter(r => r.rname == "chr1" && r.pos <= 4500 && r.end >= 4000)
      .map(_.qname).sorted.toArray
    assert(expect.contains("long1"))
    assert(got === expect)
  }

  test("splitting index stores monotonic virtual offsets") {
    import spark.implicits._
    val dir = tmpDir("bam5")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(sorted).repartition(4), header, file, granularity = 100)
    val (fs, _) = Fs.get(file)
    val idx = SplittingIndex.read(fs, new Path(file + ".sidx")).get
    assert(idx.granularity === 100)
    assert(idx.entries.nonEmpty)
    assert(idx.entries.map(_.vo).toSeq === idx.entries.map(_.vo).sorted.toSeq)
    assert(idx.entries.last.vo < idx.endVo)
  }

  private val longHeader = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:2000000",
    Array(SamRef("chr1", 2000000)))

  test("sidecar index records the file-wide max read span (v2)") {
    import spark.implicits._
    val recs = Seq(
      SamRecord("spliced", 0, "chr1", 100, 60, "20M1000000N20M", "*", 0, 0, "*", "*", Array.empty),
      SamRecord("short", 0, "chr1", 500, 60, "20M", "*", 0, 0, "*", "*", Array.empty))
    val dir = tmpDir("bamspan")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(recs).coalesce(1), longHeader, file)
    val (fs, _) = Fs.get(file)
    val idx = SplittingIndex.read(fs, new Path(file + ".sidx")).get
    assert(idx.maxSpan === 1000040) // 20M + 1M N + 20M reference span
  }

  test("unsorted rows under a coordinate header get an unprunable .sidx (typed and format(\"bam\") writes)") {
    import spark.implicits._
    // the header says SO:coordinate, the rows are not: the sidecar must
    // not let the planner prune on the header's word
    val dir = tmpDir("bam_unsorted_coord")
    val donor = s"$dir/donor.bam"
    BamIO.writeSorted(spark.createDataset(records), header, donor)
    assert(BamIO.readHeader(donor).sortOrder === "coordinate")
    val shuffled = new scala.util.Random(11).shuffle(records)
    val typed = s"$dir/typed.bam"
    BamIO.write(spark.createDataset(shuffled).repartition(3), header, typed, granularity = 20)
    val sql = s"$dir/sql.bam"
    spark.createDataset(shuffled).repartition(3).write.format("bam")
      .option("header", donor).option("granularity", "20").mode("overwrite").save(sql)
    val ivs = Seq(("chr1", 2000, 3000), ("chr2", 100, 700), ("chr1", 8500, 9100))
    val brute = records.filter(r => ivs.exists { case (c, s, e) =>
      r.rname == c && r.pos <= e && r.end >= s }).map(_.qname).sorted
    assert(brute.nonEmpty)
    def readIvs(f: String): Seq[String] =
      BamIO.read(spark, f, intervals = ivs, splitSize = 2048).collect().map(_.qname).sorted.toSeq
    Seq(typed, sql).foreach { f =>
      val (fs, p) = Fs.get(f)
      assert(BamIO.readHeader(f).sortOrder === "coordinate", f)
      assert(SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get.maxSpan === -1, f)
      assert(readIvs(f) === brute, f)
      // no binning index can exist over unsorted records
      intercept[IllegalArgumentException](Bai.buildAndWrite(f))
    }
    // the same rows written sorted keep their span; interval reads
    // match through the .sidx alone and with a .bai beside it
    val sorted = s"$dir/sorted.bam"
    BamIO.writeSorted(spark.createDataset(shuffled).repartition(3), header, sorted, granularity = 20)
    val (fs, p) = Fs.get(sorted)
    assert(SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get.maxSpan > 0)
    assert(readIvs(sorted) === brute)
    Bai.buildAndWrite(sorted)
    assert(readIvs(sorted) === brute)
  }

  test("a .sidx span over unsorted rows under SO:unsorted never prunes (older sidecars)") {
    import spark.implicits._
    // .sidx files written before the writer checked record order carry
    // a span whatever the rows; under a header that does not claim
    // coordinate order the planner must not prune on it
    val dir = tmpDir("bam_unsorted_span")
    val unsortedHeader = SamHeader(header.text.replace("SO:coordinate", "SO:unsorted"), header.refs)
    val f = s"$dir/u.bam"
    BamIO.write(spark.createDataset(new scala.util.Random(13).shuffle(records)).repartition(3),
      unsortedHeader, f, granularity = 20)
    assert(BamIO.readHeader(f).sortOrder === "unsorted")
    val (fs, p) = Fs.get(f)
    val idx = SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get
    assert(idx.maxSpan === -1)
    val span = records.map(r => r.end - r.pos + 1).max
    SplittingIndex.write(fs, SplittingIndex.indexPath(p), idx.granularity, idx.entries.toSeq,
      idx.endVo, span)
    assert(SplittingIndex.read(fs, SplittingIndex.indexPath(p)).get.maxSpan === span)
    val ivs = Seq(("chr1", 2000, 3000), ("chr2", 100, 700), ("chr1", 8500, 9100))
    val brute = records.filter(r => ivs.exists { case (c, s, e) =>
      r.rname == c && r.pos <= e && r.end >= s }).map(_.qname).sorted
    assert(brute.nonEmpty)
    assert(BamIO.read(spark, f, intervals = ivs, splitSize = 2048).collect().map(_.qname)
      .sorted.toSeq === brute)
  }

  test("bounded traversal returns unplaced-unmapped only when asked (sidecar + bai)") {
    import spark.implicits._
    val mapped = (0 until 200).map(i => SamRecord(s"m$i", 0, "chr1", 1 + i * 40, 60,
      "20M", "*", 0, 0, "ACGTACGTACGTACGTACGT", "IIIIIIIIIIIIIIIIIIII", Array.empty))
    val unmapped = (0 until 15).map(i => SamRecord(s"u$i", 4, "*", 0, 0, "*", "*", 0, 0,
      "ACGT", "IIII", Array.empty))
    val dir = tmpDir("bamunm")
    val file = s"$dir/t.bam"
    // coordinate order: mapped then the unmapped tail
    BamIO.write(spark.createDataset(mapped ++ unmapped).coalesce(1), header, file,
      granularity = 30)
    val iv = Seq(("chr1", 1000, 2000))
    val without = BamIO.read(spark, file, intervals = iv).collect().map(_.qname)
    assert(!without.exists(_.startsWith("u")))
    val withU = BamIO.read(spark, file, intervals = iv, includeUnmapped = true)
      .collect().map(_.qname)
    assert(withU.count(_.startsWith("u")) === 15)
    assert(withU.filterNot(_.startsWith("u")).sorted === without.sorted)
    // same semantics through the foreign .bai path
    val (fs, p) = Fs.get(file)
    Bai.buildAndWrite(file)
    fs.delete(SplittingIndex.indexPath(p), false)
    val baiWith = BamIO.read(spark, file, intervals = iv, includeUnmapped = true)
      .collect().map(_.qname)
    assert(baiWith.sorted === withU.sorted)
    val baiWithout = BamIO.read(spark, file, intervals = iv).collect().map(_.qname)
    assert(baiWithout.sorted === without.sorted)
  }

  test("writeAlignments dispatches on extension for sam/bam/cram round-trips") {
    import spark.implicits._
    val recs = (0 until 120).map(mkRecord)
    val dir = tmpDir("anywrite")
    Seq("t.bam", "t.cram", "t.sam").foreach { fname =>
      val path = s"$dir/$fname"
      GraftIO.writeAlignments(spark.createDataset(recs).repartition(3), header, path)
      val back = GraftIO.readAlignments(spark, path).collect()
      assert(back.length === 120, fname)
      assert(back.map(_.qname).sorted === recs.map(_.qname).sorted.toArray, fname)
    }
    intercept[IllegalArgumentException](
      GraftIO.writeAlignments(spark.createDataset(recs), header, s"$dir/t.xyz"))
  }

  test("megabase-spliced read upstream of interval is never pruned away") {
    import spark.implicits._
    // The spliced read starts ~1Mb before the interval — far beyond any
    // fixed pad guess — and must still be returned (v2 index pads by
    // the recorded file-wide max span).
    val recs = (
      SamRecord("spliced", 0, "chr1", 100, 60, "20M1000000N20M", "*", 0, 0, "*", "*", Array.empty) +:
      (0 until 400).map(i => SamRecord(s"s$i", 0, "chr1", 1 + i * 2500, 60, "20M",
        "*", 0, 0, "ACGTACGTACGTACGTACGT", "IIIIIIIIIIIIIIIIIIII", Array.empty))
    ).sortBy(_.pos)
    val dir = tmpDir("bamsplice")
    val file = s"$dir/t.bam"
    BamIO.write(spark.createDataset(recs).coalesce(1), longHeader, file, granularity = 20)
    val iv = Seq(("chr1", 1000000, 1000200))
    val got = BamIO.read(spark, file, intervals = iv, splitSize = 512)
      .collect().map(_.qname).sorted
    val expect = recs.filter(r => r.rname == "chr1" && r.pos <= 1000200 && r.end >= 1000000)
      .map(_.qname).sorted.toArray
    assert(expect.contains("spliced"))
    assert(got === expect)
  }
}
