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

  /** Records per data container, decoded one container at a time. */
  private def containerRecords(f: String): Seq[(Cram.Container, Seq[SamRecord])] = {
    val refs = CramIO.readHeader(f).refs
    val data = Cram.enumerateContainers(f).filter(c => c.nRecords > 0 && c.startPos != 4542278)
    val meta = CramIO.detectMeta(f, data.headOption.map(_.offset))
    data.map(c => (c, CramIO.readGroup(f, Seq(c.offset), refs, meta)))
  }

  private def crai(f: String): Seq[Crai.Entry] = {
    val (fs, p) = Fs.get(f)
    Crai.read(fs, Crai.indexPath(p)).get
  }

  /** The written `.crai` against the records themselves: one line per
    * slice, per reference of a multi-reference slice, whose spans
    * together are exactly each reference's record span in the
    * container; `oneSlice` for the graft profile's one-slice
    * containers. */
  private def checkLines(f: String, oneSlice: Boolean): Seq[Crai.Entry] = {
    val idx = crai(f)
    val refIdx = CramIO.readHeader(f).refs.map(_.name).zipWithIndex.toMap
    val byContainer = containerRecords(f)
    assert(idx.map(_.containerOffset).distinct.sorted === byContainer.map(_._1.offset))
    assert(!idx.exists(_.seqId == -2), "a line without a reference")
    byContainer.foreach { case (c, recs) =>
      val lines = idx.filter(_.containerOffset == c.offset)
      val byRef = recs.groupBy(r => refIdx.getOrElse(r.rname, -1))
      assert(lines.map(_.seqId).distinct.sorted === byRef.keys.toSeq.sorted, s"container ${c.offset}")
      byRef.foreach { case (ri, rs) =>
        val placed = rs.filter(r => ri >= 0 && r.pos > 0)
        val ls = lines.filter(_.seqId == ri)
        if (placed.isEmpty) assert(ls.forall(_.span == 0))
        else {
          assert(ls.forall(_.span > 0), s"container ${c.offset} ref $ri: $ls")
          assert(ls.map(_.start).min === placed.map(_.pos).min, s"container ${c.offset} ref $ri")
          assert(ls.map(l => l.start + l.span - 1).max === placed.map(r => math.max(r.end, r.pos)).max,
            s"container ${c.offset} ref $ri")
        }
      }
      val slices = lines.map(_.sliceOffset).distinct
      assert(slices.min === c.landmark)
      assert(lines.map(l => l.sliceOffset + l.sliceSize).max === c.length)
      assert(lines.forall(_.sliceSize > 0))
      if (oneSlice) {
        assert(slices.length === 1)
        assert(lines.length === byRef.size)
      } else assert(slices.length <= 2)
    }
    idx
  }

  test("write drops a .crai matching the container walk") {
    // one line per slice, per reference of a multi-reference slice, at
    // the walk's container offsets and landmarks, spanning exactly the
    // records each container decodes to
    val idx = checkLines(cram, oneSlice = true)
    assert(idx.length > 3, s"expected several containers, got ${idx.length}")
    // sorted input: the one container crossing c1 -> c2 has a line for each
    assert(idx.groupBy(_.containerOffset).values.count(_.length == 2) === 1)
    Seq("graft", "spec", "spec31").foreach { profile =>
      val f = threeContigs(profile)
      val lines = checkLines(f, oneSlice = profile == "graft")
      // shards cross contig boundaries, so some container holds two refs
      assert(lines.groupBy(_.containerOffset).values.exists(_.map(_.seqId).distinct.length > 1),
        s"$profile: no multi-reference container")
    }
  }

  // ------------------------------- three contigs, several partitions

  private val header3 = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000000\n@SQ\tSN:c2\tLN:1000000" +
      "\n@SQ\tSN:c3\tLN:1000000",
    Array(SamRef("c1", 1000000), SamRef("c2", 1000000), SamRef("c3", 1000000)))

  /** 3000 sorted reads per contig, and 40 unplaced ones at the end. */
  private val recs3: Seq[SamRecord] =
    Seq("c1", "c2", "c3").flatMap { c =>
      (0 until 3000).map(i => SamRecord(s"$c.$i", if (i % 7 == 0) 16 else 0, c, 500 + i * 90,
        60, if (i % 11 == 0) "40M5D60M" else "100M", "*", 0, 0, "ACGT" * 25, "I" * 100,
        Array(s"NM:i:${i % 3}")))
    } ++ (0 until 40).map(i => SamRecord(s"u$i", 4, "*", 0, 0, "*", "*", 0, 0,
      "ACGT" * 25, "I" * 100, Array.empty))

  private val threeContigFiles = scala.collection.mutable.Map[String, String]()

  /** `recs3` written in four partitions, in order, with `profile`. */
  private def threeContigs(profile: String): String = threeContigFiles.getOrElseUpdate(profile, {
    import spark.implicits._
    val f = s"${tmpDir("crai3")}/t.cram"
    CramIO.write(spark.createDataset(spark.sparkContext.parallelize(recs3, 4)), header3, f,
      profile = profile)
    f
  })

  private def bruteForce(ivs: Seq[(String, Int, Int)]): Seq[String] =
    recs3.filter(r => ivs.exists { case (c, s, e) =>
      r.rname == c && r.pos <= e && math.max(r.end, r.pos) >= s
    }).map(_.qname).sorted

  /** Queries at every contig boundary: the end of one contig, the
    * start of the next, both at once, and each contig whole. */
  private val boundaryQueries: Seq[Seq[(String, Int, Int)]] = {
    val contigs = Seq("c1", "c2", "c3")
    val first = contigs.map(c => recs3.filter(_.rname == c).map(_.pos).min)
    val last = contigs.map(c => recs3.filter(_.rname == c).map(_.pos).max)
    contigs.indices.flatMap(k => Seq(Seq((contigs(k), 1, 1000000)),
      Seq((contigs(k), last(k) - 3000, last(k) + 5000)),
      Seq((contigs(k), 1, first(k) + 2000)))) ++
      contigs.indices.dropRight(1).map(k => Seq((contigs(k), last(k) - 3000, last(k) + 5000),
        (contigs(k + 1), 1, first(k + 1) + 2000)))
  }

  test("interval reads at every contig boundary equal a brute-force filter " +
    "(graft, spec, spec31; four partitions)") {
    Seq("graft", "spec", "spec31").foreach { profile =>
      val f = threeContigs(profile)
      boundaryQueries.foreach { ivs =>
        val want = bruteForce(ivs)
        assert(want.nonEmpty, s"$ivs")
        assert(CramIO.readIntervals(spark, f, ivs).collect().map(_.qname).sorted.toSeq === want,
          s"$profile $ivs")
      }
    }
  }

  test("a one-contig interval next to a boundary plans no container " +
    "without that contig") {
    Seq("graft", "spec", "spec31").foreach { profile =>
      val f = threeContigs(profile)
      val holds = containerRecords(f).map { case (c, rs) => c.offset -> rs.map(_.rname).toSet }.toMap
      boundaryQueries.filter(_.length == 1).foreach { ivs =>
        val contig = ivs.head._1
        val planned = CramIO.plan(f, ivs, exact = true, 1L << 20, None).flatMap(_.offsets)
        assert(planned.nonEmpty)
        assert(planned === planned.distinct.sorted, s"$profile $ivs")
        planned.foreach(off => assert(holds(off).contains(contig),
          s"$profile $ivs planned container $off holding ${holds(off)}"))
      }
    }
  }

  test("a .crai in the one-line-per-container layout (multi-reference " +
    "containers as -2) still reads exactly") {
    Seq("graft", "spec").foreach { profile =>
      val src = threeContigs(profile)
      val f = s"${tmpDir("craiold")}/t.cram"
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), java.nio.file.Paths.get(f))
      val (fs, p) = Fs.get(f)
      val old = Cram.enumerateContainers(f).filter(c => c.nRecords > 0 && c.startPos != 4542278)
        .map(c => Crai.Entry(c.refSeqId, c.startPos, c.span, c.offset, c.landmark.toLong,
          (c.length - c.landmark).toLong))
      assert(old.exists(_.seqId == -2), s"$profile: no multi-reference container")
      Crai.write(fs, Crai.indexPath(p), old)
      boundaryQueries.foreach { ivs =>
        assert(CramIO.readIntervals(spark, f, ivs).collect().map(_.qname).sorted.toSeq ===
          bruteForce(ivs), s"$profile $ivs")
      }
    }
  }

  test("per-reference .crai lines sorted by reference (htslib's order) plan " +
    "each container once") {
    // htslib sorts its lines by (reference, start), so the two lines of
    // a container holding the end of c1 and the start of c2 are apart
    val src = threeContigs("graft")
    val f = s"${tmpDir("craisorted")}/t.cram"
    java.nio.file.Files.copy(java.nio.file.Paths.get(src), java.nio.file.Paths.get(f))
    val (fs, p) = Fs.get(f)
    val h = CramIO.readHeader(f)
    val refIdx = h.refs.map(_.name).zipWithIndex.toMap
    val data = Cram.enumerateContainers(f).filter(c => c.nRecords > 0 && c.startPos != 4542278)
    val lines = data.flatMap { c =>
      CramIO.readGroup(f, Seq(c.offset), h.refs).filter(_.pos > 0).groupBy(_.rname).toSeq.map {
        case (rname, rs) =>
          val lo = rs.map(_.pos).min
          val hi = rs.map(r => math.max(r.end, r.pos)).max
          Crai.Entry(refIdx(rname), lo, hi - lo + 1, c.offset, c.landmark.toLong,
            (c.length - c.landmark).toLong)
      }
    }.sortBy(e => (e.seqId, e.start))
    assert(lines.groupBy(_.containerOffset).values.exists(_.length > 1))
    Crai.write(fs, Crai.indexPath(p), lines)
    val c1End = recs3.filter(_.rname == "c1").map(_.pos).max
    val c2Start = recs3.filter(_.rname == "c2").map(_.pos).min
    val ivs = Seq(("c1", c1End - 3000, c1End + 5000), ("c2", 1, c2Start + 2000))
    val got = CramIO.readIntervals(spark, f, ivs).collect().map(_.qname).sorted.toSeq
    assert(got === bruteForce(ivs))
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
