package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{SamHeader, SamRecord}

/** Filesystem access via the Hadoop FS API so the same code serves
  * file://, hdfs:// and s3a://. One `Configuration` per JVM, built on
  * first use from the same defaults and site XMLs a fresh one loads
  * (cluster nodes carry their own site configs), so Hadoop's XML is
  * parsed once, not per file open. `spark.hadoop.*` settings are not
  * applied; graft's local file system ([[GraftLocalFs.Settings]]) is.
  * The instance is shared by every caller and thread: never mutate
  * it. */
object Fs {
  private[sources] lazy val conf = {
    val c = new Configuration()
    GraftLocalFs.Settings.foreach { case (k, v) => c.set(k, v) }
    c
  }

  def get(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(conf), path)
  }

  /** Path of partition `pid`'s committed shard under `dir`. */
  def partPath(dir: String, pid: Int, ext: String): Path = new Path(dir, f"part-$pid%05d.$ext")

  /** Byte-concatenate `parts` into `out` in order — the single merge
    * primitive every sink (BAM, BCF, CRAM, SAM, FASTQ, QSEQ, VCF)
    * funnels its committed shards through.  A missing part fails the
    * merge. */
  def concatParts(fs: FileSystem, parts: Seq[Path], out: OutputStream): Unit = {
    val buf = new Array[Byte](1 << 20)
    parts.foreach { p =>
      val in = fs.open(p)
      try {
        var r = in.read(buf)
        while (r > 0) { out.write(buf, 0, r); r = in.read(buf) }
      } finally in.close()
    }
  }

  /** Sidecar indexes a reader may pick up beside a data file. */
  private val Sidecars = Seq(".sidx", ".bai", ".csi", ".tbi", ".crai")

  /** Move `src` over `dst` in one `FileContext` rename with
    * overwrite, which HDFS does atomically (`FileSystem.rename` does
    * not overwrite).  A scheme with no `FileContext` binding deletes
    * `dst`, then renames. */
  private[sources] def moveOver(fs: FileSystem, src: Path, dst: Path): Unit =
    try FileContext.getFileContext(fs.getUri, conf)
      .rename(fs.makeQualified(src), fs.makeQualified(dst), Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedFileSystemException =>
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(src, dst)) throw new java.io.IOException(s"could not rename $src to $dst")
    }

  /** The one driver commit of every sink: `merge` writes the whole
    * file into a temp sibling of `target`; only once it returns are
    * the target's sidecar indexes deleted, the temp moved over the
    * target ([[moveOver]]), and `index` run with the merge's result to
    * write the sidecars this format produces.  A failed merge removes
    * the temp and leaves the target and its indexes as they were; a
    * crash after the move leaves a complete file with no index. */
  def commitFile[A](target: String)(merge: OutputStream => A)(index: A => Unit): Unit = {
    val (fs, path) = get(target)
    val tmp = new Path(path.getParent, s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    val merged =
      try {
        val out = new BufferedOutputStream(fs.create(tmp, true))
        try merge(out) finally out.close()
      } catch { case e: Throwable => fs.delete(tmp, false); throw e }
    Sidecars.foreach(s => fs.delete(new Path(path.getParent, path.getName + s), false))
    try moveOver(fs, tmp, path)
    catch {
      case e: java.io.IOException =>
        fs.delete(tmp, false)
        throw new java.io.IOException(s"could not move the merged file into place at $target", e)
    }
    index(merged)
  }
}

/** Sidecar splitting index: record-start virtual offsets (+ the
  * record's refId/pos for bounded-traversal pruning) every
  * `granularity` records, plus the end-of-records virtual offset.
  *
  * Analog of SplittingBAMIndexer.java / SplittingBAMIndex.java — the
  * reference's constant-time split placement — extended with position
  * keys so a coordinate-sorted BAM can prune whole chunks against
  * query intervals (the linear-index role of LinearBAMIndex.java).
  */
object SplittingIndex {
  final case class Entry(vo: Long, refId: Int, pos: Int)

  /** `maxSpan` = file-wide maximum reference span of any mapped record
    * (end - pos + 1), recorded at write time; -1 = no pruning: a v1
    * index, or records not written in coordinate order (whatever the
    * header claims, [[BgzfRecords.merge]]).
    * It is the exact pad needed for start-key chunk pruning — spliced
    * RNA-seq reads (CIGAR N over megabase introns) and ultralong reads
    * make any fixed guess unsafe. */
  final case class Index(granularity: Int, entries: Array[Entry],
                         endVo: Long, maxSpan: Int) {

    /** The `.sidx` plan of BAM and BCF: granules [entry, next entry)
      * from the header end, pruned against `queries` ((refId, start1,
      * end1), 1-based inclusive) when given, then coalesced while
      * contiguous up to `splitSize` compressed bytes (bounded
      * traversal, ref: BAMInputFormat.java:150-190).  Pruning needs the
      * file-wide max read span (v2 index) to pad granule starts — with
      * an unknown bound a spliced/ultralong read could span from a
      * pruned granule into an interval, so nothing is pruned.
      * `keepUnmapped` keeps the granules reaching into the unmapped
      * tail. */
    def ranges(headerEndVo: Long, queries: Option[Seq[(Int, Int, Int)]],
               splitSize: Long, keepUnmapped: Boolean): Seq[(Long, Long)] = {
      val all = Entry(headerEndVo, entries.headOption.map(_.refId).getOrElse(-1),
        entries.headOption.map(_.pos).getOrElse(-1)) +: entries.toSeq
      val granules: Seq[(Entry, Long)] =
        all.zip(all.drop(1).map(_.vo) :+ endVo).filter { case (e, end) => e.vo < end }
      val kept = queries.filter(_ => maxSpan >= 0) match {
        case None => granules
        case Some(ivs) =>
          granules.zipWithIndex.filter { case ((e, _), i) =>
            val nextKey =
              if (i + 1 < granules.length) Some((granules(i + 1)._1.refId, granules(i + 1)._1.pos))
              else None
            overlaps(e.refId, e.pos, nextKey, ivs) ||
              // the unmapped tail sorts last: a granule reaches into it
              // iff its next granule starts unmapped (or it is the last)
              (keepUnmapped && nextKey.forall(_._1 < 0))
          }.map(_._1)
      }
      val out = new ArrayBuffer[(Long, Long)]()
      var curStart = -1L
      var curEnd = -1L
      kept.foreach { case (e, end) =>
        val contiguous = curStart >= 0 && e.vo == curEnd
        val full = curStart >= 0 &&
          Bgzf.voCompressed(curEnd) - Bgzf.voCompressed(curStart) >= splitSize
        if (curStart < 0) { curStart = e.vo; curEnd = end }
        else if (contiguous && !full) curEnd = end
        else { out += ((curStart, curEnd)); curStart = e.vo; curEnd = end }
      }
      if (curStart >= 0) out += ((curStart, curEnd))
      out.toSeq
    }

    /** A granule [first record key, next granule's first key) can hold
      * a record overlapping `ivs`?  Keys are 0-based (rec.pos - 1);
      * intervals 1-based inclusive.  A record starting up to
      * maxSpan-1 bases before an interval can still reach into it, so
      * the granule's last possible start (next key) is padded by it.
      * Unknown next keys and the unmapped tail keep the granule. */
    private def overlaps(refId: Int, pos0: Int, nextKey: Option[(Int, Int)],
                         ivs: Seq[(Int, Int, Int)]): Boolean = {
      if (refId < 0) return true
      ivs.exists { case (ri, s, e) =>
        val startsBeforeEnd = refId < ri || (refId == ri && pos0 + 1 <= e)
        val endsAfterStart = nextKey match {
          case Some((nr, np0)) => nr > ri || nr < 0 || (nr == ri && np0.toLong + maxSpan >= s)
          case None => true
        }
        startsBeforeEnd && endsAfterStart
      }
    }
  }
  private val Magic = 0x47534958 // "GSIX"

  def write(fs: FileSystem, path: Path, granularity: Int,
            entries: Seq[Entry], endVo: Long, maxSpan: Int = -1): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(fs.create(path, true)))
    out.writeInt(Magic); out.writeInt(2); out.writeInt(granularity)
    out.writeInt(maxSpan)
    out.writeInt(entries.length)
    entries.foreach { e => out.writeLong(e.vo); out.writeInt(e.refId); out.writeInt(e.pos) }
    out.writeLong(endVo)
    out.close()
  }

  /** The `.sidx` at `path`, None when there is none.  Read through the
    * checked index codec ([[BinIndex.readFile]], big-endian): nothing is
    * sized from a count in the file, and a wrong magic or version,
    * truncation, entries out of order or bytes past the end throw an
    * IOException naming the path and the field. */
  def read(fs: FileSystem, path: Path): Option[Index] =
    BinIndex.readFile(fs, path, "GSIX", bgzf = false, bigEndian = true) { in =>
      val version = in.int32("version")
      if (version != 1 && version != 2) in.fail(s"version = $version")
      val granularity = in.int32("granularity")
      if (granularity <= 0) in.fail(s"granularity = $granularity")
      val maxSpan = if (version >= 2) in.int32("max_span") else -1
      if (maxSpan < -1) in.fail(s"max_span = $maxSpan")
      val n = in.count("n_entry")
      val entries = new ArrayBuffer[Entry]()
      while (entries.length < n) {
        val e = Entry(in.int64("entry_vo"), in.int32("entry_ref_id"), in.int32("entry_pos"))
        if (entries.nonEmpty && e.vo < entries.last.vo) in.fail(s"entry ${entries.length} out of order")
        entries += e
      }
      val endVo = in.int64("end_vo")
      if (entries.nonEmpty && endVo < entries.last.vo) in.fail("end_vo before the last entry")
      if (!in.atEnd) in.fail("bytes past end_vo")
      Index(granularity, entries.toArray, endVo, maxSpan)
    }

  def indexPath(bam: Path): Path = new Path(bam.getParent, bam.getName + ".sidx")

  /** Driver merge of header-less BGZF shards (BAM, BCF) through
    * [[Fs.commitFile]]: `header` as BGZF blocks + the
    * `part-<pid>.<ext>` shards under `tmpDir` in the given order + the
    * EOF terminator, then the v2 sidecar, each shard's entries shifted
    * by the compressed bytes before it. */
  private[sources] def mergeShards(file: String, header: Array[Byte], tmpDir: String,
                                   ext: String, shards: Seq[BgzfRecords.Shard],
                                   granularity: Int, maxSpan: Int): Unit = {
    val (fs, path) = Fs.get(file)
    Fs.commitFile(file) { out =>
      var coffset = Bgzf.writeBlocksTo(out, header, 0, header.length)
      val entries = shards.flatMap { s =>
        val base = coffset
        coffset += s.length
        s.entries.toSeq.map { case (vo, refId, pos) =>
          Entry(Bgzf.virtualOffset(Bgzf.voCompressed(vo) + base, Bgzf.voUncompressed(vo)),
            refId, pos)
        }
      }
      Fs.concatParts(fs, shards.map(s => Fs.partPath(tmpDir, s.pid, ext)), out)
      out.write(Bgzf.EofMarker)
      (entries, Bgzf.virtualOffset(coffset, 0))
    } { case (entries, endVo) =>
      write(fs, indexPath(path), granularity, entries, endVo, maxSpan)
    }
  }
}

/** Distributed BAM read/write (S3-S5): the BAM side of the shared
  * BGZF record layer ([[BgzfRecords]]).  What is BAM's own: the header
  * codec, single-length framing over [[BamCodec]], the (refId, pos0,
  * end) key, the record guesser, the `.bai`-then-`.csi` lookup, the
  * header's `SO:coordinate` as a second condition for `.sidx` pruning,
  * and the record-level overlap and unmapped filter.
  *
  * Read path: the DRIVER places all split boundaries up front
  * ([[BgzfRecords.plan]]: the binning index for intervals, else the
  * `.sidx`, else block-guessing + record-guessing at each target byte
  * offset — BAMInputFormat.getSplits + BAMSplitGuesser semantics), then
  * each task reads exactly the records whose start virtual offset falls
  * in its [startVo, endVo) range.  Boundaries are computed once
  * centrally, so neighbors can never disagree about record ownership.
  *
  * Write path: [[write]] is the `format("bam")` batch write
  * (v2.GraftDataSinks) with the header in memory.  Each task attempt
  * streams a header-less BGZF shard + its local splitting-index
  * entries into its own attempt file, renamed into place on task
  * commit; the driver commit ([[BgzfRecords.merge]] through
  * [[Fs.commitFile]]) concatenates header + shards + EOF terminator
  * (BGZF concatenation is valid) into a temp sibling, shifting the
  * index entries, drops the target's old sidecars, moves the temp over
  * the target and writes the new `.sidx` — the reference's
  * SAMFileMerger.java:32 shape without a second pass over the data.
  */
object BamIO {

  // ---------------------------------------------------------------- read

  def readHeader(file: String): SamHeader = {
    val (fs, path) = Fs.get(file)
    val in = new Bgzf.BgzfInputStream(new BufferedInputStream(fs.open(path)))
    try BamCodec.readHeader(in) finally in.close()
  }

  /** Records overlapping any interval (contig, start, end) 1-based
    * inclusive; empty = full scan.  `includeUnmapped` additionally
    * returns unplaced-unmapped records during bounded traversal (the
    * reference's setTraversalParameters second argument,
    * ref: BAMInputFormat.java:150).  `splitSize` in compressed bytes. */
  def read(spark: SparkSession, file: String,
           intervals: Seq[(String, Int, Int)] = Nil,
           splitSize: Long = 64L * 1024 * 1024,
           includeUnmapped: Boolean = false,
           columns: Seq[String] = Nil): Dataset[SamRecord] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark,
      plan(file, splitSize, includeUnmapped, exact = true)(_ => intervals),
      BamCodec.maskFor(columns))
  }

  /** The BAM planner of every read face (typed [[read]], the DSv2 scan,
    * the micro-batch stream): one partition per virtual-offset range of
    * [[BgzfRecords.plan]].  `intervalsOf` resolves the intervals against
    * the file's header; they prune chunks (bounded traversal,
    * ref: BAMInputFormat.java:150-190) and, with `exact`, also filter
    * records by overlap. */
  private[sources] def plan(file: String, splitSize: Long, includeUnmapped: Boolean,
                            exact: Boolean)
                           (intervalsOf: SamHeader => Seq[(String, Int, Int)])
      : Seq[v2.BamPartition] = {
    val (fs, path) = Fs.get(file)
    val in = new Bgzf.BgzfInputStream(new BufferedInputStream(fs.open(path)))
    val (header, headerEndVo) = try (BamCodec.readHeader(in), in.virtualPos) finally in.close()
    val intervals = intervalsOf(header)
    val ranges = BgzfRecords.plan(file, headerEndVo, header.refs.map(_.name).toSeq, intervals,
      splitSize, includeUnmapped, sidxPrunable = header.sortOrder == "coordinate")(
      (fs, p) => Bai.read(fs, Bai.indexPath(p)).orElse(Csi.read(fs, Csi.indexPath(p))),
      BamCodec.guessRecordStart(_, header.refs.length))
    val iv = if (exact) intervals.toArray else Array.empty[(String, Int, Int)]
    ranges.map { case (s, e) => v2.BamPartition(file, s, e, header.refs, iv, includeUnmapped) }
  }

  /** Task-side: records with start VO in [startVo, endVo)
    * ([[BgzfRecords.openRange]]) — with `intervals`, only those
    * overlapping one, plus the unplaced-unmapped ones when
    * `includeUnmapped`. */
  private[sources] def openRange(file: String, startVo: Long, endVo: Long,
                        refs: Array[graft.model.SamRef],
                        intervals: Array[(String, Int, Int)],
                        includeUnmapped: Boolean = false,
                        fields: Int = BamCodec.AllFields)
      : (Iterator[SamRecord], () => Unit) = {
    // interval overlap needs `end`, i.e. the CIGAR ref length — force
    // it into the mask whenever records are being filtered
    val mask = if (intervals.isEmpty) fields else fields | BamCodec.FCigar
    val (it, closer) = BgzfRecords.openRange[SamRecord](file, startVo, endVo) { in =>
      val sz = BgzfRecords.readIntLe(in)
      if (sz < 0) null
      else BamCodec.decode(BgzfRecords.readFully(in, sz, "BAM record"), refs, mask)
    }
    (if (intervals.isEmpty) it
     else it.filter(rec => overlaps(rec, intervals) ||
       (includeUnmapped && rec.isUnmapped && (rec.rname == "*" || rec.pos == 0))), closer)
  }

  private def overlaps(r: SamRecord, ivs: Array[(String, Int, Int)]): Boolean =
    ivs.exists { case (c, s, e) => r.rname == c && r.pos <= e && r.end >= s }

  /** Parse "chr1:100-200" interval strings (1-based inclusive;
    * "chr1" alone = whole contig; ref: util/IntervalUtil.java +
    * the hadoopbam.bam.intervals property format). */
  def parseIntervals(spec: String, header: SamHeader): Seq[(String, Int, Int)] = {
    val refLen = header.refs.map(r => r.name -> r.length).toMap
    parseIntervalSpec(spec, c => refLen.getOrElse(c, Int.MaxValue))
  }

  /** Header-free variant (VCF has no contig-length table to consult;
    * bare contig names span to `maxEnd`). */
  def parseIntervalSpec(spec: String,
                        maxEnd: String => Int = _ => Int.MaxValue): Seq[(String, Int, Int)] =
    spec.split(",").toSeq.filter(_.nonEmpty).map { iv =>
      iv.split(":") match {
        case Array(contig) =>
          (contig, 1, maxEnd(contig))
        case Array(contig, range) =>
          val Array(s, e) = range.split("-").map(_.replace(",", "").trim)
          (contig, s.toInt, e.toInt)
        case _ => throw new IllegalArgumentException(s"bad interval: $iv")
      }
    }

  /** Coordinate order for a write: range partition on (refIdx, pos) —
    * balanced writers, no single-task sort — then sort within
    * partitions (ref: util/GetSortedBAMHeader.java + sorted write
    * path).  Shared by [[writeSorted]] and `Sam.writeSorted`; records
    * with equal (ref, pos) come out in no particular order.
    *
    * The sort key is ONE packed long, `refIdx·2^32 + (pos + 2^31)` —
    * unlike the ranked packed PREFIX this is an injective,
    * order-EXACT image of (refIdx ASC, pos ASC): both components are
    * 32-bit, so nothing coarsens and there is nothing to fall back to.
    * A two-column key would give SortExec only the leading refIdx as
    * its sort prefix, which TIES on ~every comparison of a
    * single-contig shard (the SKEWPROBE r12 class: each tie falls back
    * to the row comparator) — the packed single long keeps the whole
    * sort in the radix/prefix path and the range exchange samples one
    * word per row. */
  private[sources] def coordinateSorted(ds: Dataset[SamRecord],
                                        header: SamHeader): Dataset[SamRecord] = {
    import org.apache.spark.sql.functions._
    val spark = ds.sparkSession
    import spark.implicits._
    val orderMap = typedLit(header.refs.map(_.name).zipWithIndex.toMap)
    val refIdx = coalesce(orderMap(col("rname")), lit(Int.MaxValue))
    ds.toDF()
      .withColumn("_pk",
        refIdx.cast("long") * lit(4294967296L) + (col("pos").cast("long") + lit(2147483648L)))
      .repartitionByRange(col("_pk"))
      .sortWithinPartitions(col("_pk"))
      .drop("_pk")
      .as[SamRecord]
  }

  /** Coordinate-sort ([[coordinateSorted]]) and write with an
    * SO:coordinate header. */
  def writeSorted(ds: Dataset[SamRecord], header: SamHeader, file: String,
                  granularity: Int = 1000): Unit =
    write(coordinateSorted(ds, header), header.asCoordinateSorted, file, granularity)

  // --------------------------------------------------------------- write

  /** Write `ds` as a single BAM file + sidecar splitting index: the
    * `format("bam")` batch write with `header` in memory. */
  def write(ds: Dataset[SamRecord], header: SamHeader, file: String,
            granularity: Int = 1000): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.BamTable(v2.GraftDataSinks.at(file), Some(header)),
      Map("granularity" -> granularity.toString))

  /** BAM's side of the shared write path: the binary header, one
    * block_size-prefixed [[BamCodec]] record, the (refId, pos0, end)
    * key. */
  private[graft] final case class RecordCodec(samHeader: SamHeader)
      extends BgzfRecords.Codec[SamRecord] {
    private val refIdx = samHeader.refs.map(_.name).zipWithIndex.toMap
    def ext: String = "bam"
    def header: Array[Byte] = {
      val buf = new ByteArrayOutputStream()
      BamCodec.writeHeader(buf, samHeader)
      buf.toByteArray
    }
    def write(rec: SamRecord, out: OutputStream): Unit = {
      val data = BamCodec.encode(rec, refIdx)
      val len = data.length
      out.write(Array[Byte](len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte))
      out.write(data)
    }
    def refId(rec: SamRecord): Int = refIdx.getOrElse(rec.rname, -1)
    def pos0(rec: SamRecord): Int = rec.pos - 1
    def end1(rec: SamRecord): Int = rec.end
  }
}
