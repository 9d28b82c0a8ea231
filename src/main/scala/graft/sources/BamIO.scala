package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, OutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{SamHeader, SamRecord}

/** Filesystem access via the Hadoop FS API so the same code serves
  * file://, hdfs:// and s3a://. One `Configuration` per JVM, built on
  * first use from the same defaults and site XMLs a fresh one loads
  * (cluster nodes carry their own site configs), so Hadoop's XML is
  * parsed once, not per file open. `spark.hadoop.*` settings are not
  * applied. The instance is shared by every caller and thread: never
  * mutate it. */
object Fs {
  private[sources] lazy val conf = new Configuration()

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

  /** The one driver commit of every sink: `merge` writes the whole
    * file into a temp sibling of `target`; only once it returns are
    * the target's sidecar indexes deleted, the temp moved over the
    * target, and `index` run with the merge's result to write the
    * sidecars this format produces.  A failed merge removes the temp
    * and leaves the target and its indexes as they were; a crash after
    * the move leaves a complete file with no index. */
  def commitFile[A](target: String)(merge: OutputStream => A)(index: A => Unit): Unit = {
    val (fs, path) = get(target)
    val tmp = new Path(path.getParent, s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    val merged =
      try {
        val out = new BufferedOutputStream(fs.create(tmp, true))
        try merge(out) finally out.close()
      } catch { case e: Throwable => fs.delete(tmp, false); throw e }
    Sidecars.foreach(s => fs.delete(new Path(path.getParent, path.getName + s), false))
    // HDFS rename does not overwrite
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not move the merged file into place at $target")
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
    * (end - pos + 1), recorded at write time; -1 = unknown (v1 index).
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

  def read(fs: FileSystem, path: Path): Option[Index] = {
    if (!fs.exists(path)) return None
    val in = new DataInputStream(new BufferedInputStream(fs.open(path)))
    try {
      if (in.readInt() != Magic) return None
      val version = in.readInt()
      val gran = in.readInt()
      val maxSpan = if (version >= 2) in.readInt() else -1
      val n = in.readInt()
      val es = Array.fill(n)(Entry(in.readLong(), in.readInt(), in.readInt()))
      Some(Index(gran, es, in.readLong(), maxSpan))
    } finally in.close()
  }

  def indexPath(bam: Path): Path = new Path(bam.getParent, bam.getName + ".sidx")

  /** Driver merge of header-less BGZF shards (BAM, BCF) through
    * [[Fs.commitFile]]: `header` as BGZF blocks + the
    * `part-<pid>.<ext>` shards under `tmpDir` in the given order + the
    * EOF terminator, then the v2 sidecar, each shard's entries shifted
    * by the compressed bytes before it.  `shards` = (pid, compressed
    * length, shard-relative (vo, refId, pos0) entries). */
  private[sources] def mergeShards(file: String, header: Array[Byte], tmpDir: String,
                                   ext: String,
                                   shards: Seq[(Int, Long, Array[(Long, Int, Int)])],
                                   granularity: Int, maxSpan: Int): Unit = {
    val (fs, path) = Fs.get(file)
    Fs.commitFile(file) { out =>
      var coffset = Bgzf.writeBlocksTo(out, header, 0, header.length)
      val entries = shards.flatMap { case (_, len, es) =>
        val base = coffset
        coffset += len
        es.toSeq.map { case (vo, refId, pos) =>
          Entry(Bgzf.virtualOffset(Bgzf.voCompressed(vo) + base, Bgzf.voUncompressed(vo)),
            refId, pos)
        }
      }
      Fs.concatParts(fs, shards.map(s => Fs.partPath(tmpDir, s._1, ext)), out)
      out.write(Bgzf.EofMarker)
      (entries, Bgzf.virtualOffset(coffset, 0))
    } { case (entries, endVo) =>
      write(fs, indexPath(path), granularity, entries, endVo, maxSpan)
    }
  }
}

/** Distributed BAM read/write (S3-S5).
  *
  * Read path: the DRIVER places all split boundaries up front —
  * constant-time from the sidecar index when present, otherwise by
  * block-guessing + record-guessing at each target byte offset
  * (BAMInputFormat.getSplits + BAMSplitGuesser semantics) — then each
  * task reads exactly the records whose start virtual offset falls in
  * its [startVo, endVo) range.  Boundaries are computed once centrally,
  * so neighbors can never disagree about record ownership.
  *
  * Write path: [[write]] is the `format("bam")` batch write
  * (v2.GraftDataSinks) with the header in memory.  Each task attempt
  * streams a header-less BGZF shard + its local splitting-index
  * entries into its own attempt file, renamed into place on task
  * commit; the driver commit ([[Fs.commitFile]]) concatenates header +
  * shards + EOF terminator (BGZF concatenation is valid) into a temp
  * sibling, shifting the index entries, drops the target's old
  * sidecars, moves the temp over the target and writes the new
  * `.sidx` — the reference's SAMFileMerger.java:32 shape without a
  * second pass over the data.
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
    * the micro-batch stream): one partition per virtual-offset range,
    * from the sidecar index, a foreign .bai/.csi, or split guessing.
    * `intervalsOf` resolves the intervals against the file's header;
    * they prune chunks when the index allows (bounded traversal,
    * ref: BAMInputFormat.java:150-190) and, with `exact`, also filter
    * records by overlap. */
  private[sources] def plan(file: String, splitSize: Long, includeUnmapped: Boolean,
                            exact: Boolean)
                           (intervalsOf: SamHeader => Seq[(String, Int, Int)])
      : Seq[v2.BamPartition] = {
    val (fs, path) = Fs.get(file)
    val fileLen = fs.getFileStatus(path).getLen
    val in = new Bgzf.BgzfInputStream(new BufferedInputStream(fs.open(path)))
    val header = BamCodec.readHeader(in)
    val headerEndVo = in.virtualPos
    in.close()
    val intervals = intervalsOf(header)

    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    val queries = intervals.flatMap { case (c, s, e) => refIdx.get(c).map(ri => (ri, s, e)) }
    val ranges: Seq[(Long, Long)] =
      SplittingIndex.read(fs, SplittingIndex.indexPath(path)) match {
        case Some(idx) =>
          idx.ranges(headerEndVo,
            Some(queries).filter(_ => intervals.nonEmpty && header.sortOrder == "coordinate"),
            splitSize, includeUnmapped)
        case None =>
          // foreign BAM: a spec .bai or .csi + intervals gives exact
          // bounded traversal; otherwise split guessing
          val binning =
            if (intervals.isEmpty) None
            else Bai.read(fs, Bai.indexPath(path)).orElse(Csi.read(fs, Csi.indexPath(path)))
          binning match {
            case Some(idx) =>
              // unplaced-unmapped records sort after every mapped
              // chunk in a coordinate-sorted BAM; the binning index
              // has no entries for them, so bounded traversal with
              // includeUnmapped appends the tail range
              val mappedEndVo = idx.refs.iterator.flatMap(idx.dataBins).flatMap(_._2)
                .map(_.end).foldLeft(headerEndVo)(math.max)
              idx.ranges(queries, splitSize) ++
                (if (includeUnmapped) Seq((mappedEndVo, Bgzf.virtualOffset(fileLen, 0))) else Nil)
            case None =>
              val bounds = splitsByGuessing(fs, path, fileLen, headerEndVo, splitSize,
                data => BamCodec.guessRecordStart(data, header.refs.length))
              bounds.sliding(2).collect { case Array(a, b) if a < b => (a, b) }.toSeq
          }
      }
    val iv = if (exact) intervals.toArray else Array.empty[(String, Int, Int)]
    ranges.map { case (s, e) => v2.BamPartition(file, s, e, header.refs, iv, includeUnmapped) }
  }

  /** No index: fixed byte-range split targets; at each target the
    * driver finds the next BGZF block, inflates a window, and asks
    * `guessRecord` for the first record-start offset within it
    * (BAMSplitGuesser.java re-expression; the BCF reader reuses this
    * scaffold with its own record guesser, like BCFSplitGuesser). */
  private[sources] def splitsByGuessing(fs: FileSystem, path: Path, fileLen: Long,
                               headerEndVo: Long, splitSize: Long,
                               guessRecord: Array[Byte] => Int): Array[Long] = {
    val targets = (Bgzf.voCompressed(headerEndVo) + splitSize) until fileLen by splitSize
    val bounds = new ArrayBuffer[Long]()
    bounds += headerEndVo
    val raw = fs.open(path)
    try {
      targets.foreach { t =>
        val window = new Array[Byte](512 * 1024)
        raw.seek(t)
        var n = 0
        var r = 0
        while (n < window.length && r >= 0) {
          r = raw.read(window, n, window.length - n)
          if (r > 0) n += r
        }
        val blockOff = Bgzf.findBlockStart(java.util.Arrays.copyOf(window, n), 0)
        if (blockOff >= 0) {
          // inflate a couple blocks and guess the record boundary
          val bis = new Bgzf.BgzfInputStream(
            new java.io.ByteArrayInputStream(window, blockOff, n - blockOff), t + blockOff)
          val buf = new ByteArrayOutputStream()
          try {
            val tmp = new Array[Byte](8192)
            var got = 0
            while (buf.size < 2 * Bgzf.MaxBlockSize && got >= 0) {
              got = bis.read(tmp)
              if (got > 0) buf.write(tmp, 0, got)
            }
          } catch { case _: EOFException => () } // window may cut a block
          val rec = guessRecord(buf.toByteArray)
          if (rec >= 0) {
            // rec is an uncompressed offset from blockOff's block start;
            // walk blocks to express it as a virtual offset
            var co = t + blockOff
            var remaining = rec
            var done = false
            while (!done) {
              val bsize = blockSizeAt(window, (co - t).toInt, n)
              val inflated = inflatedSizeOfBlock(window, (co - t).toInt, n)
              if (bsize > 0 && remaining >= inflated && inflated > 0) {
                remaining -= inflated; co += bsize
              } else done = true
            }
            bounds += Bgzf.virtualOffset(co, remaining)
          }
        }
      }
    } finally raw.close()
    bounds += Bgzf.virtualOffset(fileLen, 0)
    bounds.distinct.sorted.toArray
  }

  private def blockSizeAt(window: Array[Byte], off: Int, len: Int): Int =
    if (off < 0 || off > len - 18) -1 else Bgzf.parseBsize(window, off)

  private def inflatedSizeOfBlock(window: Array[Byte], off: Int, len: Int): Int = {
    val bsize = blockSizeAt(window, off, len)
    if (bsize < 0 || off + bsize > len) return -1
    // ISIZE = last 4 bytes of the member
    val o = off + bsize - 4
    (window(o) & 0xff) | ((window(o + 1) & 0xff) << 8) |
      ((window(o + 2) & 0xff) << 16) | ((window(o + 3) & 0xff) << 24)
  }

  /** Task-side: records with start VO in [startVo, endVo), plus an
    * explicit closer for consumers that may abandon the iterator early
    * (DataSource V2 readers under LIMIT). */
  private[sources] def openRange(file: String, startVo: Long, endVo: Long,
                        refs: Array[graft.model.SamRef],
                        intervals: Array[(String, Int, Int)],
                        includeUnmapped: Boolean = false,
                        fields: Int = BamCodec.AllFields)
      : (Iterator[SamRecord], () => Unit) = {
    val in = Bgzf.openAt(file, startVo)
    val it = new Iterator[SamRecord] {
      private var nextRec: SamRecord = _
      private var finished = false
      private def fetch(): Unit = {
        if (finished) return
        while (nextRec == null && !finished) {
          if (in.virtualPos >= endVo) { finished = true; in.close(); return }
          val sz = readIntLe(in)
          if (sz < 0) { finished = true; in.close(); return }
          val data = new Array[Byte](sz)
          var o = 0
          while (o < sz) {
            val r = in.read(data, o, sz - o)
            if (r < 0) throw new EOFException("truncated BAM record")
            o += r
          }
          // interval overlap needs `end`, i.e. the CIGAR ref length —
          // force it into the mask whenever records are being filtered
          val rec = BamCodec.decode(data, refs,
            if (intervals.isEmpty) fields else fields | BamCodec.FCigar)
          if (intervals.isEmpty || overlaps(rec, intervals) ||
            (includeUnmapped && rec.isUnmapped && (rec.rname == "*" || rec.pos == 0)))
            nextRec = rec
        }
      }
      override def hasNext: Boolean = { if (nextRec == null) fetch(); nextRec != null }
      override def next(): SamRecord = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }
    (it, () => try in.close() catch { case _: java.io.IOException => () })
  }

  private def overlaps(r: SamRecord, ivs: Array[(String, Int, Int)]): Boolean =
    ivs.exists { case (c, s, e) => r.rname == c && r.pos <= e && r.end >= s }

  /** Little-endian int32, or -1 at a clean end of stream. */
  private[sources] def readIntLe(in: java.io.InputStream): Int = {
    val a = in.read()
    if (a < 0) return -1
    val b = in.read(); val c = in.read(); val d = in.read()
    if ((b | c | d) < 0) throw new EOFException("truncated record length")
    a | (b << 8) | (c << 16) | (d << 24)
  }

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
    * 32-bit, so nothing coarsens and no fallback comparison ever
    * runs.  The two-column spelling instead gives SortExec only the
    * leading refIdx as its sort prefix, which TIES on ~every
    * comparison of a single-contig shard (the SKEWPROBE r12 class:
    * each tie falls back to the row comparator) — the packed single
    * long keeps the whole sort in the radix/prefix path and the
    * range exchange samples one word per row.  Kill switch shared
    * with the ranked packing: `spark.graft.ranked.packedSortPrefix`. */
  private[sources] def coordinateSorted(ds: Dataset[SamRecord],
                                        header: SamHeader): Dataset[SamRecord] = {
    import org.apache.spark.sql.functions._
    val spark = ds.sparkSession
    import spark.implicits._
    val refOrder = header.refs.map(_.name).zipWithIndex.toMap
    val orderMap = typedLit(refOrder)
    val refIdx = coalesce(orderMap(col("rname")), lit(Int.MaxValue))
    val packed = spark.conf
      .getOption("spark.graft.ranked.packedSortPrefix").forall(_.equalsIgnoreCase("true"))
    (if (packed) {
      ds.toDF()
        .withColumn("_pk",
          refIdx.cast("long") * lit(4294967296L) +
            (col("pos").cast("long") + lit(2147483648L)))
        .repartitionByRange(col("_pk"))
        .sortWithinPartitions(col("_pk"))
        .drop("_pk")
    } else {
      ds.toDF()
        .withColumn("_refIdx", refIdx)
        .repartitionByRange(col("_refIdx"), col("pos"))
        .sortWithinPartitions(col("_refIdx"), col("pos"))
        .drop("_refIdx")
    }).as[SamRecord]
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

  /** One task's shard + its local (shard-relative) index entries. */
  final case class ShardInfo(pid: Int, shardLen: Long, count: Long,
                             entries: Array[(Long, Int, Int)], maxSpan: Int)
    extends Serializable

  /** Incremental shard writer (one record at a time — nothing buffers
    * the partition in memory), driven by the DataSource V2 sink's
    * per-row writes. */
  private[sources] final class ShardWriter(shardPath: Path, refIdx: Map[String, Int],
                                           granularity: Int, pid: Int) {
    private val out = {
      val (tfs, _) = Fs.get(shardPath.toString)
      new Bgzf.BgzfOutputStream(tfs.create(shardPath, true))
    }
    // (shard-relative virtual offset, refId, pos0) per indexed record
    private val entries = new ArrayBuffer[(Long, Int, Int)]()
    private var n = 0L
    private var count = 0L
    private var maxSpan = 0

    def write(rec: SamRecord): Unit = {
      if (n % granularity == 0) {
        // align indexed records to block starts
        out.blockBoundary()
        entries += ((Bgzf.virtualOffset(out.compressedOffset, 0),
          refIdx.get(rec.rname).getOrElse(-1), rec.pos - 1))
      }
      if (rec.pos > 0) {
        val span = rec.end - rec.pos + 1
        if (span > maxSpan) maxSpan = span
      }
      val data = BamCodec.encode(rec, refIdx)
      val len = data.length
      out.write(Array[Byte](len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte))
      out.write(data)
      n += 1; count += 1
    }

    def finish(): ShardInfo = {
      out.blockBoundary()
      val shardLen = out.compressedOffset
      out.closeWithoutTerminator()
      ShardInfo(pid, shardLen, count, entries.toArray, maxSpan)
    }

    def abort(): Unit =
      try out.closeWithoutTerminator()
      catch { case _: java.io.IOException => () }
  }

  /** Driver-side merge: header block + the shards in pid order + EOF
    * terminator, then the v2 sidecar index
    * ([[SplittingIndex.mergeShards]]). */
  private[sources] def mergeShardInfo(file: String, header: SamHeader,
                                      tmpDir: String, shardInfo: Seq[ShardInfo],
                                      granularity: Int): Unit = {
    val headerBuf = new ByteArrayOutputStream()
    BamCodec.writeHeader(headerBuf, header)
    SplittingIndex.mergeShards(file, headerBuf.toByteArray, tmpDir, "bam",
      shardInfo.map(si => (si.pid, si.shardLen, si.entries)), granularity,
      if (shardInfo.isEmpty) 0 else shardInfo.map(_.maxSpan).max)
  }
}
