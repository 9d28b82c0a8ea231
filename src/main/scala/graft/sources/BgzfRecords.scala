package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}

/** The record layer BAM and BCF share: both are BGZF-framed,
  * length-prefixed binary records behind a header, so both get one
  * shard writer, one driver merge, one planner and one range reader
  * (the machinery Hadoop-BAM shares between BAMInputFormat and
  * BCFInputFormat: split guessing, the splitting index, shard
  * merging).  A format supplies only its [[Codec]] on the write side
  * and, on the read side, its header, guesser, binning-index lookup
  * and record decoder.
  *
  * Sidecar contract: the `.sidx` ([[SplittingIndex]]) places an entry
  * at a block-aligned record start every `granularity` records of each
  * shard, and records the file-wide max span only when the RECORDS are
  * coordinate-sorted within and across shards — never on the word of a
  * header — so the planner prunes granules only when that is safe (BAM
  * also still requires its header's `SO:coordinate`, see [[plan]]).
  */
object BgzfRecords {

  /** What a format supplies to the write path: its header, its record
    * framing and its coordinate key.  It rides the writer factory to
    * the executors. */
  trait Codec[R] extends Serializable {
    /** Extension of the shard part files. */
    def ext: String
    /** The file header, written as BGZF blocks before the shards. */
    def header: Array[Byte]
    /** Write one length-prefixed record. */
    def write(r: R, out: OutputStream): Unit
    /** Contig index, -1 = unplaced. */
    def refId(r: R): Int
    /** 0-based start, -1 = none. */
    def pos0(r: R): Int
    /** 1-based inclusive end; asked only when `pos0 >= 0`. */
    def end1(r: R): Int
  }

  /** One committed shard: its compressed length, its shard-relative
    * `.sidx` entries (vo, refId, pos0), whether its records are in
    * coordinate order, its first and last sort keys ([[sortKey]];
    * meaningless when `entries` is empty, i.e. no records) and its
    * max record span. */
  final case class Shard(pid: Int, length: Long, entries: Array[(Long, Int, Int)],
                         sorted: Boolean, first: Long, last: Long, maxSpan: Int)

  /** Coordinate order as one long, unplaced records (refId -1) last —
    * the order [[BamIO.coordinateSorted]] writes. */
  private def sortKey(refId: Int, pos0: Int): Long =
    (if (refId < 0) Int.MaxValue else refId).toLong * 4294967296L + (pos0.toLong + 2147483648L)

  /** Incremental header-less shard writer (one record at a time —
    * nothing buffers the partition), driven by the DataSource V2
    * sink's per-row writes. */
  private[sources] final class ShardWriter[R](path: Path, codec: Codec[R],
                                              granularity: Int, pid: Int) {
    private val out = {
      val (fs, _) = Fs.get(path.toString)
      new Bgzf.BgzfOutputStream(fs.create(path, true))
    }
    private val entries = new ArrayBuffer[(Long, Int, Int)]()
    private var n = 0L
    private var sorted = true
    private var first = 0L
    private var last = 0L
    private var maxSpan = 0

    def write(r: R): Unit = {
      val refId = codec.refId(r)
      val pos0 = codec.pos0(r)
      if (n % granularity == 0) {
        // align indexed records to block starts
        out.blockBoundary()
        entries += ((Bgzf.virtualOffset(out.compressedOffset, 0), refId, pos0))
      }
      val key = sortKey(refId, pos0)
      if (n == 0) first = key else if (key < last) sorted = false
      last = key
      if (pos0 >= 0) maxSpan = math.max(maxSpan, codec.end1(r) - pos0)
      codec.write(r, out)
      n += 1
    }

    def finish(): Shard = {
      out.blockBoundary()
      val length = out.compressedOffset
      out.closeWithoutTerminator()
      Shard(pid, length, entries.toArray, sorted, first, last, maxSpan)
    }

    def abort(): Unit =
      try out.closeWithoutTerminator()
      catch { case _: IOException => () }
  }

  /** Driver merge: the header + the shards in pid order + the EOF
    * terminator, then the `.sidx` ([[SplittingIndex.mergeShards]]),
    * whose max span is -1 (no pruning) unless the records are sorted
    * within and across shards. */
  private[sources] def merge(file: String, codec: Codec[_], tmpDir: String,
                             shards: Seq[Shard], granularity: Int): Unit = {
    val inOrder = shards.sortBy(_.pid)
    val placed = inOrder.filter(_.entries.nonEmpty)
    val sorted = placed.forall(_.sorted) &&
      placed.zip(placed.drop(1)).forall { case (a, b) => a.last <= b.first }
    SplittingIndex.mergeShards(file, codec.header, tmpDir, codec.ext, inOrder, granularity,
      if (sorted) inOrder.map(_.maxSpan).foldLeft(0)(math.max) else -1)
  }

  // ----------------------------------------------------------------- read

  /** The planner of every BAM and BCF read face: record-aligned
    * virtual-offset ranges [start, end).  With intervals, the format's
    * binning index (`binning`: `.bai`/`.csi`) gives chunk-precise
    * ranges, plus the unplaced tail when `includeUnmapped` (it has no
    * entries for it); otherwise the `.sidx` granules, coalesced to
    * `splitSize` and pruned against the intervals when its max span is
    * known and `sidxPrunable` (BAM: the header also claims coordinate
    * order, since `.sidx` files written before the writer checked the
    * records carry a span over any rows); with neither, split guessing
    * with `guessRecord`.  Intervals on a contig outside `contigs` match
    * nothing. */
  private[sources] def plan(file: String, headerEndVo: Long, contigs: Seq[String],
                            intervals: Seq[(String, Int, Int)], splitSize: Long,
                            includeUnmapped: Boolean, sidxPrunable: Boolean)
                           (binning: (FileSystem, Path) => Option[BinIndex.Index],
                            guessRecord: Array[Byte] => Int): Seq[(Long, Long)] = {
    val (fs, path) = Fs.get(file)
    lazy val fileLen = fs.getFileStatus(path).getLen
    val refIdOf = contigs.zipWithIndex.toMap
    val queries = intervals.flatMap { case (c, s, e) => refIdOf.get(c).map(ri => (ri, s, e)) }
    val bounded = intervals.nonEmpty
    (if (bounded) binning(fs, path) else None).map { idx =>
      // unplaced records sort after every mapped chunk
      lazy val mappedEndVo = idx.refs.iterator.flatMap(idx.dataBins).flatMap(_._2)
        .map(_.end).foldLeft(headerEndVo)(math.max)
      idx.ranges(queries, splitSize) ++
        (if (includeUnmapped) Seq((mappedEndVo, Bgzf.virtualOffset(fileLen, 0))) else Nil)
    }.orElse {
      SplittingIndex.read(fs, SplittingIndex.indexPath(path)).map(
        _.ranges(headerEndVo, Some(queries).filter(_ => bounded && sidxPrunable), splitSize,
          includeUnmapped))
    }.getOrElse {
      splitsByGuessing(fs, path, fileLen, headerEndVo, splitSize, guessRecord)
        .sliding(2).collect { case Array(a, b) if a < b => (a, b) }.toSeq
    }
  }

  /** No index: fixed byte-range split targets; at each target the
    * driver finds the next BGZF block, inflates a window, and asks
    * `guessRecord` for the first record-start offset within it
    * (BAMSplitGuesser.java / BCFSplitGuesser.java re-expressed). */
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

  /** Records whose start virtual offset lies in [startVo, endVo) —
    * both bounds record starts, as every planned range is — plus a
    * closer for consumers that may abandon the iterator early
    * (DataSource V2 readers under LIMIT). */
  private[sources] def openRange[R >: Null](file: String, startVo: Long, endVo: Long)
                                          (read: InputStream => R): (Iterator[R], () => Unit) = {
    val in = Bgzf.openAt(file, startVo)
    records[R](in, () => in.virtualPos >= endVo)(read)
  }

  /** `read` (one record, or null at the stream's clean end) applied
    * until it returns null or `atEnd()`; the stream closes itself on
    * exhaustion. */
  private[sources] def records[R >: Null](in: InputStream, atEnd: () => Boolean)
                                         (read: InputStream => R): (Iterator[R], () => Unit) = {
    val it = new Iterator[R] {
      private var nextR: R = null
      private var done = false
      override def hasNext: Boolean = {
        if (nextR == null && !done) {
          nextR = if (atEnd()) null else read(in)
          if (nextR == null) { done = true; in.close() }
        }
        nextR != null
      }
      override def next(): R = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextR; nextR = null; r
      }
    }
    (it, () => try in.close() catch { case _: IOException => () })
  }

  /** Little-endian int32, or -1 at a clean end of stream. */
  private[sources] def readIntLe(in: InputStream): Int = {
    val a = in.read()
    if (a < 0) return -1
    val b = in.read(); val c = in.read(); val d = in.read()
    if ((b | c | d) < 0) throw new EOFException("truncated record length")
    a | (b << 8) | (c << 16) | (d << 24)
  }

  /** `n` bytes of one record. */
  private[sources] def readFully(in: InputStream, n: Int, what: String): Array[Byte] = {
    if (n < 0) throw new IOException(s"$what: length $n")
    val out = new Array[Byte](n)
    var o = 0
    while (o < n) {
      val r = in.read(out, o, n - o)
      if (r < 0) throw new EOFException(s"truncated $what")
      o += r
    }
    out
  }
}
