package graft.sources

import java.io.{BufferedInputStream, InputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Byte-range splittable line reading — the Hadoop text-split
  * discipline re-expressed without Hadoop InputFormats, for plain AND
  * BGZF-compressed text (S14: BGZF as a splittable codec for any text
  * format; boundaries go on BGZF block starts found by the split
  * guesser, ref: util/BGZFCodec.java + BGZFSplitGuesser.java).
  *
  * Ownership protocol (classic text-split semantics): with range
  * bounds b_0 < b_1 < ... in the position domain (byte offset for
  * plain files, virtual offset for BGZF), range [b_i, b_{i+1}) owns
  * every line whose first byte sits at position p with
  * b_i < p <= b_{i+1} (range 0 also owns p = 0).  A reader skips its
  * first (possibly partial) line unless it starts at 0, and reads past
  * its end to finish the last owned line.  Exactly one reader owns
  * each line, with no coordination between tasks.
  */
object RangedText {

  /** Line + the position of its first byte (byte offset for plain
    * files, BGZF virtual offset for compressed ones). */
  final case class Line(offset: Long, text: String)

  /** Container compression of a text file, sniffed by magic (never
    * extension — a `.gz` may be either BGZF or plain gzip, ref:
    * util/BGZFEnhancedGzipCodec.java).  BGZF splits at block bounds;
    * plain gzip is NOT splittable and reads as one whole-file range,
    * exactly the reference codec's fallback. */
  sealed trait Compression extends Serializable
  case object PlainText extends Compression
  case object BgzfText extends Compression
  case object GzipText extends Compression

  def compression(path: String): Compression = {
    val (fs, p) = Fs.get(path)
    val in = fs.open(p)
    try {
      val hdr = new Array[Byte](18)
      var n = 0
      var r = 0
      while (n < hdr.length && r >= 0) { r = in.read(hdr, n, hdr.length - n); if (r > 0) n += r }
      if (n >= 18 && Bgzf.parseBsize(hdr, 0) > 0) BgzfText
      else if (n >= 2 && (hdr(0) & 0xff) == 0x1f && (hdr(1) & 0xff) == 0x8b) GzipText
      else PlainText
    } finally in.close()
  }

  def isBgzf(path: String): Boolean = compression(path) == BgzfText

  /** One decoded stream from offset 0 whatever the container —
    * for header reads and magic sniffing. */
  def openDecoded(path: String): InputStream = {
    val (fs, p) = Fs.get(path)
    val buf = new BufferedInputStream(fs.open(p))
    compression(path) match {
      case BgzfText => new Bgzf.BgzfInputStream(buf)
      case GzipText => new java.util.zip.GZIPInputStream(buf)
      case PlainText => buf
    }
  }

  /** Compressed-domain range bounds: [start, end) pairs. */
  def ranges(path: String, splitSize: Long): Seq[(Long, Long)] = {
    val (fs, p) = Fs.get(path)
    val len = fs.getFileStatus(p).getLen
    val bounds: Seq[Long] = compression(path) match {
      case PlainText => ((0L until len by splitSize) :+ len).distinct
      case BgzfText => blockAlignedBounds(path, len, splitSize)
      case GzipText => Seq(0L, len) // not splittable: one whole-file range
    }
    bounds.sliding(2).collect { case Seq(a, b) if a < b => (a, b) }.toSeq
  }

  /** The split size Spark's own file scan picks for `path` (its
    * `maxSplitBytes` rule: the file's bytes plus the open cost, spread
    * over the default parallelism, within [open cost, max partition
    * bytes]), for typed readers whose signature takes no split size. */
  def sparkSplitSize(spark: SparkSession, path: String): Long = {
    val conf = SQLConf.get
    val (fs, p) = Fs.get(path)
    val perCore = (fs.getFileStatus(p).getLen + conf.filesOpenCostInBytes) /
      math.max(1, spark.sparkContext.defaultParallelism)
    math.min(conf.filesMaxPartitionBytes, math.max(conf.filesOpenCostInBytes, perCore))
  }

  /** Upper bound on owned line-start positions for range [start, end)
    * in the reader's position domain (virtual offsets for BGZF,
    * decompressed offsets for gzip — where the single range owns
    * everything). */
  def endBound(end: Long, comp: Compression): Long = comp match {
    case BgzfText => Bgzf.virtualOffset(end, 0)
    case GzipText => Long.MaxValue
    case PlainText => end
  }

  /** BGZF: place range bounds on verified block starts near each
    * splitSize target — from the `.gbi` block index when one exists
    * (binary search, no I/O per target), else by window-scanning for
    * block magic at each target. */
  private def blockAlignedBounds(path: String, len: Long, splitSize: Long): Seq[Long] = {
    val (fs, p) = Fs.get(path)
    BgzfBlockIndex.read(fs, BgzfBlockIndex.indexPath(p)) match {
      case Some((offsets, idxLen)) if idxLen == len =>
        val out = scala.collection.mutable.ArrayBuffer(0L)
        var t = splitSize
        while (t < len) {
          val b = BgzfBlockIndex.ceilOffset(offsets, len, t)
          if (b < len) out += b
          t += splitSize
        }
        out += len
        out.distinct.sorted.toSeq
      case _ =>
        val raw = fs.open(p)
        try {
          val out = scala.collection.mutable.ArrayBuffer(0L)
          var t = splitSize
          while (t < len) {
            raw.seek(t)
            val window = new Array[Byte](256 * 1024)
            var n = 0; var r = 0
            while (n < window.length && r >= 0) { r = raw.read(window, n, window.length - n); if (r > 0) n += r }
            val off = Bgzf.findBlockStart(java.util.Arrays.copyOf(window, n), 0)
            if (off >= 0 && t + off < len) out += t + off
            t += splitSize
          }
          out += len
          out.distinct.sorted.toSeq
        } finally raw.close()
    }
  }

  /** Iterator of lines owned by the compressed-domain range
    * [start, end) under the protocol above.  With `stopAtEnd = false`
    * the iterator keeps yielding past the bound to EOF — used by
    * multi-line framers (FASTQ) that stop on their own record-head
    * ownership rule but need the tail lines of their last record. */
  def readLines(path: String, start: Long, end: Long, comp: Compression,
                stopAtEnd: Boolean = true): Iterator[Line] =
    openLines(path, start, end, comp, stopAtEnd)._1

  /** Lines of a BGZF VIRTUAL-OFFSET chunk [startVo, endVo): reading
    * starts exactly at startVo (an index-supplied record start — no
    * first-line skip, unlike the split-ownership protocol above) and
    * stops at the first line whose start VO reaches endVo.  This is
    * the read shape of tabix/BAI chunk resolution, where both bounds
    * point at record boundaries. */
  def openLinesAtVo(path: String, startVo: Long, endVo: Long)
      : (Iterator[Line], () => Unit) = {
    val in = Bgzf.openAt(path, startVo)
    val lines = new LineBuffer(in)
    val it = new Iterator[Line] {
      private var nextLine: Line = _
      private var finished = false
      private def fetch(): Unit = {
        if (finished) return
        val lineStart = in.virtualPos
        val s = if (lineStart >= endVo) null else lines.readLine()
        if (s == null) { finished = true; in.close() }
        else nextLine = Line(lineStart, s)
      }
      override def hasNext: Boolean = {
        if (nextLine == null && !finished) fetch()
        nextLine != null
      }
      override def next(): Line = {
        if (!hasNext) throw new NoSuchElementException
        val l = nextLine; nextLine = null; l
      }
    }
    (it, () => try in.close() catch { case _: java.io.IOException => () })
  }

  /** Bytes the line loop scans in place: [[fill]] makes some available
    * (false at the end), `window(windowPos until windowLim)` are they,
    * [[consume]] takes the first `n`. */
  private[sources] trait ByteWindow {
    def fill(): Boolean
    def window: Array[Byte]
    def windowPos: Int
    def windowLim: Int
    def consume(n: Int): Unit
    def close(): Unit
  }

  /** A plain or gzip stream read through a 64 KiB buffer (one bulk
    * read per fill: `BufferedInputStream.read()` takes a lock per byte,
    * a gzip stream inflates one byte per call). */
  private[sources] final class StreamWindow(in: java.io.InputStream) extends ByteWindow {
    val window = new Array[Byte](1 << 16)
    var windowPos = 0
    var windowLim = 0
    def fill(): Boolean = windowPos < windowLim || {
      windowLim = math.max(0, in.read(window, 0, window.length))
      windowPos = 0
      windowLim > 0
    }
    def consume(n: Int): Unit = windowPos += n
    def close(): Unit = in.close()
  }

  /** The one text-line loop of every line read (plain, gzip and BGZF
    * ranges, index chunks, the `.tbi` builder): scans the source's
    * window for '\n', gathers a line's bytes across window edges — so
    * a multi-byte character split by an edge reassembles — and decodes
    * them as UTF-8, one trailing '\r' dropped.  Positions stay byte
    * based: [[consumed]] counts bytes, a BGZF source's virtual offset
    * moves line by line. */
  private[sources] final class LineBuffer(src: ByteWindow) {
    private var acc = new Array[Byte](256)
    private var n = 0
    /** Bytes the last [[readLine]] consumed, its '\n' included. */
    var consumed = 0L

    /** The next line without its '\n', or null at EOF. */
    def readLine(): String = {
      consumed = 0
      n = 0
      var gathered = false
      while (src.fill()) {
        val buf = src.window
        val p = src.windowPos
        val lim = src.windowLim
        var i = p
        while (i < lim && buf(i) != '\n') i += 1
        if (i < lim) {
          src.consume(i - p + 1)
          consumed += i - p + 1
          if (!gathered) return decode(buf, p, i - p)
          append(buf, p, i - p)
          return decode(acc, 0, n)
        }
        append(buf, p, i - p)
        gathered = true
        src.consume(i - p)
        consumed += i - p
      }
      if (gathered) decode(acc, 0, n) else null
    }

    private def append(b: Array[Byte], off: Int, len: Int): Unit = {
      if (n + len > acc.length) acc = java.util.Arrays.copyOf(acc, math.max(2 * acc.length, n + len))
      System.arraycopy(b, off, acc, n, len)
      n += len
    }

    private def decode(b: Array[Byte], off: Int, len: Int): String =
      new String(b, off, if (len > 0 && b(off + len - 1) == '\r') len - 1 else len,
        java.nio.charset.StandardCharsets.UTF_8)

    def close(): Unit = src.close()
  }

  /** [[readLines]] plus an explicit closer for consumers that may
    * abandon the iterator early (DataSource V2 readers under LIMIT):
    * the stream otherwise closes only at range end / EOF. */
  def openLines(path: String, start: Long, end: Long, comp: Compression,
                stopAtEnd: Boolean = true): (Iterator[Line], () => Unit) = {
    require(comp != GzipText || start == 0,
      s"plain gzip is not splittable; got range start $start for $path")
    val (fs, p) = Fs.get(path)
    val raw = fs.open(p)
    raw.seek(start)
    val bgzf = if (comp == BgzfText)
      new Bgzf.BgzfInputStream(new BufferedInputStream(raw), start) else null
    val text = new LineBuffer(comp match {
      case GzipText => new StreamWindow(new java.util.zip.GZIPInputStream(new BufferedInputStream(raw)))
      case PlainText => new StreamWindow(raw)
      case BgzfText => bgzf
    })
    var plainPos = start // byte offset (plain) / decompressed offset (gzip)
    def position: Long = if (bgzf != null) bgzf.virtualPos else plainPos
    def close(): Unit = text.close()
    val endBound: Long = RangedText.endBound(end, comp)

    val it = new Iterator[Line] {
      private var nextLine: Line = _
      private var finished = false
      private var first = true

      /** Read the line at the current position, or null at EOF. */
      private def readOne(): Line = {
        val lineStart = position
        val s = text.readLine()
        plainPos += text.consumed
        if (s == null) null else Line(lineStart, s)
      }

      private def fetch(): Unit = {
        if (finished) return
        if (first) {
          first = false
          if (start > 0) readOne() // discard the unowned first line
        }
        val pos = position
        if (stopAtEnd && pos > endBound) { finished = true; close(); return }
        val l = readOne()
        if (l == null) { finished = true; close() } else nextLine = l
      }
      override def hasNext: Boolean = {
        if (nextLine == null && !finished) fetch()
        nextLine != null
      }
      override def next(): Line = {
        if (!hasNext) throw new NoSuchElementException
        val l = nextLine; nextLine = null; l
      }
    }
    (it, () => try close() catch { case _: java.io.IOException => () })
  }
}
