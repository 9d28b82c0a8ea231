package graft.sources

import java.io.{BufferedInputStream, BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.ReferenceFragment

/** FASTA reference input (S8; ref: FastaInputFormat.java,
  * ReferenceFragment.java — input only, like the reference).
  *
  * A line of sequence only makes sense with its contig name and its
  * 1-based start position within the contig, both of which depend on
  * everything before it — so split placement is done on the DRIVER
  * with one cheap sequential metadata scan (record the byte offset,
  * name and cumulative position of every contig and every ~splitSize
  * boundary), and tasks then read their ranges with full context.
  * Reference genomes are ~GBs (vs TB alignment data): one driver scan
  * is the right trade, and it is what makes the per-line fragments
  * exactly positioned (the reference format does the same job with a
  * per-split re-scan).
  */
object Fasta {

  /** Split plan entry: byte range + contig name + 1-based start
    * position of the range's first sequence character. */
  final case class FastaRange(start: Long, end: Long, contig: String, startPos: Long)

  /** One `.fai` line (samtools faidx layout): contig name, total
    * bases, byte offset of the first sequence char, bases per full
    * line, bytes per full line (incl. terminator).  Random access:
    * byte(pos) = offset + (pos-1) DIV lineBases · lineWidth
    *                    + (pos-1) MOD lineBases. */
  final case class FaiEntry(name: String, length: Long, offset: Long,
                            lineBases: Int, lineWidth: Int) {
    def byteOf(pos1: Long): Long =
      offset + (pos1 - 1) / lineBases * lineWidth + (pos1 - 1) % lineBases
  }

  def faiPath(path: String): String = path + ".fai"

  /** Line reader reporting the EXACT byte width of each line
    * including its terminator (\n or \r\n) — BufferedReader hides the
    * terminator, which corrupts byte arithmetic on CRLF files. */
  private class ByteLineReader(raw: java.io.InputStream, bufSize: Int = 1 << 20) {
    private val in = new BufferedInputStream(raw, bufSize)
    /** Byte width of the line last returned, terminator included. */
    var lastWidth: Int = 0
    def readLine(): String = {
      var c = in.read()
      if (c < 0) { lastWidth = 0; return null }
      val sb = new java.lang.StringBuilder(96)
      var w = 0
      while (c >= 0 && c != '\n') { sb.append(c.toChar); w += 1; c = in.read() }
      if (c == '\n') w += 1
      lastWidth = w
      if (sb.length() > 0 && sb.charAt(sb.length() - 1) == '\r')
        sb.setLength(sb.length() - 1)
      sb.toString
    }
    def close(): Unit = in.close()
  }

  /** Build the index with one sequential driver scan.  Like samtools,
    * requires every sequence line of a contig except the last to have
    * the same length — otherwise arithmetic random access is
    * impossible and build fails loudly. */
  def buildFai(path: String): Seq[FaiEntry] = {
    val (fs, p) = Fs.get(path)
    val in = new ByteLineReader(fs.open(p))
    val out = scala.collection.mutable.ArrayBuffer[FaiEntry]()
    try {
      var offset = 0L
      var name: String = null
      var seqOffset = 0L
      var length = 0L
      var lineBases = 0
      var lineWidth = 0
      var lastLineLen = -1 // -1: no line yet; otherwise previous line's bases
      def close(): Unit = if (name != null) {
        // the LAST line may be short but never long — a final line
        // wider than lineBases breaks random-access arithmetic (and
        // samtools rejects the file)
        require(lastLineLen <= lineBases || lineBases == 0,
          s"$path: contig $name ends with a ${lastLineLen}-base line wider " +
            s"than its $lineBases-base line length — cannot faidx")
        out += FaiEntry(name, length, seqOffset,
          math.max(lineBases, 1), math.max(lineWidth, 2))
        name = null
      }
      var line = in.readLine()
      while (line != null) {
        // real file bytes incl. terminator (CRLF-safe)
        val w = in.lastWidth
        if (line.startsWith(">")) {
          close()
          name = line.drop(1).split("\\s+")(0)
          seqOffset = offset + w
          length = 0; lineBases = 0; lineWidth = 0; lastLineLen = -1
        } else if (line.nonEmpty) {
          require(name != null, s"$path: sequence before any '>' header")
          // a previous line shorter than the established width means
          // uneven interior lines — random access would be wrong
          require(lastLineLen == -1 || lastLineLen == lineBases,
            s"$path: contig $name has uneven sequence lines " +
              s"($lastLineLen then ${line.length} bases) — cannot faidx")
          if (lineBases == 0) { lineBases = line.length; lineWidth = w }
          lastLineLen = line.length
          length += line.length
        }
        offset += w
        line = in.readLine()
      }
      close()
    } finally in.close()
    out.toSeq
  }

  def writeFai(path: String, entries: Seq[FaiEntry]): Unit = {
    val (fs, _) = Fs.get(path)
    val w = fs.create(new Path(faiPath(path)), true)
    try w.write(entries.map(e =>
      s"${e.name}\t${e.length}\t${e.offset}\t${e.lineBases}\t${e.lineWidth}")
      .mkString("", "\n", "\n").getBytes(UTF_8))
    finally w.close()
  }

  def buildAndWriteFai(path: String): Seq[FaiEntry] = {
    val entries = buildFai(path)
    writeFai(path, entries)
    entries
  }

  def readFai(path: String): Option[Seq[FaiEntry]] = {
    val (fs, _) = Fs.get(path)
    val ip = new Path(faiPath(path))
    if (!fs.exists(ip)) return None
    val in = new BufferedReader(new InputStreamReader(fs.open(ip), UTF_8))
    try {
      val entries = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).map { l =>
          val f = l.split("\t")
          FaiEntry(f(0), f(1).toLong, f(2).toLong, f(3).toInt, f(4).toInt)
        }.toSeq
      // an empty/truncated sidecar (e.g. a crashed writer) must NOT
      // read as "zero contigs" — fall back to the scan path instead
      if (entries.isEmpty) None else Some(entries)
    } finally in.close()
  }

  /** samtools-faidx-style subsequence fetch (1-based inclusive):
    * ONE seek to byte(start), read ceil bytes, drop line terminators.
    * Driver-side — regions are primer/locus sized; distributed reads
    * go through [[readRegions]]. */
  def region(path: String, contig: String, start1: Long, end1: Long): String = {
    // build in memory when no sidecar exists — a READ must not write
    // into the (possibly read-only) source directory
    val fai = readFai(path).getOrElse(buildFai(path))
    val e = fai.find(_.name == contig).getOrElse(
      throw new IllegalArgumentException(s"$path: no contig $contig in .fai"))
    fetch(path, e, start1, end1)
  }

  /** One-seek subsequence read given an already-resolved index entry
    * (executor-side path: no sidecar read per task). */
  private[sources] def fetch(path: String, e: FaiEntry, start1: Long, end1: Long): String = {
    val s = math.max(1L, start1)
    val t = math.min(e.length, end1)
    if (t < s) return ""
    val from = e.byteOf(s)
    val until = e.byteOf(t) + 1 // inclusive last base
    require(until - from <= (1L << 30),
      s"region $s-$t spans ${until - from} bytes; single-buffer fetch is " +
        "capped at 1 GiB — use readRegions for chromosome-scale ranges")
    val (fs, p) = Fs.get(path)
    val raw = fs.open(p)
    try {
      raw.seek(from)
      val buf = new Array[Byte]((until - from).toInt)
      raw.readFully(buf)
      val sb = new java.lang.StringBuilder((t - s + 1).toInt)
      buf.foreach { b => if (b != '\n' && b != '\r') sb.append(b.toChar) }
      sb.toString
    } finally raw.close()
  }

  /** Index-driven split plan: byte ranges fall on sequence-line
    * boundaries computed FROM the `.fai`, so planning is O(contigs)
    * arithmetic — no driver scan of the (possibly huge) reference. */
  private[sources] def planRangesFai(entries: Seq[FaiEntry], splitSize: Long): Seq[FastaRange] =
    entries.flatMap { e =>
      // split every ~splitSize bytes, rounded down to whole lines
      val linesPerSplit = math.max(1L, splitSize / math.max(1, e.lineWidth))
      val basesPerSplit = linesPerSplit * e.lineBases
      (1L to e.length by basesPerSplit).map { pos =>
        val endPos = math.min(e.length, pos + basesPerSplit - 1)
        FastaRange(e.byteOf(pos), e.byteOf(endPos) + 1, e.name, pos)
      }
    }

  /** Distributed bounded read: fragments covering only the requested
    * (contig, start, end) intervals (1-based inclusive), split into
    * ≤ splitSize tasks via the index — the FASTA analog of the BAM
    * bounded traversal.  Fragments are whole interval chunks (one row
    * per task), positioned like [[read]]'s per-line fragments. */
  def readRegions(spark: SparkSession, path: String,
                  intervals: Seq[(String, Long, Long)],
                  splitSize: Long = 1L * 1024 * 1024): Dataset[ReferenceFragment] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, planRegions(path, intervals, splitSize), 0)
  }

  /** The [[readRegions]] planner: one partition per ≤ splitSize chunk
    * of each interval, its `.fai` entry in hand (no sidecar read per
    * task). */
  private[sources] def planRegions(path: String, intervals: Seq[(String, Long, Long)],
                                   splitSize: Long): Seq[v2.FastaRegionPartition] = {
    val byName = readFai(path).getOrElse(buildFai(path)).map(e => e.name -> e).toMap
    intervals.flatMap { case (c, s0, t0) =>
      val e = byName.getOrElse(c,
        throw new IllegalArgumentException(s"$path: no contig $c in .fai"))
      val s = math.max(1L, s0)
      val t = math.min(e.length, t0)
      val basesPerSplit = math.max(1L,
        splitSize / math.max(1, e.lineWidth) * e.lineBases)
      (s to t by basesPerSplit).map { pos =>
        v2.FastaRegionPartition(path, e, pos, math.min(t, pos + basesPerSplit - 1))
      }
    }
  }

  def planRanges(path: String, splitSize: Long): Seq[FastaRange] = {
    val (fs, p) = Fs.get(path)
    val len = fs.getFileStatus(p).getLen
    val in = new BufferedInputStream(fs.open(p), 1 << 20)
    val out = scala.collection.mutable.ArrayBuffer[FastaRange]()
    var offset = 0L
    var contig = ""
    var pos = 1L // next sequence char's 1-based position in contig
    var rangeStart = -1L
    var rangeContig = ""
    var rangePos = 1L
    var sinceSplit = 0L

    def closeRange(end: Long): Unit = {
      if (rangeStart >= 0 && end > rangeStart)
        out += FastaRange(rangeStart, end, rangeContig, rangePos)
      rangeStart = -1
    }

    val reader = new ByteLineReader(in)
    var line = reader.readLine()
    while (line != null) {
      val lineLen = reader.lastWidth.toLong // exact bytes, CRLF-safe
      if (line.startsWith(">")) {
        closeRange(offset)
        contig = line.drop(1).split("\\s+")(0)
        pos = 1
        rangeStart = offset + lineLen
        rangeContig = contig
        rangePos = 1
        sinceSplit = 0
      } else if (line.nonEmpty) {
        if (rangeStart < 0) { rangeStart = offset; rangeContig = contig; rangePos = pos }
        pos += line.length
        sinceSplit += lineLen
        if (sinceSplit >= splitSize) {
          closeRange(offset + lineLen)
          rangeStart = offset + lineLen
          rangeContig = contig
          rangePos = pos
          sinceSplit = 0
        }
      }
      offset += lineLen
      line = reader.readLine()
    }
    closeRange(math.min(offset, len))
    reader.close()
    out.toSeq
  }

  /** Per-line fragment iterator for one planned range plus a closer
    * for early-terminated scans (framing rule: read whole lines while
    * the line START is inside the byte budget). */
  private[sources] def openRange(path: String, r: FastaRange)
      : (Iterator[ReferenceFragment], () => Unit) = {
    val (fs, p) = Fs.get(path)
    val raw = fs.open(p)
    raw.seek(r.start)
    val reader = new ByteLineReader(raw)
    var consumed = 0L
    var pos = r.startPos
    val budget = r.end - r.start
    val it = new Iterator[ReferenceFragment] {
      private var nextF: ReferenceFragment = _
      private var done = false
      private def fetch(): Unit = {
        while (nextF == null && !done) {
          if (consumed >= budget) { done = true; reader.close(); return }
          val line = reader.readLine()
          if (line == null) { done = true; reader.close(); return }
          consumed += reader.lastWidth // exact bytes, CRLF-safe
          if (line.nonEmpty && !line.startsWith(">")) {
            nextF = ReferenceFragment(r.contig, pos, line)
            pos += line.length
          }
        }
      }
      override def hasNext: Boolean = { if (nextF == null) fetch(); nextF != null }
      override def next(): ReferenceFragment = {
        if (!hasNext) throw new NoSuchElementException
        val f = nextF; nextF = null; f
      }
    }
    (it, () => try reader.close() catch { case _: java.io.IOException => () })
  }

  /** Line-aligned split plan covering exactly the sequence lines whose
    * START position falls inside one of the (contig, lo, hi) intervals
    * — the chunk-pruning step behind the DSv2 `start`-filter pushdown.
    * Overlapping intervals per contig are merged first so no line is
    * planned (and emitted) twice. */
  private[sources] def planRangesFaiBounded(entries: Seq[FaiEntry], splitSize: Long,
      intervals: Seq[(String, Long, Long)]): Seq[FastaRange] = {
    val byName = entries.map(e => e.name -> e).toMap
    intervals.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (c, ivs) =>
      byName.get(c).toSeq.flatMap { e =>
        // merge per contig: disjoint merged intervals contain disjoint
        // line-start sets, so ranges never duplicate a line
        val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        ivs.map(i => (math.max(1L, i._2), math.min(e.length, i._3)))
          .filter(i => i._1 <= i._2).sortBy(_._1).foreach { i =>
            if (merged.nonEmpty && i._1 <= merged.last._2 + 1)
              merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, i._2))
            else merged += i
          }
        val lb = e.lineBases.toLong
        val basesPerSplit =
          math.max(1L, splitSize / math.max(1, e.lineWidth)) * lb
        merged.flatMap { case (lo, hi) =>
          val firstStart = (lo + lb - 2) / lb * lb + 1 // first line start >= lo
          val lastStart = (hi - 1) / lb * lb + 1 // last line start <= hi
          if (lastStart < firstStart) Nil
          else {
            val endPos = math.min(e.length, lastStart + lb - 1)
            (firstStart to endPos by basesPerSplit).map { pos =>
              val chunkEnd = math.min(endPos, pos + basesPerSplit - 1)
              FastaRange(e.byteOf(pos), e.byteOf(chunkEnd) + 1, e.name, pos)
            }
          }
        }
      }
    }
  }

  /** One ReferenceFragment per sequence line, exactly positioned.
    * With a `.fai` sidecar present, split planning is pure index
    * arithmetic; otherwise one driver metadata scan. */
  def read(spark: SparkSession, path: String,
           splitSize: Long = 16L * 1024 * 1024): Dataset[ReferenceFragment] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, plan(path, splitSize, Nil), 0)
  }

  /** The FASTA planner of every read face: line-aligned byte ranges
    * from the `.fai` (pruned to the lines whose start falls in
    * `intervals`, when given), else from one driver metadata scan with
    * no pruning (the SQL face's residual filters keep results exact). */
  private[sources] def plan(path: String, splitSize: Long,
                            intervals: Seq[(String, Long, Long)]): Seq[v2.FastaPartition] = {
    val ranges = readFai(path) match {
      case Some(entries) if intervals.nonEmpty =>
        planRangesFaiBounded(entries, splitSize, intervals)
      case Some(entries) => planRangesFai(entries, splitSize)
      case None => planRanges(path, splitSize)
    }
    ranges.map(v2.FastaPartition(path, _))
  }
}
