package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException, InputStream, OutputStream}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** The binning index behind `.bai`, `.csi` and `.tbi`: one scheme
  * (SAM spec §5, CSIv1, tabix), so one model, one accumulator that
  * every builder feeds, one chunk resolver, one range planner and one
  * little-endian codec.  [[Bai]], [[Csi]] and [[Tabix]] keep only
  * their file layout and the entry points callers use.
  *
  * Binning: a record [beg, end) lands in the smallest bin of a
  * `depth`-level tree (leaves of 2^minShift bases, each level up 8×
  * wider) that holds it.  BAI and TBI fix min_shift=14, depth=5; CSI
  * parameterizes both, so long contigs index fine.  Lower bounds: the
  * window minima (smallest start VO of a record overlapping each
  * 2^minShift window — BAI/TBI store them as the linear index) and,
  * per bin, the window minimum of the bin's first window (CSI's
  * `loffset`).  The metadata pseudo-bin (maxBin+1; htslib stores
  * file-span VOs and record counts there) is kept as the file holds it
  * and never resolves to chunks.  The role LinearBAMIndex.java and the
  * tabix filter of VCFInputFormat.java:388-460 play in the reference.
  */
object BinIndex {

  final case class Chunk(beg: Long, end: Long) // virtual offsets

  /** One contig: its bins' chunks (with the pseudo-bin when the file
    * carries one), the window minima `linear` (0 = no record) and the
    * per-bin lower bounds `loffsets` (absent = 0).  A built index has
    * both bounds; a read one has those its layout stores. */
  final case class RefIndex(bins: Map[Int, Seq[Chunk]], linear: Array[Long],
                            loffsets: Map[Int, Long] = Map.empty)

  final case class Index(minShift: Int, depth: Int, refs: Array[RefIndex]) {
    val pseudoBin: Int = BinIndex.pseudoBin(depth)

    /** The bins that hold record chunks: all but the pseudo-bin. */
    def dataBins(r: RefIndex): Iterator[(Int, Seq[Chunk])] =
      r.bins.iterator.filter(_._1 != pseudoBin)

    /** Merged chunks that can hold a record overlapping [start1, end1]
      * (1-based inclusive) on `refId`, cut below at the lower bound for
      * `start1`: the window minimum of its window (past the last
      * window, the last one — htslib's rule), raised to the largest
      * `loffset` of a bin holding it.  Both are valid: a record
      * overlapping the query overlaps that window or starts after it,
      * so by coordinate order its VO is no smaller. */
    def chunksFor(refId: Int, start1: Int, end1: Int): Seq[Chunk] = {
      if (refId < 0 || refId >= refs.length) return Nil
      val r = refs(refId)
      val beg = math.max(0, start1 - 1)
      val lin = if (r.linear.isEmpty) 0L
        else r.linear(math.min(beg >> minShift, r.linear.length - 1))
      val minVo = reg2bins(beg, beg + 1, minShift, depth)
        .foldLeft(lin)((m, b) => math.max(m, r.loffsets.getOrElse(b, 0L)))
      // reg2bins never yields the pseudo-bin: it clamps to the tree
      merge(reg2bins(beg, end1, minShift, depth)
        .flatMap(b => r.bins.getOrElse(b, Nil))
        .filter(_.end > minVo)
        .map(c => Chunk(math.max(c.beg, minVo), c.end)))
    }

    /** The bounded-traversal plan of BAM and BCF: disjoint VO ranges
      * holding every record that overlaps `queries` ((refId, start1,
      * end1), 1-based inclusive) — their merged chunks, each cut once
      * it spans `splitSize` compressed bytes, and only at a record
      * start the index knows (a chunk start, a window minimum, a bin
      * `loffset`).  No range starts mid-record and none overlaps
      * another, so no cross-task ownership rule is needed. */
    def ranges(queries: Seq[(Int, Int, Int)], splitSize: Long): Seq[(Long, Long)] = {
      val chunks = merge(queries.flatMap { case (ri, s, e) => chunksFor(ri, s, e) })
      lazy val starts = refs.iterator.flatMap { r =>
        dataBins(r).flatMap { case (b, cs) => r.loffsets.get(b) ++ cs.map(_.beg) } ++
          r.linear.iterator
      }.filter(_ > 0).toArray.distinct.sorted
      chunks.flatMap { c =>
        val out = mutable.ArrayBuffer[(Long, Long)]()
        var segStart = c.beg
        var i = java.util.Arrays.binarySearch(starts, c.beg + 1) match {
          case neg if neg < 0 => -neg - 1
          case exact => exact
        }
        while (i < starts.length && starts(i) < c.end) {
          if (Bgzf.voCompressed(starts(i)) - Bgzf.voCompressed(segStart) >= splitSize) {
            out += ((segStart, starts(i)))
            segStart = starts(i)
          }
          i += 1
        }
        out += ((segStart, c.end))
        out
      }
    }
  }

  /** Sorted, with overlapping or touching chunks joined. */
  def merge(chunks: Seq[Chunk]): Seq[Chunk] = {
    val out = mutable.ArrayBuffer[Chunk]()
    chunks.sortBy(_.beg).foreach { c =>
      if (out.nonEmpty && c.beg <= out.last.end)
        out(out.length - 1) = Chunk(out.last.beg, math.max(out.last.end, c.end))
      else out += c
    }
    out.toSeq
  }

  // ------------------------------------------------------------ binning

  /** Metadata pseudo-bin number at `depth` levels: maxBin+1, 37450 at
    * BAI's depth 5. */
  def pseudoBin(depth: Int): Int = ((1 << (3 * (depth + 1))) - 1) / 7 + 1

  /** Coordinates at or past the tree capacity 2^(minShift+3·depth)
    * are clamped to the last position: without this, the level-0 term
    * `beg >> s` exceeds 0 and produces bin numbers that collide with
    * bins of OTHER levels (garbage chunk lookups for queries past a
    * contig end).  Indexing rejects such records outright
    * ([[Accumulator]]); clamping keeps querying total and
    * collision-free. */
  private def clampPos(pos: Int, minShift: Int, depth: Int): Int = {
    val cap = 1L << (minShift + 3 * depth)
    if (pos >= cap) (cap - 1).toInt else math.max(pos, 0)
  }

  /** Smallest bin fully containing [beg, end0) 0-based half-open
    * (htslib reg2bin_level generalization).  All shifts are done in
    * Long: minShift + 3·depth reaches 32 at the auto-depth for
    * >512 Mbp contigs, and a JVM Int shift would silently wrap
    * (shift count mod 32), emitting colliding bin numbers. */
  def reg2bin(beg0: Int, end1: Int, minShift: Int, depth: Int): Int = {
    val beg = clampPos(beg0, minShift, depth).toLong
    val end = clampPos(end1 - 1, minShift, depth).toLong
    var l = depth
    var s = minShift
    var t = ((1 << (depth * 3)) - 1) / 7
    while (l > 0) {
      if ((beg >> s) == (end >> s)) return t + (beg >> s).toInt
      l -= 1
      s += 3
      t -= 1 << (l * 3)
    }
    0
  }

  /** All bins overlapping [beg, end0) 0-based half-open. */
  def reg2bins(beg0: Int, end1: Int, minShift: Int, depth: Int): Seq[Int] = {
    val beg = clampPos(beg0, minShift, depth).toLong
    val end = clampPos(end1 - 1, minShift, depth).toLong
    val out = mutable.ArrayBuffer[Int]()
    var l = 0
    var t = 0
    var s = minShift + depth * 3
    while (l <= depth) {
      out ++= (t + (beg >> s).toInt) to (t + (end >> s).toInt)
      s -= 3
      t += 1 << (l * 3)
      l += 1
    }
    out.toSeq
  }

  /** 0-based start position of a bin's interval (clamped to Int range
    * for the capacity-2^32 case). */
  def binStart(bin: Int, minShift: Int, depth: Int): Int = {
    var l = depth
    var t = ((1 << (depth * 3)) - 1) / 7
    while (l > 0 && bin < t) { l -= 1; t -= 1 << (l * 3) }
    val v = (bin - t).toLong << (minShift + 3 * (depth - l))
    math.min(v, Int.MaxValue.toLong).toInt
  }

  /** Smallest depth whose bin tree spans `maxRefLen` bases at
    * `minShift` (htslib derives depth from the longest contig the
    * same way). */
  def depthFor(maxRefLen: Long, minShift: Int = 14): Int = {
    var depth = 0
    while (depth < 16 && (maxRefLen - 1) >> (minShift + 3 * depth) != 0) depth += 1
    math.max(depth, 1)
  }

  // ----------------------------------------------------------- building

  /** The one builder state: feed coordinate-sorted records as (refId,
    * 0-based beg, 1-based inclusive end, start VO, end VO).  Like
    * htslib it rejects an unsorted record and one past the tree's
    * capacity 2^(minShift+3·depth), which no bin can hold.  `name`
    * labels a refId in those errors. */
  final class Accumulator(minShift: Int, depth: Int, name: Int => String = _.toString) {
    private val maxPos = (1L << (minShift + 3 * depth)) - 1
    private final class Ref {
      val bins = mutable.Map[Int, mutable.ArrayBuffer[Chunk]]()
      val winMin = mutable.ArrayBuffer[Long]()
      var first, last, n = 0L
    }
    private val refs = mutable.ArrayBuffer[Ref]()
    private var lastRef = -1
    private var lastBeg = 0

    def add(refId: Int, beg0: Int, end1: Int, startVo: Long, endVo: Long): Unit = {
      val beg = math.max(0, beg0)
      require(refId > lastRef || (refId == lastRef && beg >= lastBeg),
        s"indexing needs a coordinate-sorted file; ${name(refId)}:${beg + 1} " +
          s"after ${name(lastRef)}:${lastBeg + 1}")
      val end0 = math.max(end1, beg + 1)
      require(end0 <= maxPos,
        s"record at ${name(refId)}:${beg + 1} spans past index capacity $maxPos " +
          s"(min_shift=$minShift depth=$depth); increase depth")
      lastRef = refId; lastBeg = beg
      while (refs.length <= refId) refs += new Ref
      val r = refs(refId)
      if (r.n == 0) r.first = startVo
      r.last = endVo
      r.n += 1
      val bs = r.bins.getOrElseUpdate(reg2bin(beg, end0, minShift, depth), mutable.ArrayBuffer())
      if (bs.nonEmpty && bs.last.end == startVo) bs(bs.length - 1) = Chunk(bs.last.beg, endVo)
      else bs += Chunk(startVo, endVo)
      val wEnd = (end0 - 1) >> minShift
      while (r.winMin.length <= wEnd) r.winMin += 0L
      var w = beg >> minShift
      while (w <= wEnd) {
        if (r.winMin(w) == 0L || startVo < r.winMin(w)) r.winMin(w) = startVo
        w += 1
      }
    }

    /** The index over `nRef` contigs (more if records named more);
      * with `meta`, each contig holding records also gets htslib's
      * pseudo-bin: (first start VO, last end VO), (record count, 0). */
    def result(nRef: Int, meta: Boolean): Index = {
      val pseudo = pseudoBin(depth)
      Index(minShift, depth, Array.tabulate(math.max(nRef, refs.length)) { i =>
        if (i >= refs.length) RefIndex(Map.empty, Array.empty)
        else {
          val r = refs(i)
          val bins = r.bins.map { case (b, cs) => b -> cs.toSeq }.toMap
          RefIndex(
            if (meta && r.n > 0) bins + (pseudo -> Seq(Chunk(r.first, r.last), Chunk(r.n, 0L)))
            else bins,
            r.winMin.toArray,
            bins.keys.map { b =>
              val w = binStart(b, minShift, depth) >> minShift
              b -> (if (w < r.winMin.length) r.winMin(w) else 0L)
            }.toMap)
        }
      })
    }
  }

  /** Index a coordinate-sorted BAM in one sequential driver pass (the
    * reference's SplittingBAMIndexer.java shape): each placed record
    * over POS..its CIGAR end.  `depth` <= 0 derives the depth from the
    * header's longest contig — a fixed one would reject records past
    * its capacity on long contigs. */
  def buildBam(file: String, minShift: Int, depth: Int): Index = {
    val (fs, path) = Fs.get(file)
    val in = new Bgzf.BgzfInputStream(new BufferedInputStream(fs.open(path)))
    try {
      val header = BamCodec.readHeader(in)
      val refIdOf = header.refs.map(_.name).zipWithIndex.toMap
      val acc = new Accumulator(minShift,
        if (depth > 0) depth
        else depthFor(math.max(1L, header.refs.map(_.length.toLong).foldLeft(0L)(math.max)), minShift),
        i => if (i < 0) "*" else header.refs(i).name)
      var recStart = in.virtualPos
      var sz = BgzfRecords.readIntLe(in)
      while (sz >= 0) {
        val rec = BamCodec.decode(BgzfRecords.readFully(in, sz, "BAM record"), header.refs, BamCodec.FCigar)
        val recEnd = in.virtualPos
        val refId = refIdOf.getOrElse(rec.rname, -1)
        if (refId >= 0 && rec.pos > 0)
          acc.add(refId, rec.pos - 1, math.max(rec.end, rec.pos), recStart, recEnd)
        recStart = recEnd
        sz = BgzfRecords.readIntLe(in)
      }
      acc.result(header.refs.length, meta = false)
    } finally in.close()
  }

  /** Index a coordinate-sorted BGZF BCF in one driver pass (the role
    * of htslib's `bcftools index`; the walk mirrors
    * BCFSplitGuesser.java's framing: l_shared/l_indiv, then CHROM, POS
    * and rlen lead the shared block). */
  def buildBcf(file: String, minShift: Int, depth: Int): Index = {
    val (dicts, body) = BcfIO.openBody(file)
    try {
      val in = body match {
        case b: Bgzf.BgzfInputStream => b
        case _ => throw new IOException(s"$file: a plain (uncompressed) BCF cannot be indexed")
      }
      val acc = new Accumulator(minShift, depth,
        i => if (i >= 0 && i < dicts.contigs.length) dicts.contigs(i) else i.toString)
      var recStart = in.virtualPos
      var lShared = BgzfRecords.readIntLe(in)
      while (lShared >= 0) {
        val lIndiv = BgzfRecords.readIntLe(in)
        if (lIndiv < 0 || lShared < 12) throw new EOFException("truncated BCF record")
        val shared = java.nio.ByteBuffer.wrap(BgzfRecords.readFully(in, lShared, "BCF record"))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        in.skipNBytes(lIndiv)
        val recEnd = in.virtualPos
        val refId = shared.getInt
        val pos0 = shared.getInt
        val rlen = shared.getInt
        if (refId >= 0 && pos0 >= 0)
          acc.add(refId, pos0, pos0 + math.max(1, rlen), recStart, recEnd)
        recStart = recEnd
        lShared = BgzfRecords.readIntLe(in)
      }
      acc.result(math.max(1, dicts.contigs.length), meta = false)
    } finally body.close()
  }

  /** Index a coordinate-sorted BGZF VCF (tabix `-p vcf`): each record
    * line over POS..[[Vcf.spanEnd]] of its site-masked parse — the very
    * span the bounded read filters by — with contigs numbered in order
    * of first appearance.  Returns the name table and the index. */
  def buildVcf(file: String): (Seq[String], Index) = {
    val names = mutable.ArrayBuffer[String]()
    val refIdOf = mutable.Map[String, Int]()
    val acc = new Accumulator(14, 5, names)
    val in = Bgzf.openAt(file, 0L)
    try {
      val lines = new RangedText.LineBuffer(in)
      var recStart = in.virtualPos
      var line = lines.readLine()
      while (line != null) {
        val recEnd = in.virtualPos
        if (line.nonEmpty && line.charAt(0) != '#') {
          val v = Vcf.parseLine(line, Vcf.FInfo)
          val ri = refIdOf.getOrElseUpdate(v.chrom, { names += v.chrom; names.length - 1 })
          acc.add(ri, v.pos.toInt - 1, Vcf.spanEnd(v), recStart, recEnd)
        }
        recStart = recEnd
        line = lines.readLine()
      }
    } finally in.close()
    (names.toSeq, acc.result(names.length, meta = true))
  }

  // -------------------------------------------------------------- codec

  /** A corrupt index: names the file and the field. */
  private final class Corrupt(path: Path, what: String)
    extends IOException(s"corrupt index $path: $what")

  /** Little-endian writer of the three layouts. */
  private[sources] final class Out(out: OutputStream) {
    private val b = new Array[Byte](8)
    def int32(v: Int): Unit = {
      b(0) = v.toByte; b(1) = (v >> 8).toByte; b(2) = (v >> 16).toByte; b(3) = (v >> 24).toByte
      out.write(b, 0, 4)
    }
    def int64(v: Long): Unit = { int32(v.toInt); int32((v >>> 32).toInt) }
    def bytes(a: Array[Byte]): Unit = out.write(a)

    /** The contig bodies every layout shares: n_bin, then per bin in
      * ascending order its number, CSI's `loffset` and its chunks; then
      * for BAI/TBI the linear index. */
    def refs(idx: Index, csi: Boolean): Unit = idx.refs.foreach { r =>
      int32(r.bins.size)
      r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        int32(bin)
        if (csi) int64(r.loffsets.getOrElse(bin, 0L))
        int32(chunks.length)
        chunks.foreach { c => int64(c.beg); int64(c.end) }
      }
      if (!csi) {
        int32(r.linear.length)
        r.linear.foreach(int64)
      }
    }
  }

  /** Reader of the three layouts, little-endian (and of the big-endian
    * `.sidx`, [[SplittingIndex.read]]).  Nothing is sized from a count
    * it reads — collections grow as entries arrive — so a corrupt count
    * costs at most the bytes the file holds; truncation or a bad value
    * throws naming the file and the field. */
  private[sources] final class In(in: InputStream, path: Path, bigEndian: Boolean = false) {
    def fail(what: String): Nothing = throw new Corrupt(path, what)
    def u8(field: String): Int = {
      val v = in.read()
      if (v < 0) fail(s"truncated at $field")
      v
    }
    def int32(field: String): Int =
      if (bigEndian) (u8(field) << 24) | (u8(field) << 16) | (u8(field) << 8) | u8(field)
      else u8(field) | (u8(field) << 8) | (u8(field) << 16) | (u8(field) << 24)
    def int64(field: String): Long =
      if (bigEndian) (int32(field).toLong << 32) | (int32(field).toLong & 0xffffffffL)
      else (int32(field).toLong & 0xffffffffL) | (int32(field).toLong << 32)
    def count(field: String): Int = {
      val n = int32(field)
      if (n < 0) fail(s"$field = $n")
      n
    }
    def atEnd: Boolean = { in.mark(1); val v = in.read(); in.reset(); v < 0 }
    def bytes(n: Int, field: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (out.size < n) {
        val r = in.read(buf, 0, math.min(buf.length, n - out.size))
        if (r < 0) fail(s"truncated at $field")
        out.write(buf, 0, r)
      }
      out.toByteArray
    }

    /** `n` contig bodies (see [[Out.refs]]). */
    def refs(n: Int, depth: Int, csi: Boolean): Array[RefIndex] = {
      val maxBin = pseudoBin(depth)
      val out = mutable.ArrayBuffer[RefIndex]()
      while (out.length < n) {
        val nBin = count("n_bin")
        val bins = mutable.Map[Int, Seq[Chunk]]()
        val loffsets = mutable.Map[Int, Long]()
        var i = 0
        while (i < nBin) {
          val bin = int32("bin")
          if (bin < 0 || bin > maxBin) fail(s"bin $bin outside 0..$maxBin")
          if (csi) loffsets(bin) = int64("loffset")
          val nChunk = count("n_chunk")
          val chunks = mutable.ArrayBuffer[Chunk]()
          while (chunks.length < nChunk) chunks += Chunk(int64("chunk_beg"), int64("chunk_end"))
          bins(bin) = chunks.toSeq
          i += 1
        }
        val linear = mutable.ArrayBuffer[Long]()
        if (!csi) {
          val nIntv = count("n_intv")
          while (linear.length < nIntv) linear += int64("ioffset")
        }
        out += RefIndex(bins.toMap, linear.toArray, loffsets.toMap)
      }
      out.toArray
    }
  }

  private def magicBytes(magic: String): Array[Byte] = magic.getBytes("ISO-8859-1")

  /** Write one layout: `magic`, then `body`; BGZF-wrapped for CSI and
    * TBI, raw for BAI. */
  private[sources] def writeFile(fs: FileSystem, path: Path, magic: String, bgzf: Boolean)
                                (body: Out => Unit): Unit = {
    val raw = fs.create(path, true)
    val out = if (bgzf) new Bgzf.BgzfOutputStream(raw) else new BufferedOutputStream(raw)
    try {
      out.write(magicBytes(magic))
      body(new Out(out))
    } finally out.close()
  }

  /** Read one layout; None when `path` does not exist.  A wrong magic,
    * truncation, a bad count or a corrupt BGZF block throws an
    * IOException naming `path`. */
  private[sources] def readFile[A](fs: FileSystem, path: Path, magic: String, bgzf: Boolean,
                                   bigEndian: Boolean = false)
                                  (body: In => A): Option[A] = {
    if (!fs.exists(path)) return None
    val raw = new BufferedInputStream(fs.open(path))
    try {
      val in = new In(if (bgzf) new BufferedInputStream(new Bgzf.BgzfInputStream(raw)) else raw,
        path, bigEndian)
      if (!magicBytes(magic).forall(m => in.u8("magic") == (m & 0xff))) in.fail(s"not a $magic file")
      Some(body(in))
    } catch {
      case e: Corrupt => throw e
      case NonFatal(e) => throw new Corrupt(path, e.toString)
    } finally raw.close()
  }
}
