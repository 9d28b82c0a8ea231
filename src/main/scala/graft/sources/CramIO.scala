package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.util.zip.CRC32

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{SamHeader, SamRecord}

/** CRAM container/block/slice layer + distributed read/write (S12).
  *
  * What is spec-real (CRAM 3.0, public spec): the file definition,
  * ITF8/LTF8 varints ([[Cram]]), container headers with landmarks and
  * CRC32, the block wire format (method, content type, content id,
  * sizes, data, CRC32), gzip block compression, slice header blocks,
  * and the terminal EOF container (recognized by its spec-prescribed
  * sentinel field values).  Files written here walk correctly with
  * [[Cram.enumerateContainers]] and any splitter that understands
  * container framing.
  *
  * What is a documented graft profile: record payloads ride ONE
  * external block (content id 1) as length-prefixed BAM-codec record
  * encodings, and the compression-header block carries empty maps.
  * Decoding FOREIGN cram data series (the per-series codecs htsjdk
  * implements) is out of scope exactly as it is for the reference —
  * CRAMInputFormat.java delegates record decode to htsjdk wholesale
  * and owns only the container walk, which is what this file owns
  * natively (plus a faithful round-trip for graft-written CRAMs).
  */
object CramIO {

  // --------------------------------------------------------- block layer

  /** Content types, CRAM 3.0 §8.1. */
  val FileHeader = 0
  val CompressionHeader = 1
  val SliceHeader = 2
  val External = 4
  val CoreData = 5

  /** Compression methods: 0 = raw, 1 = gzip, 2 = bzip2, 3 = lzma,
    * 4 = rANS 4x8.  graft writes raw/gzip; the foreign read path
    * additionally decodes rANS (natively) and bzip2 (via Hadoop's
    * codec, already on every Spark classpath). */
  val Raw = 0
  val Gzip = 1
  val Bzip2 = 2
  val Lzma = 3      // xz container (what htslib/htsjdk emit for "lzma")
  val Rans4x8 = 4
  val RansNx16M = 5 // CRAM 3.1 (spec: compression method 5)
  val ArithM = 6    // CRAM 3.1 adaptive arithmetic coder (method 6)
  val FqzM = 7      // CRAM 3.1 fqzcomp quality codec (method 7)
  val NameTokM = 8  // CRAM 3.1 read-name tokeniser (method 8)

  /** Decode plan for one CRAM file, shipped with each partition:
    * container framing differs by major version (3.x adds CRC32s) and
    * record payloads differ by profile (graft-written vs foreign
    * data-series). */
  final case class CramMeta(major: Int, foreign: Boolean)

  /** `pre`, when non-null, is an already-compressed body for methods
    * whose encoder needs out-of-band context (fqzcomp needs the
    * per-record quality lengths); `data` stays the raw bytes so
    * `rawSize` and round-trip checks are uniform. */
  final case class Block(method: Int, contentType: Int, contentId: Int,
                         data: Array[Byte], pre: Array[Byte] = null)

  def writeBlock(out: OutputStream, b: Block): Unit = {
    val body = if (b.pre != null) b.pre else b.method match {
      case Raw => b.data
      case Gzip =>
        // method 1 is RFC 1952 gzip (not bare zlib) per the spec
        val bos = new ByteArrayOutputStream(b.data.length / 2 + 32)
        val d = new java.util.zip.GZIPOutputStream(bos)
        d.write(b.data); d.finish(); d.close()
        bos.toByteArray
      case Rans4x8 =>
        // order-1 rANS, the CRAM 3.0 native entropy coder
        CramForeign.Rans.encode(b.data, order = 1)
      case RansNx16M =>
        // order-1 32-way, the CRAM 3.1 entropy coder
        RansNx16.encode(b.data, RansNx16.Order1 | RansNx16.N32)
      case ArithM => Arith.encode(b.data, RansNx16.Order1)
      case NameTokM => NameTok.encode(b.data)
      case Lzma =>
        val bos = new ByteArrayOutputStream(b.data.length / 2 + 64)
        val xz = new org.tukaani.xz.XZOutputStream(bos,
          new org.tukaani.xz.LZMA2Options())
        xz.write(b.data); xz.finish(); xz.close()
        bos.toByteArray
      case FqzM => throw new IllegalArgumentException(
        "fqzcomp blocks need per-record lengths: pass Block.pre from Fqz.encode")
      case m => throw new IllegalArgumentException(s"unsupported method $m")
    }
    // block bytes (method..data) are CRC32'd per CRAM 3.0
    val buf = new ByteArrayOutputStream(body.length + 16)
    buf.write(b.method)
    buf.write(b.contentType)
    Cram.writeItf8(buf, b.contentId)
    Cram.writeItf8(buf, body.length)
    Cram.writeItf8(buf, b.data.length)
    buf.write(body)
    val bytes = buf.toByteArray
    val crc = new CRC32()
    crc.update(bytes)
    out.write(bytes)
    writeInt32Le(out, crc.getValue.toInt)
  }

  def readBlock(in: InputStream): Block = readBlock(in, withCrc = true, "CRAM block stream")

  /** Read one block; `withCrc = false` for CRAM 2.x framing, which has
    * no per-block CRC32.  A CRC mismatch fails with an `IOException`
    * that starts with `where` (the file and the container offset). */
  def readBlock(in: InputStream, withCrc: Boolean, where: String): Block = {
    val crc = new CRC32()
    val hin = new InputStream { // header bytes (few) go through the CRC
      override def read(): Int = {
        val v = in.read(); if (v >= 0) crc.update(v); v
      }
    }
    val method = hin.read()
    if (method < 0) throw new EOFException("truncated block")
    val contentType = hin.read()
    if (contentType < 0) throw new EOFException("truncated block")
    val contentId = Cram.readItf8(hin)
    val compSize = Cram.readItf8(hin)
    val rawSize = Cram.readItf8(hin)
    // body is read and CRC'd in bulk — this is the per-container hot
    // path of the distributed read
    val body = new Array[Byte](compSize)
    var o = 0
    while (o < compSize) {
      val r = in.read(body, o, compSize - o)
      if (r < 0) throw new EOFException("truncated block body")
      o += r
    }
    if (withCrc) {
      crc.update(body, 0, compSize)
      val stored = readInt32Le(in)
      if (stored != crc.getValue.toInt) throw new IOException(
        f"$where: CRAM block CRC mismatch: stored 0x$stored%08x computed 0x${crc.getValue.toInt}%08x")
    }
    val data = method match {
      case Raw => body
      case _ if compSize == 0 && rawSize == 0 => body
      case Gzip =>
        val iis = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(body))
        val out = new Array[Byte](rawSize)
        var n = 0
        while (n < rawSize) {
          val r = iis.read(out, n, rawSize - n)
          if (r < 0) throw new EOFException("truncated gzip block")
          n += r
        }
        out
      case Rans4x8 => CramForeign.Rans.decode(body, rawSize)
      case RansNx16M => RansNx16.decode(body, rawSize)
      case ArithM => Arith.decode(body, rawSize)
      case FqzM => Fqz.decode(body, rawSize)
      case NameTokM => NameTok.decode(body)
      case Lzma =>
        // method 3 is the xz container (htslib uses liblzma's .xz
        // framing; htsjdk reads it with org.tukaani.xz, same as here)
        val xin = new org.tukaani.xz.XZInputStream(new ByteArrayInputStream(body))
        val out = new Array[Byte](rawSize)
        var n = 0
        while (n < rawSize) {
          val r = xin.read(out, n, rawSize - n)
          if (r < 0) throw new EOFException("truncated lzma block")
          n += r
        }
        require(xin.read() < 0, "lzma block longer than raw size")
        out
      case Bzip2 =>
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(new org.apache.hadoop.conf.Configuration(false))
        val iis = codec.createInputStream(new ByteArrayInputStream(body))
        val out = new Array[Byte](rawSize)
        var n = 0
        while (n < rawSize) {
          val r = iis.read(out, n, rawSize - n)
          if (r < 0) throw new EOFException("truncated bzip2 block")
          n += r
        }
        out
      case m => throw new IllegalArgumentException(
        s"unsupported CRAM block compression method $m")
    }
    require(data.length == rawSize, "raw size mismatch")
    Block(method, contentType, contentId, data)
  }

  // ---------------------------------------------------- container layer

  /** One container = header + blocks; `length` in the header counts
    * the block bytes.  Landmarks point at slice-header block offsets
    * within the block byte range, one per slice (the graft profile
    * writes one slice per container, the spec profiles up to two). */
  private def writeContainer(out: OutputStream, refSeqId: Int, startPos: Int,
                             span: Int, nRecords: Int, counter: Long,
                             bases: Long, blocks: Seq[Block],
                             landmarks: Seq[Int]): Unit = {
    val body = new ByteArrayOutputStream(1 << 16)
    blocks.foreach(b => writeBlock(body, b))
    writeContainerRaw(out, refSeqId, startPos, span, nRecords, counter, bases,
      blocks.length, landmarks, body.toByteArray)
  }

  /** Same, from an already-serialized block body (lets the writer
    * measure landmark offsets without serializing blocks twice);
    * returns the container's size in bytes. */
  private def writeContainerRaw(out: OutputStream, refSeqId: Int, startPos: Int,
                                span: Int, nRecords: Int, counter: Long,
                                bases: Long, nBlocks: Int,
                                landmarks: Seq[Int],
                                bodyBytes: Array[Byte]): Int = {
    val head = new ByteArrayOutputStream(64)
    writeInt32Le(head, bodyBytes.length)
    Cram.writeItf8(head, refSeqId)
    Cram.writeItf8(head, startPos)
    Cram.writeItf8(head, span)
    Cram.writeItf8(head, nRecords)
    Cram.writeLtf8(head, counter)
    Cram.writeLtf8(head, bases)
    Cram.writeItf8(head, nBlocks)
    Cram.writeItf8(head, landmarks.length)
    landmarks.foreach(l => Cram.writeItf8(head, l))
    val headBytes = head.toByteArray
    val crc = new CRC32(); crc.update(headBytes)
    out.write(headBytes)
    writeInt32Le(out, crc.getValue.toInt)
    out.write(bodyBytes)
    headBytes.length + 4 + bodyBytes.length
  }

  /** EOF container: the spec-prescribed sentinel (refSeqId -1,
    * startPos 4542278, 0 records) whose single raw compression-header
    * block carries three empty maps (01 00 ×3) — with these contents
    * the serialized container is byte-identical to the canonical
    * 38-byte CRAM 3.0 EOF sequence, which foreign readers compare
    * literally (CramSpecWriteSpec pins the bytes). */
  private def writeEofContainer(out: OutputStream): Unit =
    writeContainer(out, refSeqId = -1, startPos = 4542278, span = 0,
      nRecords = 0, counter = 0L, bases = 0L,
      blocks = Seq(Block(Raw, CompressionHeader, 0,
        Array[Byte](1, 0, 1, 0, 1, 0))),
      landmarks = Nil)

  private def isEof(c: Cram.Container): Boolean =
    c.refSeqId == -1 && c.startPos == 4542278 && c.nRecords == 0

  /** Minimal spec-shaped slice header (CRAM 3.0 §8.5, graft profile:
    * no embedded reference, zero md5). */
  private def sliceHeaderBlock(refSeqId: Int, start: Int, span: Int,
                               nRecords: Int, counter: Long,
                               contentIds: Seq[Int]): Block = {
    val b = new ByteArrayOutputStream(64)
    Cram.writeItf8(b, refSeqId)
    Cram.writeItf8(b, start)
    Cram.writeItf8(b, span)
    Cram.writeItf8(b, nRecords)
    Cram.writeLtf8(b, counter)
    Cram.writeItf8(b, contentIds.length) // data blocks in this slice
    Cram.writeItf8(b, contentIds.length)
    contentIds.foreach(id => Cram.writeItf8(b, id))
    Cram.writeItf8(b, -1) // embedded reference bases content id
    b.write(new Array[Byte](16)) // reference md5 (zeroed: no reference)
    Block(Raw, SliceHeader, 0, b.toByteArray)
  }

  /** Profile marker: distinguishes graft-profile record payloads from
    * foreign (htsjdk-style data-series) CRAMs before decode. */
  private val ProfileMarker = "GRFT1".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Empty-maps compression header, prefixed with the graft profile
    * marker (readers of real CRAM compression headers parse maps by
    * their own framing; our reader checks the marker instead). */
  private def compressionHeaderBlock(): Block = {
    val b = new ByteArrayOutputStream(16)
    b.write(ProfileMarker)
    // preservation map, data-series encoding map, tag encoding map:
    // each = byte length (itf8) of { nEntries (itf8) = 0 }
    (0 until 3).foreach { _ =>
      val m = new ByteArrayOutputStream(4)
      Cram.writeItf8(m, 0) // zero entries
      Cram.writeItf8(b, m.size())
      b.write(m.toByteArray)
    }
    Block(Gzip, CompressionHeader, 0, b.toByteArray)
  }

  private def isGraftProfile(data: Array[Byte]): Boolean =
    data.length >= ProfileMarker.length &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(data, ProfileMarker.length), ProfileMarker)

  // -------------------------------------------------------------- write

  /** One committed shard: its length in bytes and the `.crai` lines of
    * its slices, container offsets relative to the shard's start. */
  final case class Shard(pid: Int, length: Long, crai: Seq[Crai.Entry])

  /** A per-task CRAM shard: records in, data containers out. */
  private[sources] trait ShardSink {
    def write(rec: SamRecord): Unit
    /** Flush the tail container, close, return the shard. */
    def finish(): Shard
    def abort(): Unit
  }

  /** The shard writer of a (checked) write profile. */
  private[sources] def shardWriter(pathStr: String, refIdx: Map[String, Int],
                                   profile: String, pid: Int): ShardSink =
    if (profile == "graft") new ShardWriter(pathStr, refIdx, pid)
    else new SpecShardWriter(pathStr, refIdx, pid, v31 = profile.startsWith("spec31"),
      fqz = profile == "spec31-fqz")

  /** What both shard writers share: the attempt file, its running
    * length and the `.crai` lines of the containers written so far. */
  private abstract class ShardBase(pathStr: String, pid: Int) extends ShardSink {
    protected val out = {
      val (tfs, tp) = Fs.get(pathStr)
      new java.io.BufferedOutputStream(tfs.create(tp, true))
    }
    protected var nTotal = 0L
    protected var offset = 0L
    protected val crai = scala.collection.mutable.ArrayBuffer[Crai.Entry]()

    protected def flush(): Unit

    def finish(): Shard = { flush(); out.close(); Shard(pid, offset, crai.toSeq) }

    def abort(): Unit =
      try out.close() catch { case _: IOException => () }
  }

  /** Streaming per-task shard writer of the graft profile: records
    * arrive one at a time and leave as ~1 MB one-slice containers — a
    * multi-GB partition never buffers. */
  private final class ShardWriter(pathStr: String, refIdx: Map[String, Int], pid: Int)
      extends ShardBase(pathStr, pid) {
    private val recs = new ByteArrayOutputStream(1 << 20)
    private var n = 0
    private var minPos = Int.MaxValue
    private var maxEnd = 0
    private var refSeq = -2 // -2 = unset; -1 unmapped; >=0 single-ref; -3 multi-ref marker
    private var bases = 0L
    private val spans = new Crai.SliceSpans

    protected def flush(): Unit = if (n > 0) {
      val recBytes = recs.toByteArray
      val ext = Block(Gzip, External, 1, recBytes)
      val rid = if (refSeq == -3) -2 else refSeq // spec: -2 = multi-ref slice
      val start = if (rid >= 0 && minPos != Int.MaxValue) minPos else 0
      val span = if (rid >= 0 && maxEnd >= minPos) maxEnd - minPos + 1 else 0
      val slice = sliceHeaderBlock(rid, start, span, n, nTotal, Seq(1))
      // serialize the body once; the landmark (slice header offset)
      // falls out of the running size
      val body = new ByteArrayOutputStream(recBytes.length / 2 + 256)
      writeBlock(body, compressionHeaderBlock())
      val landmark = body.size()
      writeBlock(body, slice)
      writeBlock(body, ext)
      crai ++= spans.entries(offset, landmark, body.size() - landmark)
      offset += writeContainerRaw(out, rid, start, span, n, nTotal, bases,
        nBlocks = 3, Seq(landmark), body.toByteArray)
      nTotal += n
      recs.reset(); n = 0; minPos = Int.MaxValue; maxEnd = 0; refSeq = -2; bases = 0L
      spans.clear()
    }

    def write(rec: SamRecord): Unit = {
      val data = BamCodec.encode(rec, refIdx)
      val len = data.length
      recs.write(Array[Byte](len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte))
      recs.write(data)
      val ri = refIdx.getOrElse(rec.rname, -1)
      refSeq = if (refSeq == -2) ri else if (refSeq == ri) refSeq else -3
      if (rec.pos > 0) {
        minPos = math.min(minPos, rec.pos)
        maxEnd = math.max(maxEnd, rec.end)
      }
      spans.add(ri, rec.pos, rec.end)
      bases += (if (rec.seq == "*") 0 else rec.seq.length)
      n += 1
      if (recs.size >= (1 << 20)) flush() // ~1 MB containers
    }
  }

  /** Spec-profile shard writer (see [[CramSpecWrite]]): buffers
    * records per container and serializes real data-series blocks —
    * output any foreign CRAM reader consumes.  Same streaming
    * discipline as [[ShardWriter]]: ~1 MB of buffered payload per
    * container, so a multi-GB partition never accumulates. */
  private final class SpecShardWriter(pathStr: String, refIdx: Map[String, Int], pid: Int,
                              v31: Boolean = false, fqz: Boolean = false)
      extends ShardBase(pathStr, pid) {
    private val buf = scala.collection.mutable.ArrayBuffer[SamRecord]()
    private var approx = 0L
    private val spans = new Crai.SliceSpans

    protected def flush(): Unit = if (buf.nonEmpty) {
      // two slices per container once enough is buffered — the
      // multi-slice layout htslib writes (shared compression header,
      // one landmark per slice).  The split point avoids separating a
      // qname pair so within-slice NF mate chains stay intact.
      var mid = buf.length / 2
      while (mid > 0 && mid < buf.length && buf(mid).qname == buf(mid - 1).qname)
        mid += 1
      val slices =
        if (buf.length >= 64 && mid < buf.length)
          Seq(buf.take(mid).toSeq, buf.drop(mid).toSeq)
        else Seq(buf.toSeq)
      val enc = CramSpecWrite.encodeContainer(slices, refIdx, nTotal, v31, fqz)
      val body = new ByteArrayOutputStream(1 << 20)
      writeBlock(body, enc.compHeader)
      val landmarks = scala.collection.mutable.ArrayBuffer[Int]()
      enc.slices.foreach { sl =>
        landmarks += body.size()
        sl.blocks.foreach(b => writeBlock(body, b))
      }
      val ends = landmarks.drop(1) :+ body.size()
      slices.indices.foreach { i =>
        slices(i).foreach(r => spans.add(refIdx.getOrElse(r.rname, -1), r.pos, r.end))
        crai ++= spans.entries(offset, landmarks(i), ends(i) - landmarks(i))
        spans.clear()
      }
      offset += writeContainerRaw(out, enc.refSeqId, enc.start, enc.span, enc.nRecords,
        nTotal, enc.bases, 1 + enc.slices.map(_.blocks.length).sum,
        landmarks.toSeq, body.toByteArray)
      nTotal += enc.nRecords
      buf.clear(); approx = 0L
    }

    def write(rec: SamRecord): Unit = {
      buf += rec
      approx += 48 + rec.qname.length + 2L * (if (rec.seq == "*") 0 else rec.seq.length) +
        rec.tags.iterator.map(_.length + 8).sum
      if (approx >= (1 << 20)) flush()
    }
  }

  /** Driver-side merge through [[Fs.commitFile]]: file definition +
    * SAM-header container + the committed shards under `tmpDir` in pid
    * order + EOF container, then the `.crai`: each shard's lines
    * shifted by the shard's offset in the merged file, so the index is
    * written without reading the new file back. */
  private[sources] def mergeShards(file: String, header: SamHeader, tmpDir: String,
                                   shards: Seq[Shard], minor: Int): Unit = {
    val (fs, p) = Fs.get(file)
    // SAM header container: one FileHeader block; spec prefixes the
    // text with its int32 length inside the block
    val ht = header.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hblk = new ByteArrayOutputStream(ht.length + 8)
    writeInt32Le(hblk, ht.length)
    hblk.write(ht)
    val head = new ByteArrayOutputStream(ht.length + 128)
    head.write("CRAM".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    head.write(3); head.write(minor)
    head.write(new Array[Byte](20)) // file id
    writeContainer(head, refSeqId = -1, startPos = 0, span = 0, nRecords = 0,
      counter = 0L, bases = 0L,
      blocks = Seq(Block(Gzip, FileHeader, 0, hblk.toByteArray)), landmarks = Nil)
    val inOrder = shards.sortBy(_.pid)
    var base = head.size.toLong
    val crai = inOrder.flatMap { s =>
      val shift = base
      base += s.length
      s.crai.map(e => e.copy(containerOffset = e.containerOffset + shift))
    }
    Fs.commitFile(file) { out =>
      head.writeTo(out)
      Fs.concatParts(fs, inOrder.map(s => Fs.partPath(tmpDir, s.pid, "cram")), out)
      writeEofContainer(out)
    }(_ => Crai.write(fs, Crai.indexPath(p), crai))
  }

  /** Write a CRAM + `.crai`: the `format("cram")` batch write with
    * `header` in memory — file definition + SAM-header container +
    * each partition's data containers + EOF container, committed like
    * every graft sink (v2.GraftDataSinks).
    *
    * `profile = "graft"` (default) writes the fast-path profile (BAM
    * codec payloads in one external block, marker in the compression
    * header); `profile = "spec"` writes real CRAM 3.0 data-series
    * containers ([[CramSpecWrite]]) that any foreign CRAM reader
    * consumes — graft's own foreign decoder round-trips them, which is
    * also how they read back here; `profile = "spec31"` is the same
    * container shape framed as CRAM 3.1 with the 3.1 codecs — rANS
    * Nx16 blocks and the name tokeniser on the RN series;
    * `profile = "spec31-fqz"` additionally rides the QS series on the
    * fqzcomp quality codec (the htslib "small"-profile shape).  Any
    * other profile fails before a task runs. */
  def write(ds: Dataset[SamRecord], header: SamHeader, file: String,
            profile: String = "graft"): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.CramTable(v2.GraftDataSinks.at(file), Some(header)),
      Map("profile" -> profile))

  // --------------------------------------------------------------- read

  /** SAM header from the first (FileHeader) container. */
  def readHeader(file: String): SamHeader = {
    val (fs, p) = Fs.get(file)
    val in = new BufferedInputStream(fs.open(p))
    try {
      val major = readFileDefinition(in)
      val blocks = readContainerBlocks(in, major, file, 26L)
      val hb = blocks.find(_.contentType == FileHeader)
        .getOrElse(throw new IllegalStateException("first container has no file-header block"))
      val bb = java.nio.ByteBuffer.wrap(hb.data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val len = bb.getInt
      val text = new String(hb.data, 4, len, java.nio.charset.StandardCharsets.UTF_8)
      Sam.parseHeader(text)
    } finally in.close()
  }

  /** Distributed read: driver enumerates container offsets (header
    * bytes only), groups containers into split-sized partitions, and
    * each task decodes its containers' external record blocks.
    * Containers are the CRAM split unit, exactly as in
    * CRAMInputFormat.getSplits — grouped so a terabyte file yields
    * thousands of tasks, not one per ~1 MB container. */
  def read(spark: SparkSession, file: String,
           splitSize: Long = 64L * 1024 * 1024,
           reference: Option[String] = None): Dataset[SamRecord] =
    readIntervals(spark, file, Nil, splitSize, reference)

  /** Bounded-traversal read: only containers whose (refSeqId,
    * startPos, span) header fields overlap `intervals` are decoded;
    * records are overlap-filtered exactly, and containers are disjoint
    * so output is exactly-once.  Empty `intervals` = full read. */
  def readIntervals(spark: SparkSession, file: String,
                    intervals: Seq[(String, Int, Int)],
                    splitSize: Long = 64L * 1024 * 1024,
                    reference: Option[String] = None): Dataset[SamRecord] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark,
      plan(file, intervals, exact = true, splitSize, reference), 0)
  }

  /** The CRAM planner of every read face: container groups of about
    * `splitSize` bytes, in file order.  With `intervals`, only
    * containers holding an overlapping record can be planned: through
    * the `.crai` when present (no per-container header seeks on the
    * driver; one line per slice and per reference of a multi-reference
    * slice, so a container is planned once however many of its lines
    * match), else through the container walk.  A line or header on a
    * queried contig without a span, and a `.crai` line or container
    * header with refSeqId -2 (a multi-reference container of an older
    * index, or a foreign one), are kept conservatively.  With `exact`
    * the intervals also filter records by overlap. */
  private[sources] def plan(file: String, intervals: Seq[(String, Int, Int)],
                            exact: Boolean, splitSize: Long,
                            reference: Option[String]): Seq[v2.CramPartition] = {
    val header = readHeader(file)
    val refIdx = header.refs.map(_.name).zipWithIndex.toMap
    val ivsById = intervals.flatMap { case (c, s, e) =>
      refIdx.get(c).map(ri => (ri, s, e))
    }
    def overlaps(seqId: Int, start: Int, span: Int): Boolean =
      seqId == -2 || ivsById.exists { case (ri, s, e) =>
        ri == seqId && (span <= 0 || (start <= e && start + span - 1 >= s))
      }
    val (fs, p) = Fs.get(file)
    def walk = Cram.enumerateContainers(file).map { c =>
      if (!c.crcOk) throw new IOException(
        s"$file: CRAM container header CRC mismatch at offset ${c.offset}")
      c
    }.filter(c => c.nRecords > 0 && !isEof(c))
    val containers: Seq[(Long, Int)] =
      if (intervals.isEmpty) walk.map(c => (c.offset, c.length))
      else Crai.read(fs, Crai.indexPath(p)) match {
        case Some(entries) =>
          Crai.containers(entries.filter(e => overlaps(e.seqId, e.start, e.span)))
        case None =>
          walk.filter(c => overlaps(c.refSeqId, c.startPos, c.span))
            .map(c => (c.offset, c.length))
      }
    val meta = detectMeta(file, containers.headOption.map(_._1))
    val rgIds = CramForeign.readGroupIds(header.text)
    val iv = if (exact) intervals.toArray else Array.empty[(String, Int, Int)]
    groupOffsets(containers, splitSize).map { g =>
      v2.CramPartition(file, g, header.refs, iv, meta.major, meta.foreign, rgIds, reference)
    }
  }

  private def groupOffsets(containers: Seq[(Long, Int)], splitSize: Long)
      : Seq[Seq[Long]] = {
    val groups = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    var cur = scala.collection.mutable.ArrayBuffer[Long]()
    var acc = 0L
    containers.foreach { case (off, len) =>
      if (cur.nonEmpty && acc + len > splitSize) {
        groups += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[Long](); acc = 0L
      }
      cur += off; acc += len
    }
    if (cur.nonEmpty) groups += cur.toSeq
    groups.toSeq
  }

  /** Decode plan for the file: major version from the file definition
    * and the record-payload profile from the first data container's
    * compression header (graft profile marker vs foreign data-series —
    * foreign CRAMs route through [[CramForeign]]).  The CRAM spec puts
    * the compression header first in every data container, so only that
    * block is read and CRC-checked, not the whole container. */
  private[sources] def detectMeta(file: String,
                                  firstContainerOffset: Option[Long]): CramMeta = {
    val (fs, p) = Fs.get(file)
    val raw = fs.open(p)
    try {
      val major = readFileDefinition(new BufferedInputStream(raw, 64))
      val foreign = firstContainerOffset.exists { off =>
        raw.seek(off)
        val in = new BufferedInputStream(raw)
        readContainerHeader(in, major, file, off) == 0 || {
          val b = readBlock(in, withCrc = major >= 3, s"$file: container at offset $off")
          !(b.contentType == CompressionHeader && isGraftProfile(b.data))
        }
      }
      CramMeta(major, foreign)
    } finally raw.close()
  }

  /** Task-side: decode all records of one container group.
    *
    * Read-ahead coalescing (r5): a group's containers are ascending in
    * the file, so the task seeks once to the first offset and streams
    * on through one buffer; a gap between planned containers is skipped
    * inside the buffer when it is buffered and by a seek when it is not.
    * On object stores each seek is a ranged GET; one sequential stream
    * per 64 MB group is the difference between 1 and ~64 round trips. */
  private[sources] def readGroup(file: String, offsets: Seq[Long],
                                 refs: Array[graft.model.SamRef],
                                 meta: CramMeta = CramMeta(3, foreign = false),
                                 rgIds: Array[String] = Array.empty,
                                 reference: Option[String] = None): Seq[SamRecord] = {
    if (offsets.isEmpty) return Nil
    val (tfs, tp) = Fs.get(file)
    val raw = tfs.open(tp)
    val out = scala.collection.mutable.ArrayBuffer[SamRecord]()
    val refSrc = new CramForeign.RefSource(reference, refs)
    try {
      val in = new Cursor(raw, offsets.head)
      offsets.foreach { off =>
        require(off >= in.pos,
          s"container offsets must be increasing: $off after ${in.pos}")
        in.skipTo(off)
        val blocks = readContainerBlocks(in, meta.major, file, off)
        if (meta.foreign) {
          out ++= CramForeign.decodeContainer(blocks, refs, rgIds, refSrc)
        } else {
          val ext = blocks.find(b => b.contentType == External && b.contentId == 1)
            .getOrElse(throw new IllegalStateException(s"container at $off has no record block"))
          val bb = java.nio.ByteBuffer.wrap(ext.data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          while (bb.remaining() > 4) {
            val len = bb.getInt
            val data = new Array[Byte](len)
            bb.get(data)
            out += BamCodec.decode(data, refs)
          }
        }
      }
      out.toSeq
    } finally raw.close()
  }

  /** A buffered forward reader over an open file that knows its file
    * position and jumps ahead by seeking past what it has not
    * buffered, never by reading the gap. */
  private final class Cursor(raw: FSDataInputStream, start: Long)
      extends InputStream {
    private val buf = new Array[Byte](1 << 16)
    private var bufStart = start // file offset of buf(0)
    private var lim = 0
    private var i = 0
    raw.seek(start)

    def pos: Long = bufStart + i

    def skipTo(off: Long): Unit =
      if (off - bufStart <= lim) i = (off - bufStart).toInt
      else { raw.seek(off); bufStart = off; lim = 0; i = 0 }

    private def fill(): Boolean = {
      bufStart += lim; lim = 0; i = 0
      val r = raw.read(buf, 0, buf.length)
      if (r > 0) lim = r
      r > 0
    }

    override def read(): Int =
      if (i < lim || fill()) { val v = buf(i) & 0xff; i += 1; v } else -1

    override def read(b: Array[Byte], o: Int, l: Int): Int =
      if (l == 0) 0
      else if (i < lim || fill()) {
        val n = math.min(l, lim - i)
        System.arraycopy(buf, i, b, o, n)
        i += n
        n
      } else -1
  }

  /** Parse one container (header + its blocks) from the stream;
    * `major` selects the framing (3.x carries CRC32s, 2.x none). */
  private def readContainerBlocks(in: InputStream, major: Int, file: String,
                                  offset: Long): Seq[Block] = {
    val nBlocks = readContainerHeader(in, major, file, offset)
    val where = s"$file: container at offset $offset"
    (0 until nBlocks).map(_ => readBlock(in, withCrc = major >= 3, where))
  }

  /** Consume the header of the container at `offset` of `file` and
    * return its block count; the stream is left at the container's
    * first block.  A 3.x header is checked against its CRC32, so a
    * damaged record count or landmark fails the read. */
  private def readContainerHeader(in: InputStream, major: Int, file: String,
                                  offset: Long): Int = {
    val crc = new CRC32()
    val hin = new InputStream { // header bytes (few) go through the CRC
      override def read(): Int = {
        val v = in.read(); if (v >= 0) crc.update(v); v
      }
    }
    readInt32Le(hin) // container length
    Cram.readItf8(hin) // refSeqId
    Cram.readItf8(hin); Cram.readItf8(hin); Cram.readItf8(hin) // start/span/nrec
    Cram.readLtf8(hin); Cram.readLtf8(hin) // counter/bases
    val nBlocks = Cram.readItf8(hin)
    val nLandmarks = Cram.readItf8(hin)
    (0 until nLandmarks).foreach(_ => Cram.readItf8(hin))
    if (major >= 3) {
      val stored = readInt32Le(in)
      if (stored != crc.getValue.toInt) throw new IOException(
        f"$file: CRAM container header CRC mismatch at offset $offset: " +
          f"stored 0x$stored%08x computed 0x${crc.getValue.toInt}%08x")
    }
    nBlocks
  }

  /** Validate the file definition and return the major version. */
  private def readFileDefinition(in: InputStream): Int = {
    val magic = new Array[Byte](4)
    var got = 0
    while (got < 4) {
      val r = in.read(magic, got, 4 - got)
      if (r < 0) throw new EOFException("truncated CRAM")
      got += r
    }
    require(new String(magic, java.nio.charset.StandardCharsets.UTF_8) == "CRAM", "not CRAM")
    val major = in.read()
    if (major < 0) throw new EOFException("truncated CRAM version")
    in.skipNBytes(1 + 20) // minor version + file id
    major
  }

  // ------------------------------------------------------------ helpers

  private def writeInt32Le(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private def readInt32Le(in: InputStream): Int = {
    val a = in.read(); val b = in.read(); val c = in.read(); val d = in.read()
    if ((a | b | c | d) < 0) throw new EOFException()
    a | (b << 8) | (c << 16) | (d << 24)
  }
}
