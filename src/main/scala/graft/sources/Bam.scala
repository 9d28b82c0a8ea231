package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.model.{SamHeader, SamRecord, SamRef}

/** From-scratch BAM binary codec (SAM spec §4, public).
  *
  * Behavioral reference: BAMRecordReader.java:62 (decode),
  * KeyIgnoringBAMRecordWriter.java (encode), BAMSplitGuesser.java
  * (record-boundary discovery inside an arbitrary BGZF block) — all
  * re-expressed as a self-contained codec over [[Bgzf]].
  */
object BamCodec {

  val Magic: Array[Byte] = ("BAM" + "\u0001").getBytes(UTF_8)
  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"

  // --------------------------------------------------------------- header

  def writeHeader(out: java.io.OutputStream, h: SamHeader): Unit = {
    val dos = new DataOutputStream(out)
    dos.write(Magic)
    val text = h.text.getBytes(UTF_8)
    writeInt(dos, text.length)
    dos.write(text)
    writeInt(dos, h.refs.length)
    h.refs.foreach { r =>
      val nm = r.name.getBytes(UTF_8)
      writeInt(dos, nm.length + 1)
      dos.write(nm); dos.write(0)
      writeInt(dos, r.length)
    }
    dos.flush()
  }

  def readHeader(in: InputStream): SamHeader = {
    val dis = new DataInputStream(in)
    val magic = new Array[Byte](4)
    dis.readFully(magic)
    require(java.util.Arrays.equals(magic, Magic), "not a BAM stream")
    val lText = readInt(dis)
    val text = new Array[Byte](lText)
    dis.readFully(text)
    val nRef = readInt(dis)
    val refs = (0 until nRef).map { _ =>
      val lName = readInt(dis)
      val nm = new Array[Byte](lName)
      dis.readFully(nm)
      val len = readInt(dis)
      SamRef(new String(nm, 0, lName - 1, UTF_8), len)
    }.toArray
    SamHeader(new String(text, UTF_8), refs)
  }

  private def writeInt(o: DataOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff); o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }
  private def readInt(i: DataInputStream): Int = {
    val a = i.read(); val b = i.read(); val c = i.read(); val d = i.read()
    if ((a | b | c | d) < 0) throw new EOFException()
    a | (b << 8) | (c << 16) | (d << 24)
  }

  // -------------------------------------------------------------- records

  /** Encode one record (without the leading block_size prefix the
    * caller writes).  `refIdx` maps rname → refID. */
  def encode(r: SamRecord, refIdx: Map[String, Int]): Array[Byte] = {
    val name = r.qname.getBytes(UTF_8)
    val cigarOps = parseCigar(r.cigar)
    val seqLen = if (r.seq == "*") 0 else r.seq.length
    require(r.qual == "*" || r.qual.length == seqLen,
      s"qual length ${r.qual.length} != seq length $seqLen for ${r.qname}")
    require(name.length <= 254, // spec cap: l_read_name is uint8 incl NUL
      s"qname longer than 254 bytes: ${r.qname.take(40)}…")
    val buf = new ByteArrayOutputStream(64 + name.length + seqLen)
    val o = new DataOutputStream(buf)
    def refId(nm: String): Int = if (nm == "*") -1 else refIdx(nm)
    writeInt(o, refId(r.rname))
    writeInt(o, r.pos - 1) // BAM is 0-based
    o.write(name.length + 1)
    o.write(r.mapq)
    val bin = if (r.pos > 0) reg2bin(r.pos - 1, math.max(r.pos - 1 + 1, r.end)) else 0
    o.write(bin & 0xff); o.write((bin >> 8) & 0xff)
    o.write(cigarOps.length & 0xff); o.write((cigarOps.length >> 8) & 0xff)
    o.write(r.flag & 0xff); o.write((r.flag >> 8) & 0xff)
    writeInt(o, seqLen)
    writeInt(o, if (r.rnext == "=") refId(r.rname) else refId(r.rnext))
    writeInt(o, r.pnext - 1)
    writeInt(o, r.tlen)
    o.write(name); o.write(0)
    cigarOps.foreach(op => writeInt(o, op))
    var i = 0
    while (i < seqLen) { // 4-bit packed bases
      val hi = SeqCode.indexOf(r.seq.charAt(i).toUpper) max 0
      val lo = if (i + 1 < seqLen) SeqCode.indexOf(r.seq.charAt(i + 1).toUpper) max 0 else 0
      o.write((hi << 4) | lo)
      i += 2
    }
    if (r.qual == "*") (0 until seqLen).foreach(_ => o.write(0xff))
    else r.qual.foreach(c => o.write(c - 33))
    r.tags.foreach(t => encodeTag(o, t))
    o.flush()
    buf.toByteArray
  }

  private def parseCigar(c: String): Array[Int] = {
    if (c == "*") return Array.empty
    val out = new ArrayBuffer[Int]()
    var n = 0
    c.foreach { ch =>
      if (ch.isDigit) n = n * 10 + (ch - '0')
      else { out += (n << 4) | CigarOps.indexOf(ch); n = 0 }
    }
    out.toArray
  }

  private def encodeTag(o: DataOutputStream, t: String): Unit = {
    // "TG:T:value" (SAM text form; ints normalized to 'i')
    val tag = t.substring(0, 2); val typ = t.charAt(3); val v = t.substring(5)
    o.write(tag.charAt(0)); o.write(tag.charAt(1))
    typ match {
      case 'A' => o.write('A'); o.write(v.charAt(0))
      case 'i' =>
        val x = v.toLong
        if (x >= Int.MinValue && x <= Int.MaxValue) { o.write('i'); writeInt(o, x.toInt) }
        else { o.write('I'); writeInt(o, x.toInt) } // uint32 range
      case 'f' => o.write('f'); writeInt(o, java.lang.Float.floatToIntBits(v.toFloat))
      case 'Z' => o.write('Z'); o.write(v.getBytes(UTF_8)); o.write(0)
      case 'H' => o.write('H'); o.write(v.getBytes(UTF_8)); o.write(0)
      case 'B' =>
        o.write('B')
        val parts = v.split(",")
        val sub = parts(0).charAt(0)
        o.write(sub)
        writeInt(o, parts.length - 1)
        parts.drop(1).foreach { e =>
          sub match {
            case 'c' | 'C' => o.write(e.toInt & 0xff)
            case 's' | 'S' => val x = e.toInt; o.write(x & 0xff); o.write((x >> 8) & 0xff)
            case 'i' | 'I' => writeInt(o, e.toLong.toInt)
            case 'f' => writeInt(o, java.lang.Float.floatToIntBits(e.toFloat))
          }
        }
      case other => throw new IllegalArgumentException(s"tag type $other")
    }
  }

  /** The BAM wire form of one "TG:T:value" tag, split for writers that
    * frame tag/type separately from the value bytes (the CRAM tag
    * dictionary): (two-char tag, wire type char — ints normalized to
    * the narrowest of i/I the value fits, matching [[encodeTag]]),
    * value bytes. */
  private[sources] def tagWire(t: String): (String, Char, Array[Byte]) = {
    val buf = new ByteArrayOutputStream(16)
    val o = new DataOutputStream(buf)
    encodeTag(o, t)
    o.flush()
    val b = buf.toByteArray
    (new String(b, 0, 2, UTF_8), b(2).toChar,
      java.util.Arrays.copyOfRange(b, 3, b.length))
  }

  // ---- lazy-decode field groups (ref: LazyBAMRecordFactory.java:31 —
  // the reference defers per-field decode until accessed; here the
  // caller states up front which variable-width fields it needs and
  // the rest are SKIPPED at byte level: position arithmetic instead of
  // string building).  Fixed-offset fields (flag, pos, mapq, rnext,
  // pnext, tlen, rname) are a few int reads and always decoded.
  val FName = 1
  val FCigar = 2
  val FSeq = 4
  val FQual = 8
  val FTags = 16
  val AllFields: Int = FName | FCigar | FSeq | FQual | FTags

  /** Decode mask for a set of requested SamRecord column names (the
    * DSv2 pruned schema or a typed reader's `columns` option). */
  def maskFor(columns: Seq[String]): Int =
    if (columns.isEmpty) AllFields
    else columns.foldLeft(0) { (m, c) =>
      m | (c match {
        case "qname" => FName
        case "cigar" => FCigar
        case "seq" => FSeq
        case "qual" => FQual
        case "tags" => FTags
        case _ => 0
      })
    }

  /** Decode one record from `data` (block_size already stripped). */
  def decode(data: Array[Byte], refs: Array[SamRef]): SamRecord =
    decode(data, refs, AllFields)

  /** Decode with a field mask: unmasked variable-width fields are
    * skipped (placeholder "*" / empty tags), not parsed. */
  def decode(data: Array[Byte], refs: Array[SamRef], fields: Int): SamRecord = {
    val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val refID = b.getInt
    val pos = b.getInt
    val lName = b.get & 0xff
    val mapq = b.get & 0xff
    b.getShort // bin — recomputed on encode
    val nCigar = b.getShort & 0xffff
    val flag = b.getShort & 0xffff
    val lSeq = b.getInt
    val nextRef = b.getInt
    val nextPos = b.getInt
    val tlen = b.getInt
    val qname = if ((fields & FName) != 0) {
      val nameB = new Array[Byte](lName)
      b.get(nameB)
      new String(nameB, 0, lName - 1, UTF_8)
    } else { b.position(b.position() + lName); "*" }
    val cigar = if (nCigar == 0) "*"
    else if ((fields & FCigar) != 0) {
      val sb = new StringBuilder
      (0 until nCigar).foreach { _ =>
        val op = b.getInt
        sb.append(op >>> 4).append(CigarOps.charAt(op & 0xf))
      }
      sb.toString
    } else { b.position(b.position() + 4 * nCigar); "*" }
    val seq = if (lSeq == 0) "*"
    else if ((fields & FSeq) != 0) {
      val sb = new StringBuilder(lSeq)
      var i = 0
      while (i < (lSeq + 1) / 2) {
        val v = b.get & 0xff
        sb.append(SeqCode.charAt(v >>> 4))
        if (sb.length < lSeq) sb.append(SeqCode.charAt(v & 0xf))
        i += 1
      }
      sb.toString
    } else { b.position(b.position() + (lSeq + 1) / 2); "*" }
    val qual = if (lSeq == 0) "*"
    else if ((fields & FQual) != 0) {
      val q = new Array[Byte](lSeq)
      b.get(q)
      if (q.forall(_ == -1)) "*" else new String(q.map(c => (c + 33).toChar))
    } else { b.position(b.position() + lSeq); "*" }
    val tags =
      if ((fields & FTags) != 0) {
        val ts = new ArrayBuffer[String]()
        while (b.remaining() > 0) ts += decodeTag(b)
        ts.toArray
      } else Array.empty[String] // remainder of the buffer: not touched
    def refName(id: Int): String = if (id < 0) "*" else refs(id).name
    SamRecord(qname, flag, refName(refID), pos + 1, mapq, cigar,
      if (nextRef >= 0 && nextRef == refID) "=" else refName(nextRef),
      nextPos + 1, tlen, seq, qual, tags)
  }

  private[sources] def decodeTag(b: ByteBuffer): String = {
    val tag = "" + b.get.toChar + b.get.toChar
    val typ = b.get.toChar
    def zstr(): String = {
      val sb = new StringBuilder
      var c = b.get
      while (c != 0) { sb.append(c.toChar); c = b.get }
      sb.toString
    }
    typ match {
      case 'A' => s"$tag:A:${b.get.toChar}"
      case 'c' => s"$tag:i:${b.get.toInt}"
      case 'C' => s"$tag:i:${b.get & 0xff}"
      case 's' => s"$tag:i:${b.getShort.toInt}"
      case 'S' => s"$tag:i:${b.getShort & 0xffff}"
      case 'i' => s"$tag:i:${b.getInt}"
      case 'I' => s"$tag:i:${b.getInt & 0xffffffffL}"
      case 'f' => s"$tag:f:${java.lang.Float.intBitsToFloat(b.getInt)}"
      case 'Z' => s"$tag:Z:${zstr()}"
      case 'H' => s"$tag:H:${zstr()}"
      case 'B' =>
        val sub = b.get.toChar
        val n = b.getInt
        val vs = (0 until n).map { _ =>
          sub match {
            case 'c' => b.get.toInt.toString
            case 'C' => (b.get & 0xff).toString
            case 's' => b.getShort.toInt.toString
            case 'S' => (b.getShort & 0xffff).toString
            case 'i' => b.getInt.toString
            case 'I' => (b.getInt & 0xffffffffL).toString
            case 'f' => java.lang.Float.intBitsToFloat(b.getInt).toString
          }
        }
        s"$tag:B:$sub${if (vs.nonEmpty) "," else ""}${vs.mkString(",")}"
    }
  }

  /** SAM spec reg2bin (§5.3, public pseudo-code). */
  def reg2bin(beg: Int, end0: Int): Int = BinIndex.reg2bin(beg, end0, 14, 5)

  // ------------------------------------------------- boundary discovery

  /** Guess the first record start within inflated `data`, knowing the
    * reference count (BAMSplitGuesser.java semantics: probe each byte
    * offset, validate field ranges, confirm by chaining `confirm`
    * record lengths).  Returns offset or -1. */
  def guessRecordStart(data: Array[Byte], nRef: Int, confirm: Int = 3): Int = {
    var p = 0
    while (p <= data.length - 36) {
      if (plausibleChain(data, p, nRef, confirm)) return p
      p += 1
    }
    -1
  }

  private def plausibleChain(data: Array[Byte], off: Int, nRef: Int, confirm: Int): Boolean = {
    var p = off
    var seen = 0
    while (seen < confirm) {
      if (p > data.length - 4) return seen > 0 // ran off cleanly after ≥1 valid
      val b = ByteBuffer.wrap(data, p, math.min(36, data.length - p)).order(ByteOrder.LITTLE_ENDIAN)
      val blockSize = b.getInt
      if (blockSize < 32 || blockSize > (1 << 23)) return false
      if (p + 4 + blockSize > data.length) return seen > 0
      if (b.remaining() >= 32) {
        val refID = b.getInt
        val pos = b.getInt
        val lName = b.get & 0xff
        b.get // mapq
        b.getShort // bin
        val nCigar = b.getShort & 0xffff
        b.getShort // flag
        val lSeq = b.getInt
        val nextRef = b.getInt
        val nextPos = b.getInt
        if (refID < -1 || refID >= nRef) return false
        if (nextRef < -1 || nextRef >= nRef) return false
        if (pos < -1 || pos > (1 << 29)) return false
        if (nextPos < -1 || nextPos > (1 << 29)) return false
        if (lName < 1) return false
        if (lSeq < 0 || lSeq > (1 << 20)) return false
        if (32 + lName + 4 * nCigar + (lSeq + 1) / 2 + lSeq > blockSize) return false
      }
      p += 4 + blockSize
      seen += 1
    }
    true
  }
}
