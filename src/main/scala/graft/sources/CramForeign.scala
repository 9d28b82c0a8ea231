package graft.sources

import java.io.ByteArrayOutputStream

import graft.model.{SamRecord, SamRef}

/** Foreign (htslib/htsjdk/samtools-written) CRAM record decode.
  *
  * The reference project reads real-world CRAMs by delegating record
  * decode to htsjdk (ref: CRAMRecordReader.java:30 via `CRAMIterator`);
  * graft owns the whole stack natively from the public CRAM
  * specification (hts-specs CRAM 2.1/3.0): the data-series codecs
  * (EXTERNAL, HUFFMAN, BETA, GAMMA, SUBEXP, BYTE_ARRAY_LEN,
  * BYTE_ARRAY_STOP), the rANS 4x8 block codec (§13), the compression
  * header's preservation / data-series / tag maps, slice headers, and
  * the §10 record layout with reference-based sequence reconstruction.
  *
  * Decoding is per-slice and each slice is self-contained, so the
  * distributed read keeps CRAM's native parallel unit: a 100 TB CRAM
  * decodes as thousands of independent container groups with no
  * cross-task state — only the (tiny) SAM header and the reference
  * FASTA path are shipped to executors; reference bases are fetched
  * per-slice via the `.fai` index (ranged read, not a whole-genome
  * broadcast).
  */
object CramForeign {

  // ===================================================== rANS 4x8 (§13)

  /** rANS 4x8 static arithmetic coder, orders 0 and 1 — the CRAM 3.x
    * block compression method 4.  Decoder and encoder implemented from
    * the public spec; 12-bit frequencies (total 4096), 4 interleaved
    * states, renormalization bound 2^23, order-1 splits the output
    * into floor(n/4) quarters with state 3 draining the remainder. */
  object Rans {
    private final val TotFreq = 4096
    private final val Low = 1L << 23

    /** Decode one rANS 4x8 body.  `expectedLen`, when known (a CRAM
      * block's raw size), must match the body's own raw-size field, so a
      * damaged size fails before anything is allocated.  A body whose
      * compressed-size field disagrees with its length, or whose tables
      * or states run past its end, throws. */
    def decode(comp: Array[Byte], expectedLen: Int = -1): Array[Byte] = {
      require(comp.length >= 9, s"rANS 4x8 body of ${comp.length} bytes has no header")
      val bs = new ByteStream(comp)
      val order = bs.byte()
      require(order == 0 || order == 1, s"rANS 4x8 order $order")
      val compSize = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      require(compSize == comp.length - 9,
        s"rANS 4x8 body declares $compSize compressed bytes, holds ${comp.length - 9}")
      val rawSize = bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) | (bs.byte() << 24)
      require(rawSize >= 0 && (expectedLen < 0 || rawSize == expectedLen),
        s"rANS 4x8 raw size $rawSize, expected $expectedLen")
      val out = new Array[Byte](rawSize)
      if (rawSize == 0) return out
      if (order == 0) decode0(bs, out) else decode1(bs, out)
      out
    }

    /** Frequency table, RLE over present symbols (spec §13.3): a
      * symbol byte, then its ITF8 frequency; a byte equal to prev+1
      * starts a run whose length byte follows; terminated by 0. */
    private def readFreqs(bs: ByteStream, freq: Array[Int]): Unit = {
      var sym = bs.byte()
      var last = sym
      var rle = 0
      var done = false
      var total = 0
      while (!done) {
        val f = bs.itf8()
        require(f >= 0 && f <= TotFreq - total, s"rANS 4x8 frequency table overflows $TotFreq")
        freq(sym) = f
        total += f
        if (rle > 0) { rle -= 1; sym += 1 }
        else {
          sym = bs.byte()
          if (sym == last + 1) rle = bs.byte()
        }
        last = sym
        if (sym == 0 && rle == 0) done = true
      }
      // trailing symbol 0 is the terminator unless it opened the table
      // (symbol 0 can only legitimately appear first, symbols ascend)
    }

    private def cumFrom(freq: Array[Int]): Array[Int] = {
      val cum = new Array[Int](257)
      var i = 0
      while (i < 256) { cum(i + 1) = cum(i) + freq(i); i += 1 }
      cum
    }

    /** Slot -> symbol: each symbol's run of `freq` slots in one fill. */
    private def lutFrom(freq: Array[Int], cum: Array[Int]): Array[Byte] = {
      val lut = new Array[Byte](TotFreq)
      var s = 0
      while (s < 256) {
        if (freq(s) > 0) java.util.Arrays.fill(lut, cum(s), cum(s) + freq(s), s.toByte)
        s += 1
      }
      lut
    }

    private def readState(bs: ByteStream): Long =
      (bs.byte() | (bs.byte() << 8) | (bs.byte() << 16) |
        (bs.byte().toLong << 24)) & 0xffffffffL

    private def decode0(bs: ByteStream, out: Array[Byte]): Unit = {
      val freq = new Array[Int](256)
      readFreqs(bs, freq)
      val cum = cumFrom(freq)
      val lut = lutFrom(freq, cum)
      val r = Array(readState(bs), readState(bs), readState(bs), readState(bs))
      var i = 0
      while (i < out.length) {
        val j = i & 3
        val f = (r(j) & 0xfff).toInt
        val s = lut(f) & 0xff
        out(i) = s.toByte
        r(j) = freq(s) * (r(j) >>> 12) + f - cum(s)
        while (r(j) < Low) r(j) = (r(j) << 8) | bs.byte()
        i += 1
      }
    }

    private def decode1(bs: ByteStream, out: Array[Byte]): Unit = {
      val freq = new Array[Array[Int]](256)
      val cum = new Array[Array[Int]](256)
      val lut = new Array[Array[Byte]](256)
      var ctx = bs.byte()
      var lastC = ctx
      var rleC = 0
      var done = false
      while (!done) {
        val f = new Array[Int](256)
        readFreqs(bs, f)
        freq(ctx) = f
        cum(ctx) = cumFrom(f)
        lut(ctx) = lutFrom(f, cum(ctx))
        if (rleC > 0) { rleC -= 1; ctx += 1 }
        else {
          ctx = bs.byte()
          if (ctx == lastC + 1) rleC = bs.byte()
        }
        lastC = ctx
        if (ctx == 0 && rleC == 0) done = true
      }
      val r = Array(readState(bs), readState(bs), readState(bs), readState(bs))
      val last = new Array[Int](4)
      val q = out.length >> 2
      def step(j: Int, pos: Int): Unit = {
        val c = last(j)
        val f = (r(j) & 0xfff).toInt
        val s = lut(c)(f) & 0xff
        out(pos) = s.toByte
        r(j) = freq(c)(s) * (r(j) >>> 12) + f - cum(c)(s)
        while (r(j) < Low) r(j) = (r(j) << 8) | bs.byte()
        last(j) = s
      }
      var i = 0
      while (i < q) {
        var j = 0
        while (j < 4) { step(j, j * q + i); j += 1 }
        i += 1
      }
      i = 4 * q
      while (i < out.length) { step(3, i); i += 1 }
    }

    // ------------------------------------------------------- encoder

    /** Normalize raw counts to sum exactly [[TotFreq]], every present
      * symbol keeping frequency ≥ 1 (largest-remainder rounding). */
    private def normalize(count: Array[Long], total: Long): Array[Int] = {
      val freq = new Array[Int](256)
      var assigned = 0
      var maxI = 0
      var i = 0
      while (i < 256) {
        if (count(i) > 0) {
          val f = math.max(1L, count(i) * TotFreq / total).toInt
          freq(i) = f
          assigned += f
          if (freq(i) > freq(maxI) || count(maxI) == 0) maxI = i
        }
        i += 1
      }
      // push the rounding drift onto the most frequent symbol
      freq(maxI) += TotFreq - assigned
      require(freq(maxI) > 0, "rans normalization underflow")
      freq
    }

    private def writeFreqs(out: ByteArrayOutputStream, freq: Array[Int]): Unit = {
      var rle = 0
      var j = 0
      while (j < 256) {
        if (freq(j) != 0) {
          if (rle > 0) rle -= 1
          else {
            out.write(j)
            if (j > 0 && freq(j - 1) != 0) {
              // run of consecutive present symbols: emit its length once
              var k = j + 1
              while (k < 256 && freq(k) != 0) k += 1
              rle = k - j - 1
              out.write(rle)
            }
          }
          Cram.writeItf8(out, freq(j))
        }
        j += 1
      }
      out.write(0)
    }

    /** Encode one symbol into state x (reverse direction), emitting
      * renormalization bytes to `bytes` (which is later reversed). */
    private def encSym(x: Long, f: Int, c: Int, bytes: ByteArrayOutputStream): Long = {
      var v = x
      val xMax = ((Low >> 12) << 8) * f
      while (v >= xMax) { bytes.write((v & 0xff).toInt); v >>>= 8 }
      ((v / f) << 12) + (v % f) + c
    }

    /** rANS-compress `raw` (order 0 or 1) — primarily the round-trip
      * witness for the decoder, and a valid CRAM 3.0 block body. */
    def encode(raw: Array[Byte], order: Int): Array[Byte] = {
      require(raw.nonEmpty, "rans encode of empty input")
      val payload = new ByteArrayOutputStream(raw.length + 64)
      if (order == 0) {
        val count = new Array[Long](256)
        raw.foreach(b => count(b & 0xff) += 1)
        val freq = normalize(count, raw.length.toLong)
        val cum = cumFrom(freq)
        writeFreqs(payload, freq)
        val bytes = new ByteArrayOutputStream(raw.length)
        val r = Array.fill(4)(Low)
        var i = raw.length - 1
        while (i >= 0) {
          val j = i & 3
          val s = raw(i) & 0xff
          r(j) = encSym(r(j), freq(s), cum(s), bytes)
          i -= 1
        }
        writeStatesAndBytes(payload, r, bytes)
      } else {
        val q = raw.length >> 2
        val count = Array.fill(256)(new Array[Long](256))
        val totals = new Array[Long](256)
        var j = 0
        while (j < 4) { // quarter starts carry context 0
          val start = j * q
          if (start < raw.length) { count(0)(raw(start) & 0xff) += 1; totals(0) += 1 }
          j += 1
        }
        var i = 1
        while (i < raw.length) {
          // stream 3 runs contiguously through the tail, streams 0-2
          // each cover exactly one quarter
          val isStart = (i == q) || (i == 2 * q) || (i == 3 * q)
          if (!isStart) {
            val c = raw(i - 1) & 0xff
            count(c)(raw(i) & 0xff) += 1
            totals(c) += 1
          }
          i += 1
        }
        val freq = new Array[Array[Int]](256)
        val cum = new Array[Array[Int]](256)
        var c = 0
        while (c < 256) {
          if (totals(c) > 0) {
            freq(c) = normalize(count(c), totals(c))
            cum(c) = cumFrom(freq(c))
          }
          c += 1
        }
        // context tables, outer RLE mirroring the symbol-table scheme
        var rle = 0
        c = 0
        while (c < 256) {
          if (totals(c) > 0) {
            if (rle > 0) rle -= 1
            else {
              payload.write(c)
              if (c > 0 && totals(c - 1) > 0) {
                var k = c + 1
                while (k < 256 && totals(k) > 0) k += 1
                rle = k - c - 1
                payload.write(rle)
              }
            }
            writeFreqs(payload, freq(c))
          }
          c += 1
        }
        payload.write(0)
        val bytes = new ByteArrayOutputStream(raw.length)
        val r = Array.fill(4)(Low)
        // Encode as the EXACT reverse of the decoder's step sequence
        // (the renorm bytes of all four states share one stream): the
        // decoder runs rows i=0..q-1 stepping j=0,1,2,3, then drains
        // the tail with state 3 — so encode the tail backwards first,
        // then rows backwards stepping j=3,2,1,0.
        def ctxOf(pos: Int, streamStart: Int): Int =
          if (pos == streamStart) 0 else raw(pos - 1) & 0xff
        def enc1(j: Int, pos: Int, streamStart: Int): Unit = {
          val c = ctxOf(pos, streamStart)
          val s = raw(pos) & 0xff
          r(j) = encSym(r(j), freq(c)(s), cum(c)(s), bytes)
        }
        i = raw.length - 1
        while (i >= 4 * q) { enc1(3, i, 3 * q); i -= 1 }
        var row = q - 1
        while (row >= 0) {
          enc1(3, 3 * q + row, 3 * q)
          enc1(2, 2 * q + row, 2 * q)
          enc1(1, q + row, q)
          enc1(0, row, 0)
          row -= 1
        }
        writeStatesAndBytes(payload, r, bytes)
      }
      val body = payload.toByteArray
      val out = new ByteArrayOutputStream(body.length + 9)
      out.write(order)
      writeInt32Le(out, body.length)
      writeInt32Le(out, raw.length)
      out.write(body)
      out.toByteArray
    }

    private def writeStatesAndBytes(payload: ByteArrayOutputStream,
                                    r: Array[Long], bytes: ByteArrayOutputStream): Unit = {
      r.foreach(s => writeInt32Le(payload, s.toInt))
      val b = bytes.toByteArray
      var i = b.length - 1
      while (i >= 0) { payload.write(b(i)); i -= 1 } // emitted backwards
    }

    private def writeInt32Le(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
  }

  // =============================================== byte / bit streams

  /** Forward byte cursor over a decoded block, with CRAM varint read. */
  final class ByteStream(val data: Array[Byte]) {
    var p: Int = 0
    def byte(): Int = { val v = data(p) & 0xff; p += 1; v }
    def take(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(data, p, p + n); p += n; out
    }
    def itf8(): Int = {
      val b0 = byte()
      if ((b0 & 0x80) == 0) b0
      else if ((b0 & 0x40) == 0) ((b0 & 0x3f) << 8) | byte()
      else if ((b0 & 0x20) == 0) ((b0 & 0x1f) << 16) | (byte() << 8) | byte()
      else if ((b0 & 0x10) == 0) ((b0 & 0x0f) << 24) | (byte() << 16) | (byte() << 8) | byte()
      else ((b0 & 0x0f) << 28) | (byte() << 20) | (byte() << 12) | (byte() << 4) | (byte() & 0x0f)
    }
    def ltf8(): Long = {
      val b0 = byte()
      var extra = 0
      while (extra < 8 && ((b0 << extra) & 0x80) != 0) extra += 1
      var v: Long = if (extra >= 8) 0L else (b0 & (0xff >>> (extra + 1))).toLong
      var i = 0
      while (i < extra) { v = (v << 8) | byte(); i += 1 }
      v
    }
    def remaining: Int = data.length - p
  }

  /** MSB-first bit reader over the slice's CORE block. */
  final class BitReader(data: Array[Byte]) {
    private var bit = 0
    def readBit(): Int = {
      val v = (data(bit >> 3) >> (7 - (bit & 7))) & 1
      bit += 1
      v
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  // ========================================== encoding descriptors (§12)

  sealed trait Enc
  case object NullEnc extends Enc
  final case class ExternalEnc(cid: Int) extends Enc

  /** Canonical Huffman (§12.4): `lens(i)` bits for `syms(i)`, codes
    * assigned in (length, symbol-value) sequence — htslib/htsjdk sort
    * ties within a code length by symbol VALUE, not by listed order,
    * so a conforming file may list its alphabet unsorted.  The
    * ubiquitous degenerate single-symbol/zero-bit form reads nothing. */
  final case class HuffmanEnc(syms: Array[Int], lens: Array[Int]) extends Enc {
    private val order = syms.indices.sortBy(i => (lens(i), syms(i)))
    // (length, code) -> symbol; alphabets here are tiny (≤ ~41 syms)
    private val table: Map[(Int, Int), Int] = {
      var code = 0
      var prevLen = -1
      order.map { i =>
        if (prevLen >= 0) code = (code + 1) << (lens(i) - prevLen)
        prevLen = lens(i)
        ((lens(i), code), syms(i))
      }.toMap
    }
    def read(core: BitReader): Int = {
      if (syms.length == 1 && lens(0) == 0) return syms(0)
      var len = 0
      var code = 0
      while (len <= 31) {
        code = (code << 1) | core.readBit()
        len += 1
        table.get((len, code)) match {
          case Some(s) => return s
          case None =>
        }
      }
      throw new IllegalStateException("huffman code over 31 bits")
    }
  }

  final case class BetaEnc(offset: Int, bits: Int) extends Enc
  final case class GammaEnc(offset: Int) extends Enc
  final case class SubexpEnc(offset: Int, k: Int) extends Enc
  final case class ByteArrayLenEnc(len: Enc, value: Enc) extends Enc
  final case class ByteArrayStopEnc(stop: Int, cid: Int) extends Enc

  /** Parse one encoding descriptor: codec id (ITF8) + params length +
    * codec-specific params (§12). */
  def parseEnc(bs: ByteStream): Enc = {
    val codec = bs.itf8()
    val plen = bs.itf8()
    val end = bs.p + plen
    val e = codec match {
      case 0 => NullEnc
      case 1 => ExternalEnc(bs.itf8())
      case 3 =>
        val n = bs.itf8()
        val syms = Array.fill(n)(bs.itf8())
        val m = bs.itf8()
        val lens = Array.fill(m)(bs.itf8())
        HuffmanEnc(syms, lens)
      case 4 => ByteArrayLenEnc(parseEnc(bs), parseEnc(bs))
      case 5 => ByteArrayStopEnc(bs.byte(), bs.itf8())
      case 6 => val off = bs.itf8(); BetaEnc(off, bs.itf8())
      case 7 => val off = bs.itf8(); SubexpEnc(off, bs.itf8())
      case 9 => GammaEnc(bs.itf8())
      case other => throw new UnsupportedOperationException(s"CRAM codec id $other")
    }
    require(bs.p == end, s"encoding params over/under-run (codec $codec)")
    e
  }

  // ============================================= compression header (§11)

  final case class TagDef(tag: String, typ: Char, cid: Int)

  final case class CompHeader(
      apDelta: Boolean, rnCaptured: Boolean, refRequired: Boolean,
      subMatrix: Array[Byte],
      tagLines: Array[Array[TagDef]],
      ds: Map[String, Enc],
      tagEnc: Map[Int, Enc])

  def parseCompHeader(data: Array[Byte]): CompHeader = {
    val bs = new ByteStream(data)
    // preservation map
    var apDelta = true; var rnCaptured = true; var refRequired = true
    var sm: Array[Byte] = Array[Byte](0x1b, 0x1b, 0x1b, 0x1b, 0x1b)
    var td: Array[Byte] = Array.emptyByteArray
    bs.itf8() // byte size
    val np = bs.itf8()
    (0 until np).foreach { _ =>
      val key = new String(bs.take(2), java.nio.charset.StandardCharsets.US_ASCII)
      key match {
        case "RN" => rnCaptured = bs.byte() != 0
        case "AP" => apDelta = bs.byte() != 0
        case "RR" => refRequired = bs.byte() != 0
        case "SM" => sm = bs.take(5)
        case "TD" => td = bs.take(bs.itf8())
        case other => throw new UnsupportedOperationException(s"preservation key $other")
      }
    }
    val tagLines = new String(td, java.nio.charset.StandardCharsets.US_ASCII)
      .split("\u0000", -1).dropRight(1) // trailing NUL yields one empty tail
      .map { line =>
        line.grouped(3).filter(_.length == 3).map { t =>
          TagDef(t.substring(0, 2), t.charAt(2),
            (t.charAt(0) << 16) | (t.charAt(1) << 8) | t.charAt(2))
        }.toArray
      }
    // data series encodings
    bs.itf8()
    val nd = bs.itf8()
    val ds = (0 until nd).map { _ =>
      val key = new String(bs.take(2), java.nio.charset.StandardCharsets.US_ASCII)
      key -> parseEnc(bs)
    }.toMap
    // tag encodings
    bs.itf8()
    val nt = bs.itf8()
    val te = (0 until nt).map { _ =>
      val key = bs.itf8()
      key -> parseEnc(bs)
    }.toMap
    CompHeader(apDelta, rnCaptured, refRequired, sm, tagLines, ds, te)
  }

  // ======================================================= slice header

  final case class SliceHeader(refSeqId: Int, start: Int, span: Int,
                               nRecords: Int, contentIds: Array[Int],
                               embeddedRefCid: Int)

  def parseSliceHeader(data: Array[Byte]): SliceHeader = {
    val bs = new ByteStream(data)
    val rid = bs.itf8()
    val start = bs.itf8()
    val span = bs.itf8()
    val nRec = bs.itf8()
    bs.ltf8() // record counter
    bs.itf8() // block count
    val n = bs.itf8()
    val cids = Array.fill(n)(bs.itf8())
    val emb = bs.itf8()
    // 16-byte reference md5 + (3.0) optional tags follow — not needed
    SliceHeader(rid, start, span, nRec, cids, emb)
  }

  // ====================================================== series readers

  /** Decode state for one slice: the core bit stream plus one byte
    * cursor per external block content id. */
  final class SliceCtx(val core: BitReader, val ext: Map[Int, ByteStream]) {
    def stream(cid: Int): ByteStream =
      ext.getOrElse(cid, throw new IllegalStateException(s"missing external block $cid"))

    /** `e` with its external blocks looked up once for this slice, so a
      * value read costs a field access, not a map lookup.  A block the
      * slice lacks fails only when a value is read from it. */
    def bind(e: Enc): Enc = e match {
      case ExternalEnc(cid) => BoundExt(cid, ext.getOrElse(cid, null))
      case ByteArrayStopEnc(stop, cid) => BoundStop(stop, cid, ext.getOrElse(cid, null))
      case ByteArrayLenEnc(len, value) => ByteArrayLenEnc(bind(len), bind(value))
      case other => other
    }
  }

  /** Bound forms ([[SliceCtx.bind]]): EXTERNAL and BYTE_ARRAY_STOP over
    * the slice's stream (null when the slice has no block `cid`), and a
    * series the compression header does not encode. */
  private final case class BoundExt(cid: Int, s: ByteStream) extends Enc
  private final case class BoundStop(stop: Int, cid: Int, s: ByteStream) extends Enc
  private final case class Unencoded(what: String) extends Enc

  private def present(s: ByteStream, cid: Int): ByteStream =
    if (s != null) s else throw new IllegalStateException(s"missing external block $cid")

  /** Value reads from an encoding bound to the slice ([[SliceCtx.bind]]). */
  private def readInt(e: Enc, ctx: SliceCtx): Int = e match {
    case BoundExt(cid, s) => present(s, cid).itf8()
    case h: HuffmanEnc => h.read(ctx.core)
    case BetaEnc(off, bits) => ctx.core.readBits(bits) - off
    case GammaEnc(off) =>
      var n = 0
      while (ctx.core.readBit() == 0) n += 1
      ((1 << n) | ctx.core.readBits(n)) - off
    case SubexpEnc(off, k) =>
      var u = 0
      while (ctx.core.readBit() == 1) u += 1
      val b = if (u == 0) k else u + k - 1
      val n = ctx.core.readBits(b)
      (if (u == 0) n else (1 << b) | n) - off
    case Unencoded(what) => throw new IllegalStateException(what)
    case other => throw new UnsupportedOperationException(s"int read from $other")
  }

  private def readByte(e: Enc, ctx: SliceCtx): Int = e match {
    case BoundExt(cid, s) => present(s, cid).byte()
    case h: HuffmanEnc => h.read(ctx.core)
    case BetaEnc(off, bits) => ctx.core.readBits(bits) - off
    case Unencoded(what) => throw new IllegalStateException(what)
    case other => throw new UnsupportedOperationException(s"byte read from $other")
  }

  private def readBytes(e: Enc, ctx: SliceCtx): Array[Byte] = e match {
    case ByteArrayLenEnc(lenE, valE) =>
      val n = readInt(lenE, ctx)
      valE match {
        case BoundExt(cid, s) => present(s, cid).take(n)
        case _ => Array.fill(n)(readByte(valE, ctx).toByte)
      }
    case BoundStop(stop, cid, s) =>
      val st = present(s, cid)
      val start = st.p
      while (st.data(st.p) != stop.toByte) st.p += 1
      val out = java.util.Arrays.copyOfRange(st.data, start, st.p)
      st.p += 1 // consume the stop byte
      out
    case Unencoded(what) => throw new IllegalStateException(what)
    case other => throw new UnsupportedOperationException(s"byte-array read from $other")
  }

  // ================================================== reference provider

  /** Per-task reference bases, fetched lazily per (refId, slice span)
    * through the FASTA `.fai` ranged read — a task never loads more
    * than the spans its slices cover. */
  final class RefSource(path: Option[String], refs: Array[SamRef]) {
    // one window per refId, sized by the slice span — NOT the contig:
    // a whole human chr1 would be ~250 MB of String per task thread.
    // Slices of a task arrive in coordinate order, so keeping only the
    // latest window per refId bounds memory at max-slice-span while
    // still serving every record of the current slice from one fetch.
    private val cache = scala.collection.mutable.Map[Int, (Int, String)]()
    /** Bases covering [start, start+span) of `refId`, 1-based start. */
    def slice(refId: Int, start: Int, span: Int): (Int, String) = {
      cache.get(refId) match {
        case Some(w @ (s0, bases))
            if s0 <= start && start.toLong + span <= s0.toLong + bases.length => w
        case _ =>
          val p = path.getOrElse(throw new IllegalArgumentException(
            "this CRAM requires the reference FASTA to reconstruct sequences " +
              "(compression header sets RR=1): pass option(\"reference\", <fasta>) " +
              "/ CramIO.read(..., reference = Some(<fasta>))"))
          val s1 = math.max(1L, start.toLong)
          val e1 = math.min(refs(refId).length, start.toLong + math.max(span, 1) - 1)
          val w = (s1.toInt, Fasta.region(p, refs(refId).name, s1, e1))
          cache(refId) = w
          w
      }
    }
    def available: Boolean = path.isDefined
  }

  // ==================================================== record decoding

  private val Bases = "ACGTN"

  /** Substituted read base for reference base `ref` and 2-bit
    * substitution `code` under matrix `sm` (§10.6.2). */
  private def substitute(sm: Array[Byte], ref: Char, code: Int): Char = {
    val ri = Bases.indexOf(Character.toUpperCase(ref)) match {
      case -1 => 4 // unknown reference base behaves as N
      case i => i
    }
    val b = sm(ri) & 0xff
    var i = 0
    while (i < 4) {
      if (((b >> (6 - 2 * i)) & 3) == code) {
        // the i-th base of ACGTN with the reference base removed
        var seen = 0
        var j = 0
        while (j < 5) {
          if (j != ri) {
            if (seen == i) return Bases.charAt(j)
            seen += 1
          }
          j += 1
        }
      }
      i += 1
    }
    'N'
  }

  private final class CigarBuilder {
    private val sb = new StringBuilder
    private var lastOp: Char = 0
    private var lastLen = 0
    def add(op: Char, len: Int): Unit = if (len > 0 || op == 'H' || op == 'P') {
      if (op == lastOp) lastLen += len
      else {
        flushOp()
        lastOp = op; lastLen = len
      }
    }
    private def flushOp(): Unit =
      if (lastOp != 0 && lastLen > 0) { sb.append(lastLen).append(lastOp); () }
    def result(): String = { flushOp(); lastOp = 0; if (sb.isEmpty) "*" else sb.toString }
  }

  /** Decode every record of one slice (§10).  Mate fields of
    * within-slice pairs are resolved after the scan (NF chains);
    * detached records carry theirs inline. */
  // Records are accumulated mutable-first, then frozen to SamRecord.
  private final class Rec {
    var qname: String = ""
    var flag = 0
    var refId = -1
    var pos = 0
    var mapq = 0
    var cigar = "*"
    var nextRef = -1
    var nextPos = 0
    var tlen = 0
    var seq = "*"
    var qual = "*"
    var tags: List[String] = Nil
    var mateDown = -1 // within-slice mate index (from NF)
    var endCached = 0
    def end: Int =
      if (endCached == 0) { endCached = pos + math.max(graft.model.Cigar.referenceLength(cigar), 1) - 1; endCached }
      else endCached
  }

  def decodeSlice(h: CompHeader, slice: SliceHeader, ctx: SliceCtx,
                  refs: Array[SamRef], rgIds: Array[String],
                  refSrc: RefSource): Seq[SamRecord] = {
    // every series bound to this slice's streams once, not per value
    def series(key: String): Enc = h.ds.get(key) match {
      case Some(e) => ctx.bind(e)
      case None => Unencoded(s"no encoding for required series $key")
    }
    val BF = series("BF"); val CF = series("CF"); val RI = series("RI")
    val RL = series("RL"); val AP = series("AP"); val RG = series("RG")
    val RN = series("RN"); val MF = series("MF"); val NS = series("NS")
    val NP = series("NP"); val TS = series("TS"); val NF = series("NF")
    val TL = series("TL"); val FN = series("FN"); val FC = series("FC")
    val FP = series("FP"); val BA = series("BA"); val QS = series("QS")
    val BS = series("BS"); val IN = series("IN"); val SC = series("SC")
    val DL = series("DL"); val RS = series("RS"); val HC = series("HC")
    val PD = series("PD"); val BB = series("BB"); val QQ = series("QQ")
    val MQ = series("MQ")
    // tag encodings are bound per tag line on first use: tag content
    // ids are 24-bit, too sparse for a table indexed by id
    val tagEncs = new Array[Array[Enc]](h.tagLines.length)
    def tagLine(tl: Int): Array[Enc] = {
      if (tagEncs(tl) == null) tagEncs(tl) = h.tagLines(tl).map { td =>
        h.tagEnc.get(td.cid).map(ctx.bind)
          .getOrElse(Unencoded(s"no tag encoding for ${td.tag}:${td.typ}"))
      }
      tagEncs(tl)
    }

    val recs = new Array[Rec](slice.nRecords)
    var prevPos = slice.start
    var i = 0
    while (i < slice.nRecords) {
      val r = new Rec
      val bf = readInt(BF, ctx)
      val cf = readInt(CF, ctx)
      r.refId = if (slice.refSeqId == -2) readInt(RI, ctx) else slice.refSeqId
      val rl = readInt(RL, ctx)
      r.pos =
        if (h.apDelta) { prevPos += readInt(AP, ctx); prevPos }
        else readInt(AP, ctx)
      val rg = readInt(RG, ctx)
      if (h.rnCaptured)
        r.qname = new String(readBytes(RN, ctx), java.nio.charset.StandardCharsets.US_ASCII)
      // ---- mate info
      var flag = bf
      if ((cf & 0x2) != 0) { // detached
        val mf = readInt(MF, ctx)
        if ((mf & 0x1) != 0) flag |= 0x20
        if ((mf & 0x2) != 0) flag |= 0x8
        if (!h.rnCaptured)
          r.qname = new String(readBytes(RN, ctx), java.nio.charset.StandardCharsets.US_ASCII)
        r.nextRef = readInt(NS, ctx)
        r.nextPos = readInt(NP, ctx)
        r.tlen = readInt(TS, ctx)
      } else if ((cf & 0x4) != 0) {
        r.mateDown = i + 1 + readInt(NF, ctx)
      }
      // ---- tags
      val tl = readInt(TL, ctx)
      if (tl >= 0 && tl < h.tagLines.length) {
        val line = h.tagLines(tl)
        val encs = tagLine(tl)
        var t = 0
        while (t < line.length) {
          r.tags = formatTag(line(t), readBytes(encs(t), ctx)) :: r.tags
          t += 1
        }
      }
      // ---- alignment payload
      val quals = new Array[Byte](rl)
      java.util.Arrays.fill(quals, -1: Byte)
      if ((bf & 0x4) == 0) { // mapped
        val fn = readInt(FN, ctx)
        val seq = new Array[Char](rl)
        java.util.Arrays.fill(seq, 'N')
        val cig = new CigarBuilder
        // reference bases are only touched when a match region exists,
        // so fully clipped/inserted reads decode without a reference
        lazy val refPair = refFor(slice, ctx, refSrc, r.refId)
        def refAt(p1: Int): Char = {
          val idx = p1 - refPair._1
          val s = refPair._2
          if (s.nonEmpty && idx >= 0 && idx < s.length) s.charAt(idx) else 'N'
        }
        var rpos = 0 // read cursor, 0-based
        var rofs = 0 // reference offset from r.pos
        var fpos = 0
        var f = 0
        def matchRun(n: Int): Unit = if (n > 0) {
          var k = 0
          while (k < n) { seq(rpos + k) = refAt(r.pos + rofs + k); k += 1 }
          cig.add('M', n); rpos += n; rofs += n
        }
        while (f < fn) {
          val code = readByte(FC, ctx).toChar
          fpos += readInt(FP, ctx)
          code match {
            case 'B' =>
              matchRun(fpos - 1 - rpos)
              seq(rpos) = (readByte(BA, ctx) & 0xff).toChar
              quals(rpos) = readByte(QS, ctx).toByte
              cig.add('M', 1); rpos += 1; rofs += 1
            case 'X' =>
              matchRun(fpos - 1 - rpos)
              val c = readInt(BS, ctx)
              seq(rpos) = substitute(h.subMatrix, refAt(r.pos + rofs), c)
              cig.add('M', 1); rpos += 1; rofs += 1
            case 'I' =>
              matchRun(fpos - 1 - rpos)
              val ins = readBytes(IN, ctx)
              copyChars(ins, seq, rpos)
              cig.add('I', ins.length); rpos += ins.length
            case 'i' =>
              matchRun(fpos - 1 - rpos)
              seq(rpos) = (readByte(BA, ctx) & 0xff).toChar
              cig.add('I', 1); rpos += 1
            case 'S' =>
              matchRun(fpos - 1 - rpos)
              val sc = readBytes(SC, ctx)
              copyChars(sc, seq, rpos)
              cig.add('S', sc.length); rpos += sc.length
            case 'D' =>
              matchRun(fpos - 1 - rpos)
              val n = readInt(DL, ctx)
              cig.add('D', n); rofs += n
            case 'N' =>
              matchRun(fpos - 1 - rpos)
              val n = readInt(RS, ctx)
              cig.add('N', n); rofs += n
            case 'H' =>
              matchRun(fpos - 1 - rpos)
              cig.add('H', readInt(HC, ctx))
            case 'P' =>
              matchRun(fpos - 1 - rpos)
              cig.add('P', readInt(PD, ctx))
            case 'b' =>
              matchRun(fpos - 1 - rpos)
              val bb = readBytes(BB, ctx)
              copyChars(bb, seq, rpos)
              cig.add('M', bb.length); rpos += bb.length; rofs += bb.length
            case 'Q' =>
              quals(fpos - 1) = readByte(QS, ctx).toByte
            case 'q' =>
              val qq = readBytes(QQ, ctx)
              System.arraycopy(qq, 0, quals, fpos - 1, qq.length)
            case other =>
              throw new UnsupportedOperationException(s"feature code '$other'")
          }
          f += 1
        }
        matchRun(rl - rpos)
        r.mapq = readInt(MQ, ctx)
        r.cigar = cig.result()
        r.seq = if (rl == 0) "*" else new String(seq)
      } else { // unmapped: verbatim bases
        val seq = new Array[Char](rl)
        var k = 0
        while (k < rl) { seq(k) = (readByte(BA, ctx) & 0xff).toChar; k += 1 }
        r.seq = if (rl == 0) "*" else new String(seq)
      }
      // CF bit 0x8 (§8.4): SEQ is unknown — htslib sets it for mapped
      // records whose bases were not stored; report '*' like samtools
      // rather than the reference-reconstructed bases decoded above.
      if ((cf & 0x8) != 0) r.seq = "*"
      if ((cf & 0x1) != 0) QS match { // qualities stored as an array
        case BoundExt(cid, s) =>
          // EXTERNAL: the record's qualities are the next rl bytes
          val st = present(s, cid)
          System.arraycopy(st.data, st.p, quals, 0, rl)
          st.p += rl
        case qe =>
          var k = 0
          while (k < rl) { quals(k) = readByte(qe, ctx).toByte; k += 1 }
      }
      r.qual = qualString(quals)
      if (rg >= 0 && rg < rgIds.length) r.tags = s"RG:Z:${rgIds(rg)}" :: r.tags
      r.flag = flag
      recs(i) = r
      i += 1
    }
    resolveMates(recs)
    recs.map { r =>
      val rname = if (r.refId < 0) "*" else refs(r.refId).name
      val rnext =
        if (r.nextRef < 0) "*"
        else if (r.nextRef == r.refId) "="
        else refs(r.nextRef).name
      SamRecord(r.qname, r.flag, rname, r.pos, r.mapq, r.cigar, rnext,
        r.nextPos, r.tlen, r.seq, r.qual, r.tags.reverse.toArray)
    }.toSeq
  }

  /** Bytes as chars (Latin-1) into `seq` from `at`. */
  private def copyChars(src: Array[Byte], seq: Array[Char], at: Int): Unit = {
    var k = 0
    while (k < src.length) { seq(at + k) = (src(k) & 0xff).toChar; k += 1 }
  }

  /** Phred+33 text of a record's qualities; "*" when none is stored
    * (every byte the 0xff "missing" sentinel, or no bases). */
  private def qualString(q: Array[Byte]): String = {
    var k = 0
    while (k < q.length && q(k) == -1) k += 1
    if (k == q.length) "*"
    else {
      val c = new Array[Char](q.length)
      k = 0
      while (k < q.length) { c(k) = (q(k) + 33).toChar; k += 1 }
      new String(c)
    }
  }

  /** Reference bases for a record's contig: the slice's embedded
    * reference block when present, else the FASTA. */
  private def refFor(slice: SliceHeader, ctx: SliceCtx, refSrc: RefSource,
                     refId: Int): (Int, String) = {
    if (slice.embeddedRefCid >= 0) {
      val bs = ctx.stream(slice.embeddedRefCid)
      (slice.start, new String(bs.data, java.nio.charset.StandardCharsets.US_ASCII))
    } else if (refId >= 0 && refSrc.available) refSrc.slice(refId, slice.start, slice.span)
    else if (refId >= 0) refSrc.slice(refId, slice.start, slice.span) // throws with guidance
    else (1, "")
  }

  /** Fill mate fields across NF chains (§10.3): each record points at
    * its downstream fragment; flags, RNEXT/PNEXT and the signed
    * template length are reconstructed pairwise. */
  private def resolveMates(recs: Array[Rec]): Unit = {
    var i = 0
    while (i < recs.length) {
      val a = recs(i)
      if (a.mateDown >= 0) {
        require(a.mateDown < recs.length,
          s"NF points past slice end ($i -> ${a.mateDown} of ${recs.length})")
        val b = recs(a.mateDown)
        if ((b.flag & 0x10) != 0) a.flag |= 0x20
        if ((b.flag & 0x4) != 0) a.flag |= 0x8
        if ((a.flag & 0x10) != 0) b.flag |= 0x20
        if ((a.flag & 0x4) != 0) b.flag |= 0x8
        a.nextRef = b.refId; a.nextPos = b.pos
        b.nextRef = a.refId; b.nextPos = a.pos
        val left = math.min(a.pos, b.pos)
        val right = math.max(a.end, b.end)
        val span = right - left + 1
        if (a.pos <= b.pos) { a.tlen = span; b.tlen = -span }
        else { a.tlen = -span; b.tlen = span }
      }
      i += 1
    }
  }

  /** One SAM "TAG:TYPE:VALUE" string from the CRAM tag byte stream —
    * the value bytes are the BAM tag-value wire format, so this
    * delegates to the BAM codec for exact parity with the BAM reader. */
  private def formatTag(td: TagDef, value: Array[Byte]): String = {
    val buf = java.nio.ByteBuffer.allocate(3 + value.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(td.tag.charAt(0).toByte).put(td.tag.charAt(1).toByte)
      .put(td.typ.toByte).put(value)
    buf.flip()
    BamCodec.decodeTag(buf)
  }

  /** @RG IDs in header order — the RG data series indexes this. */
  def readGroupIds(headerText: String): Array[String] =
    headerText.split("\n").filter(_.startsWith("@RG")).flatMap { line =>
      line.split("\t").find(_.startsWith("ID:")).map(_.substring(3))
    }

  /** Decode all records of one container given its parsed blocks
    * (compression header + per-slice block runs). */
  def decodeContainer(blocks: Seq[CramIO.Block], refs: Array[SamRef],
                      rgIds: Array[String], refSrc: RefSource): Seq[SamRecord] = {
    val compData = blocks.headOption
      .filter(_.contentType == CramIO.CompressionHeader)
      .getOrElse(throw new IllegalStateException(
        "container does not start with a compression header block")).data
    val h = parseCompHeader(compData)
    val out = scala.collection.mutable.ArrayBuffer[SamRecord]()
    var i = 1
    while (i < blocks.length) {
      val b = blocks(i)
      require(b.contentType == CramIO.SliceHeader,
        s"expected slice header block, got content type ${b.contentType}")
      val slice = parseSliceHeader(b.data)
      // the slice's own blocks follow: one core + its external blocks
      var core: Array[Byte] = Array.emptyByteArray
      val ext = scala.collection.mutable.Map[Int, ByteStream]()
      i += 1
      while (i < blocks.length && blocks(i).contentType != CramIO.SliceHeader) {
        val db = blocks(i)
        if (db.contentType == 5) core = db.data
        else if (db.contentType == CramIO.External) ext(db.contentId) = new ByteStream(db.data)
        i += 1
      }
      out ++= decodeSlice(h, slice, new SliceCtx(new BitReader(core), ext.toMap),
        refs, rgIds, refSrc)
    }
    out.toSeq
  }
}
