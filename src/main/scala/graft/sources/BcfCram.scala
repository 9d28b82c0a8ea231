package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.model.VcfVariant

/** BCF2 binary codec over BGZF (S11; ref: BCFRecordReader.java /
  * BCFRecordWriter.java re-expressed against the public BCF2 spec).
  *
  * Site-level fields (CHROM/POS/ID/REF/ALT/QUAL/FILTER + INFO as
  * typed string values) round-trip; the INFO/genotype typed-value
  * system implements the BCF2 atomic types over strings (the
  * reference delegates the same decode to htsjdk).
  */
object Bcf {

  val Magic: Array[Byte] = Array('B', 'C', 'F', 2, 2).map(_.toByte)

  // BCF2 typed values: (type byte = len<<4 | type), type 1=int8,
  // 2=int16, 3=int32, 5=float, 7=char
  private def writeTyped(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    if (b.length < 15) o.write((b.length << 4) | 7)
    else { o.write((15 << 4) | 7); writeTypedInt(o, b.length) }
    o.write(b)
  }

  private def writeTypedInt(o: DataOutputStream, v: Int): Unit = {
    if (v >= Byte.MinValue && v <= Byte.MaxValue) { o.write((1 << 4) | 1); o.write(v) }
    else if (v >= Short.MinValue && v <= Short.MaxValue) {
      o.write((1 << 4) | 2); o.write(v & 0xff); o.write((v >> 8) & 0xff)
    } else {
      o.write((1 << 4) | 3)
      o.write(v & 0xff); o.write((v >> 8) & 0xff); o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
    }
  }

  private def readTyped(b: ByteBuffer): (Int, Int) = { // (type, len)
    val tb = b.get & 0xff
    val t = tb & 0xf
    var len = tb >>> 4
    if (len == 15) {
      val (innerType, innerLen) = readTyped(b)
      require(innerLen == 1, s"typed length must be scalar, got $innerLen")
      len = readInt(b, innerType)
    }
    (t, len)
  }

  private def readInt(b: ByteBuffer, sizeCode: Int): Int = sizeCode match {
    case 1 => b.get.toInt
    case 2 => b.getShort.toInt
    case _ => b.getInt
  }

  private def readTypedIntV(b: ByteBuffer): Int = {
    val (t, len) = readTyped(b)
    require(len == 1, s"expected scalar int, len=$len")
    readInt(b, t)
  }

  private def readTypedString(b: ByteBuffer): String = {
    val (t, len) = readTyped(b)
    require(t == 7, s"expected char vector, type=$t")
    val buf = new Array[Byte](len)
    b.get(buf)
    new String(buf, UTF_8)
  }

  /** Any typed value rendered as its VCF text form — graft writes INFO
    * values as char vectors, but htslib writes them NATIVELY typed
    * (int8/16/32 vectors, float vectors, flags as an empty or int
    * vector), so the reader must accept every atomic type. */
  private def readTypedValueString(b: ByteBuffer): String = {
    val (t, len) = readTyped(b)
    t match {
      case 0 => "" // MISSING type byte: a FLAG's presence is the value
      case 7 =>
        val buf = new Array[Byte](len)
        b.get(buf)
        new String(buf, UTF_8)
      case 1 | 2 | 3 =>
        val sz = t
        val vals = (0 until len).map(_ => readInt(b, t))
        vals.takeWhile(_ != intEov(sz))
          .map(v => if (v == intMissing(sz)) "." else v.toString)
          .mkString(",")
      case 5 =>
        val vals = (0 until len).map(_ => b.getInt)
        vals.takeWhile(_ != FloatEovBits)
          .map(v => if (v == FloatMissingBits) "."
            else java.lang.Float.intBitsToFloat(v).toString)
          .mkString(",")
      case other => throw new IllegalArgumentException(s"BCF typed value type $other")
    }
  }

  /** Encode one variant's shared (site) block. `contigIdx`/`filterIdx`
    * map names to header dictionary offsets.  `nFmt`/`nSample` are the
    * genotype-matrix dimensions recorded in the shared block (0/0 for
    * a sites-only record; the matrix itself lives in the indiv block,
    * [[encodeIndiv]]). */
  def encode(v: VcfVariant, contigIdx: Map[String, Int],
             filterIdx: Map[String, Int],
             infoIdx: Map[String, Int],
             nFmt: Int = 0, nSample: Int = 0): Array[Byte] = {
    val buf = new ByteArrayOutputStream(96)
    val o = new DataOutputStream(buf)
    def w32(x: Int): Unit = { o.write(x & 0xff); o.write((x >> 8) & 0xff); o.write((x >> 16) & 0xff); o.write((x >> 24) & 0xff) }
    w32(contigIdx(v.chrom))
    w32(v.pos.toInt - 1) // 0-based
    // rlen = the record's reference span, stretched to INFO END= for
    // symbolic/structural alleles — htslib sets rlen the same way, and
    // CSI binning/interval pruning depend on it covering the span
    w32((Vcf.spanEnd(v) - v.pos + 1).toInt)
    w32(v.qual.map(q => java.lang.Float.floatToIntBits(q.toFloat))
      .getOrElse(0x7f800001)) // missing float
    val nAllele = 1 + v.alt.length
    w32((v.infoKeys.length & 0xffff) | (nAllele << 16)) // n_info | n_allele<<16
    w32((nSample & 0xffffff) | (nFmt << 24)) // n_fmt<<24 | n_sample
    writeTyped(o, if (v.id == ".") "" else v.id)
    writeTyped(o, v.ref)
    v.alt.foreach(a => writeTyped(o, a))
    // FILTER: int16 vector of header dictionary offsets
    if (v.filter == "." || v.filter.isEmpty) o.write(0) // empty vector
    else {
      val fs = v.filter.split(";").map(filterIdx)
      if (fs.length < 15) o.write((fs.length << 4) | 2)
      else { o.write((15 << 4) | 2); writeTypedInt(o, fs.length) }
      fs.foreach { f => o.write(f & 0xff); o.write((f >> 8) & 0xff) }
    }
    // INFO: header-dictionary offset of the key (typed int) + value
    v.infoKeys.zip(v.infoValues).foreach { case (k, value) =>
      writeTypedInt(o, infoIdx(k))
      writeTyped(o, value)
    }
    o.flush()
    buf.toByteArray
  }

  /** Resolve a record wire index against a (possibly sparse) header
    * dictionary — sparse IDX= headers leave null holes; a record
    * pointing at one means the header and body disagree. */
  private def resolve(table: Array[String], i: Int, kind: String): String = {
    if (i < 0 || i >= table.length || table(i) == null)
      throw new IllegalStateException(
        s"BCF record references $kind dictionary index $i, which the header does not define")
    table(i)
  }

  def decode(data: Array[Byte], contigs: Array[String], filters: Array[String],
             infoKeys: Array[String], indiv: Array[Byte] = Array.emptyByteArray,
             fmtKeys: Array[String] = Array.empty,
             fields: Int = Vcf.AllFields): VcfVariant = {
    val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val chrom = resolve(contigs, b.getInt, "contig")
    val pos = b.getInt + 1L
    b.getInt // rlen
    val qualBits = b.getInt
    val qual = if (qualBits == 0x7f800001) None else Some(java.lang.Float.intBitsToFloat(qualBits).toDouble)
    val nInfoAllele = b.getInt
    val nInfo = nInfoAllele & 0xffff
    val nAllele = nInfoAllele >>> 16
    val nFmtSample = b.getInt
    val nSample = nFmtSample & 0xffffff
    val nFmt = nFmtSample >>> 24
    val id0 = readTypedString(b)
    val ref = readTypedString(b)
    val alts = (1 until nAllele).map(_ => readTypedString(b)).toArray
    val (ft, flen) = readTyped(b)
    val filter =
      if (flen == 0) "."
      else (0 until flen).map(_ => resolve(filters, readInt(b, ft), "FILTER")).mkString(";")
    // INFO is the tail of the shared block: an unmasked-out decode
    // (lazy site-only read, ref: LazyBCFGenotypesContext.java:1) just
    // stops here instead of walking the typed values
    val wantInfo = (fields & Vcf.FInfo) != 0 && nInfo > 0
    val ik = if (wantInfo) new Array[String](nInfo) else Array.empty[String]
    val iv = if (wantInfo) new Array[String](nInfo) else Array.empty[String]
    if (wantInfo) (0 until nInfo).foreach { i =>
      val keyIdx = readTypedIntV(b)
      ik(i) = resolve(infoKeys, keyIdx, "INFO")
      iv(i) = readTypedValueString(b)
    }
    val (fmt, gts) =
      if ((fields & Vcf.FGenotypes) != 0 &&
        nFmt > 0 && nSample > 0 && indiv.nonEmpty && fmtKeys.nonEmpty)
        decodeIndiv(indiv, fmtKeys, nFmt, nSample)
      else (Array.empty[String], Array.empty[String])
    VcfVariant(chrom, pos, if (id0.isEmpty) "." else id0, ref, alts, qual,
      filter, ik, iv, fmt, gts)
  }

  // ------------------------------------------------- genotype matrix
  // BCF2 indiv block: per FORMAT field, a typed int key offset + ONE
  // type descriptor shared by all samples (vector width = max across
  // samples) + n_sample fixed-width value vectors.  Reserved values
  // (public BCF2 spec table 1): per-type MISSING and END_OF_VECTOR
  // (vector padding).  GT uses the spec's (allele+1)<<1|phased ints.

  private val FloatMissingBits = 0x7f800001
  private val FloatEovBits = 0x7f800002

  private def intMissing(sz: Int): Int = sz match {
    case 1 => 0x80 - 256 // -128
    case 2 => 0x8000 - 65536
    case _ => 0x80000000
  }
  private def intEov(sz: Int): Int = sz match {
    case 1 => 0x81 - 256
    case 2 => 0x8001 - 65536
    case _ => 0x80000001
  }

  private def writeIntOfSize(o: DataOutputStream, v: Int, sz: Int): Unit = sz match {
    case 1 => o.write(v & 0xff)
    case 2 => o.write(v & 0xff); o.write((v >> 8) & 0xff)
    case _ => o.write(v & 0xff); o.write((v >> 8) & 0xff); o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }

  private def writeVectorHeader(o: DataOutputStream, len: Int, t: Int): Unit = {
    if (len < 15) o.write((len << 4) | t)
    else { o.write((15 << 4) | t); writeTypedInt(o, len) }
  }

  /** Encode the genotype matrix (indiv block) of one variant.  Field
    * element types are inferred per FORMAT key: GT → spec ints; else
    * int8/16/32 if every element round-trips as an int, float if every
    * element round-trips Float.toString, else a padded char vector —
    * inference instead of header ##FORMAT Type= keeps the codec
    * self-contained.  Round-trip is exact up to BCF2's rectangular
    * matrix: a sample string with fewer fields than FORMAT keys (legal
    * VCF trailing omission, "1:99" under GT:GQ:AD) materializes the
    * absent fields as "." on decode ("1:99:.") — the same
    * canonicalization htslib applies. */
  def encodeIndiv(v: VcfVariant, fmtIdx: Map[String, Int]): Array[Byte] = {
    val buf = new ByteArrayOutputStream(64)
    val o = new DataOutputStream(buf)
    val fields = v.genotypes.map(_.split(":", -1))
    v.format.zipWithIndex.foreach { case (key, j) =>
      val raw = fields.map(f => if (j < f.length && f(j).nonEmpty) f(j) else ".")
      writeTypedInt(o, fmtIdx(key))
      if (key == "GT") writeGt(o, raw) else writeFmtValues(o, raw)
    }
    o.flush()
    buf.toByteArray
  }

  private def writeGt(o: DataOutputStream, raw: Array[String]): Unit = {
    // per-sample allele codes: (allele+1)<<1 | phased ('.' allele = -1)
    val per = raw.map { g =>
      val codes = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      var phased = false
      var tok = new java.lang.StringBuilder(4)
      def flush(): Unit = {
        val a = if (tok.length == 0 || tok.toString == ".") -1 else tok.toString.toInt
        codes += (((a + 1) << 1) | (if (phased && codes.nonEmpty) 1 else 0))
        tok.setLength(0)
      }
      while (i < g.length) {
        val c = g.charAt(i)
        if (c == '/' || c == '|') { flush(); phased = c == '|' }
        else tok.append(c)
        i += 1
      }
      flush()
      codes.toArray
    }
    val width = per.map(_.length).max
    // size by the largest code, clear of each width's reserved band —
    // allele indices >= 63 push codes past int8 (big multi-allelic
    // sites), so the width is chosen, not assumed
    val maxCode = per.iterator.flatten.foldLeft(0)(math.max)
    val sz = if (maxCode <= 127) 1 else if (maxCode <= 32767) 2 else 4
    writeVectorHeader(o, width, if (sz == 1) 1 else if (sz == 2) 2 else 3)
    per.foreach { codes =>
      codes.foreach(c => writeIntOfSize(o, c, sz))
      (codes.length until width).foreach(_ => writeIntOfSize(o, intEov(sz), sz))
    }
  }

  private def writeFmtValues(o: DataOutputStream, raw: Array[String]): Unit = {
    val split = raw.map(s => if (s == ".") Array(".") else s.split(",", -1))
    val width = math.max(1, split.map(_.length).max)
    val elems = split.flatten.filter(_ != ".")
    def intOk(s: String): Boolean =
      try { s.toInt.toString == s } catch { case _: NumberFormatException => false }
    def floatOk(s: String): Boolean =
      try { java.lang.Float.toString(s.toFloat) == s } catch { case _: NumberFormatException => false }
    // int32's reserved band (Int.MinValue..Int.MinValue+7) cannot be
    // guarded by widening — such values take the char path instead
    val int32Safe = !elems.exists(e => intOk(e) && e.toInt <= Int.MinValue + 7)
    if (elems.nonEmpty && elems.forall(intOk) && int32Safe) {
      val vs = elems.map(_.toInt)
      // stay clear of each width's reserved band (MISSING/EOV)
      val sz = if (vs.forall(v => v >= -120 && v <= 127)) 1
        else if (vs.forall(v => v >= -32760 && v <= 32767)) 2
        else 4
      writeVectorHeader(o, width, if (sz == 1) 1 else if (sz == 2) 2 else 3)
      split.foreach { es =>
        es.foreach(e => writeIntOfSize(o, if (e == ".") intMissing(sz) else e.toInt, sz))
        (es.length until width).foreach(_ => writeIntOfSize(o, intEov(sz), sz))
      }
    } else if (elems.nonEmpty && elems.forall(floatOk)) {
      writeVectorHeader(o, width, 5)
      split.foreach { es =>
        es.foreach { e =>
          val bits = if (e == ".") FloatMissingBits else java.lang.Float.floatToIntBits(e.toFloat)
          writeIntOfSize(o, bits, 4)
        }
        (es.length until width).foreach(_ => writeIntOfSize(o, FloatEovBits, 4))
      }
    } else {
      // char vector: the raw per-sample string (commas kept), 0-padded
      val bytes = raw.map(_.getBytes(UTF_8))
      val w = math.max(1, bytes.map(_.length).max)
      writeVectorHeader(o, w, 7)
      bytes.foreach { bs => o.write(bs); (bs.length until w).foreach(_ => o.write(0)) }
    }
  }

  /** Decode an indiv block back to (format keys, per-sample strings). */
  def decodeIndiv(data: Array[Byte], fmtKeys: Array[String], nFmt: Int,
                  nSample: Int): (Array[String], Array[String]) = {
    val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val fmt = new Array[String](nFmt)
    val cols = Array.fill(nSample)(new java.lang.StringBuilder(16))
    (0 until nFmt).foreach { j =>
      val key = resolve(fmtKeys, readTypedIntV(b), "FORMAT")
      fmt(j) = key
      val (t, width) = readTyped(b)
      (0 until nSample).foreach { s =>
        val str = t match {
          case 7 =>
            val bs = new Array[Byte](width)
            b.get(bs)
            var end = width
            while (end > 0 && bs(end - 1) == 0) end -= 1
            new String(bs, 0, end, UTF_8)
          case 5 =>
            val vs = (0 until width).map(_ => b.getInt)
              .filter(_ != FloatEovBits)
            vs.map(bits => if (bits == FloatMissingBits) "."
              else java.lang.Float.toString(java.lang.Float.intBitsToFloat(bits)))
              .mkString(",")
          case sz1 =>
            val sz = if (sz1 == 1) 1 else if (sz1 == 2) 2 else 4
            val vs = (0 until width).map(_ => readInt(b, sz1)).filter(_ != intEov(sz))
            if (key == "GT") gtString(vs)
            else vs.map(v => if (v == intMissing(sz)) "." else v.toString).mkString(",")
        }
        if (j > 0) cols(s).append(':')
        cols(s).append(str)
      }
    }
    (fmt, cols.map(_.toString))
  }

  private def gtString(codes: Seq[Int]): String = {
    val sb = new java.lang.StringBuilder(8)
    codes.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) sb.append(if ((c & 1) == 1) '|' else '/')
      val allele = (c >>> 1) - 1
      if (allele < 0) sb.append('.') else sb.append(allele)
    }
    sb.toString
  }

  /** Write variants as a BCF file (BGZF-wrapped, header text +
    * records).  With a non-empty `fmtKeys` dictionary, records carry
    * their genotype matrix as a typed indiv block; otherwise sites
    * only. */
  def write(path: String, headerText: String, variants: Seq[VcfVariant],
            contigs: Array[String], filters: Array[String],
            infoKeys: Array[String], fmtKeys: Array[String] = Array.empty): Unit = {
    val (fs, p) = Fs.get(path)
    val out = new Bgzf.BgzfOutputStream(fs.create(p, true))
    writeHeader(out, headerText)
    val contigIdx = contigs.zipWithIndex.toMap
    val filterIdx = filters.zipWithIndex.toMap
    val infoIdx = infoKeys.zipWithIndex.toMap
    val fmtIdx = fmtKeys.zipWithIndex.toMap
    variants.foreach(writeRecord(out, _, contigIdx, filterIdx, infoIdx, fmtIdx))
    out.close()
  }

  /** The BCF2 header: magic, l_text, the NUL-terminated text. */
  def writeHeader(out: OutputStream, headerText: String): Unit = {
    out.write(Magic)
    val ht = (headerText + "\u0000").getBytes(UTF_8)
    out.write(Array[Byte](ht.length.toByte, (ht.length >> 8).toByte,
      (ht.length >> 16).toByte, (ht.length >> 24).toByte))
    out.write(ht)
  }

  /** The header text at the head of `in` ([[writeHeader]]'s layout). */
  def readHeaderText(in: InputStream): String = {
    require(java.util.Arrays.equals(BgzfRecords.readFully(in, 5, "BCF magic"), Magic), "not BCF2")
    val ht = BgzfRecords.readFully(in, BgzfRecords.readIntLe(in), "BCF header")
    new String(ht, 0, ht.length - 1, UTF_8)
  }

  /** One record: l_shared, l_indiv, the shared block, then the
    * genotype matrix ([[encodeIndiv]]) when `fmtIdx` is non-empty and
    * the record has genotypes (else a sites-only record). */
  def writeRecord(out: OutputStream, v: VcfVariant, contigIdx: Map[String, Int],
                  filterIdx: Map[String, Int], infoIdx: Map[String, Int],
                  fmtIdx: Map[String, Int]): Unit = {
    val withGts = fmtIdx.nonEmpty && v.format.nonEmpty && v.genotypes.nonEmpty
    val shared = encode(v, contigIdx, filterIdx, infoIdx,
      nFmt = if (withGts) v.format.length else 0,
      nSample = if (withGts) v.genotypes.length else 0)
    val indiv = if (withGts) encodeIndiv(v, fmtIdx) else Array.emptyByteArray
    val ls = shared.length
    val li = indiv.length
    out.write(Array[Byte](ls.toByte, (ls >> 8).toByte, (ls >> 16).toByte, (ls >> 24).toByte,
      li.toByte, (li >> 8).toByte, (li >> 16).toByte, (li >> 24).toByte))
    out.write(shared)
    out.write(indiv)
  }

  /** The header text and every record of a BGZF BCF, decoded against
    * the given tables. */
  def read(path: String, contigs: Array[String], filters: Array[String],
           infoKeys: Array[String], fmtKeys: Array[String] = Array.empty):
      (String, Seq[VcfVariant]) = {
    val (fs, p) = Fs.get(path)
    val in = new Bgzf.BgzfInputStream(new java.io.BufferedInputStream(fs.open(p)))
    val headerText = try readHeaderText(in) catch { case e: Throwable => in.close(); throw e }
    val (it, _) = BgzfRecords.records[VcfVariant](in, () => false)(
      recordReader(contigs, filters, infoKeys, fmtKeys, Vcf.AllFields))
    (headerText, it.toVector)
  }

  /** The record decoder over a BCF body: one two-length-framed record
    * per call, decoded against the given tables, null at the stream's
    * clean end.  A mask without genotypes skips the indiv block at byte
    * level. */
  private[sources] def recordReader(contigs: Array[String], filters: Array[String],
                                    infoKeys: Array[String], fmtKeys: Array[String],
                                    fields: Int): InputStream => VcfVariant = {
    val wantG = (fields & Vcf.FGenotypes) != 0
    lazy val scratch = new Array[Byte](8192)
    in => {
      val lShared = BgzfRecords.readIntLe(in)
      if (lShared < 0) null
      else {
        val lIndiv = BgzfRecords.readIntLe(in)
        if (lIndiv < 0) throw new EOFException("truncated BCF record")
        val shared = BgzfRecords.readFully(in, lShared, "BCF record")
        val indiv =
          if (wantG) BgzfRecords.readFully(in, lIndiv, "BCF genotypes")
          else { skipFully(in, lIndiv, scratch); Array.emptyByteArray }
        decode(shared, contigs, filters, infoKeys, indiv, fmtKeys, fields)
      }
    }
  }

  /** Skip exactly `n` stream bytes through a bounded scratch buffer
    * (InputStream.skip may be a read loop anyway on decoded streams,
    * and can legally return 0). */
  private def skipFully(in: InputStream, n: Int, scratch: Array[Byte]): Unit = {
    var left = n
    while (left > 0) {
      val r = in.read(scratch, 0, math.min(left, scratch.length))
      if (r < 0) throw new EOFException(s"EOF with $left genotype bytes left to skip")
      left -= r
    }
  }

  /** Guess the first BCF record start within inflated `data` —
    * re-expression of BCFSplitGuesser.java: scan for a plausible
    * (l_shared, l_indiv) pair whose site fields validate, then
    * confirm by chaining across `confirm` records. */
  def guessRecordStart(data: Array[Byte], nContigs: Int, confirm: Int = 3): Int = {
    var p = 0
    while (p <= data.length - 32) {
      if (plausibleChain(data, p, nContigs, confirm)) return p
      p += 1
    }
    -1
  }

  private def plausibleChain(data: Array[Byte], off: Int, nContigs: Int,
                             confirm: Int): Boolean = {
    var p = off
    var seen = 0
    while (seen < confirm) {
      if (p > data.length - 8) return seen > 0 // ran off cleanly after ≥1 valid
      val b = ByteBuffer.wrap(data, p, math.min(32, data.length - p))
        .order(ByteOrder.LITTLE_ENDIAN)
      val lShared = b.getInt
      val lIndiv = b.getInt
      if (lShared < 24 || lShared > (1 << 24)) return false
      if (lIndiv < 0 || lIndiv > (1 << 26)) return false
      if (p + 8L + lShared + lIndiv > data.length) return seen > 0
      if (b.remaining() >= 24) {
        val chrom = b.getInt
        val pos = b.getInt
        val rlen = b.getInt
        b.getInt // qual bits — any float pattern is legal
        val nia = b.getInt
        val nfs = b.getInt
        val nAllele = nia >>> 16
        val nSample = nfs & 0xffffff
        val nFmt = nfs >>> 24
        if (chrom < 0 || chrom >= nContigs) return false
        if (pos < -1) return false
        if (rlen < 0 || rlen > (1 << 29)) return false
        if (nAllele < 1) return false
        // sample data lives in the indiv block and only there
        if (lIndiv == 0 && (nSample != 0 || nFmt != 0)) return false
        if (lIndiv > 0 && nSample == 0) return false
      }
      p += 8 + lShared + lIndiv
      seen += 1
    }
    true
  }
}

/** Distributed BCF read/write: the BCF side of the shared BGZF record
  * layer ([[BgzfRecords]]) — the shard writer, driver merge + shifted
  * [[SplittingIndex]], planner and ranged read BAM uses too.  What is
  * BCF's own: the [[Dicts]] (contigs/filters/info keys ride the header
  * text like the reference's header-driven decode), two-length framing
  * over the [[Bcf]] codec, the [[Vcf.spanEnd]] key, its record
  * guesser, the `.csi` lookup, the overlap filter
  * ([[Vcf.openOverlapping]]) and the plain (uncompressed) single
  * stream.
  */
object BcfIO {

  /** BCF2 header dictionaries.  The record wire format indexes ONE
    * shared string table covering FILTER/INFO/FORMAT ids (BCF2 spec
    * "dictionary of strings", PASS implicitly first) plus a separate
    * contig table — [[strings]] below.  The per-kind arrays here are
    * the user-facing declaration; `sharedOverride` carries a foreign
    * header's explicit table (IDX= attributes) verbatim. */
  final case class Dicts(contigs: Array[String], filters: Array[String],
                        infoKeys: Array[String],
                        fmtKeys: Array[String] = Array.empty,
                        sharedOverride: Option[Array[String]] = None) {
    /** The shared FILTER/INFO/FORMAT string table. */
    lazy val strings: Array[String] = sharedOverride.getOrElse {
      val out = scala.collection.mutable.LinkedHashSet[String]("PASS")
      filters.foreach(out += _)
      infoKeys.foreach(out += _)
      fmtKeys.foreach(out += _)
      out.toArray
    }
    lazy val stringIdx: Map[String, Int] =
      strings.zipWithIndex.filter(_._1 != null).toMap

    // Decode tables: what the record wire format's typed ints index.
    // Foreign/standard files use the shared table for all three kinds;
    // legacy graft files carried per-kind index spaces.
    def filterTable: Array[String] = sharedOverride.getOrElse(filters)
    def infoTable: Array[String] = sharedOverride.getOrElse(infoKeys)
    def fmtTable: Array[String] = sharedOverride.getOrElse(fmtKeys)

    /** Standard VCF meta-lines with explicit IDX= dictionary indexes —
      * the htslib-compatible header form (generic Number/Type: graft
      * does not model them; values are typed on the wire). */
    def headerText: String = {
      val sb = new StringBuilder("##fileformat=VCFv4.3\n")
      // lines in per-kind DECLARATION order (round-trip fidelity);
      // IDX= carries each id's shared-table slot, as htslib emits
      sb.append(s"""##FILTER=<ID=PASS,Description="All filters passed",IDX=${stringIdx("PASS")}>""").append('\n')
      filters.filter(_ != "PASS").foreach { id =>
        sb.append(s"""##FILTER=<ID=$id,Description="$id",IDX=${stringIdx(id)}>""").append('\n')
      }
      infoKeys.foreach { id =>
        sb.append(s"""##INFO=<ID=$id,Number=.,Type=String,Description="$id",IDX=${stringIdx(id)}>""").append('\n')
      }
      fmtKeys.foreach { id =>
        val num = if (id == "GT") "1" else "."
        sb.append(s"""##FORMAT=<ID=$id,Number=$num,Type=String,Description="$id",IDX=${stringIdx(id)}>""").append('\n')
      }
      contigs.zipWithIndex.foreach { case (c, i) =>
        // null slots appear when a foreign header had sparse IDX= values
        if (c != null) sb.append(s"##contig=<ID=$c,IDX=$i>").append('\n')
      }
      sb.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
      if (fmtKeys.nonEmpty) sb.append("\tFORMAT")
      sb.toString
    }
  }

  object Dicts {
    private val metaRe = """##(FILTER|INFO|FORMAT|contig)=<(.*)>""".r
    private val idRe = """(?:^|,)ID=([^,>]+)""".r
    private val idxRe = """(?:^|,)IDX=(\d+)""".r

    def fromHeader(text: String): Dicts = {
      // legacy graft dictionary lines (files written before r7 carried
      // per-kind index spaces; their records index these arrays)
      def grab(k: String): Option[Array[String]] =
        text.linesIterator.find(_.startsWith(s"##graft_$k="))
          .map(_.substring(s"##graft_$k=".length).split(",").filter(_.nonEmpty))
      if (text.linesIterator.exists(_.startsWith("##graft_")))
        return Dicts(grab("contigs").getOrElse(Array.empty),
          grab("filters").getOrElse(Array.empty),
          grab("info").getOrElse(Array.empty),
          grab("format").getOrElse(Array.empty))

      // standard meta-lines: shared string table per the BCF2 spec —
      // explicit IDX= wins; otherwise appearance order with PASS first
      val contigs = scala.collection.mutable.ArrayBuffer[(String, Option[Int])]()
      // one id can belong to several kinds (DP is both INFO and FORMAT)
      // but occupies ONE shared-table slot — track per-kind appearance
      // order separately from the shared table's id order
      val entries = scala.collection.mutable.LinkedHashMap[String, Option[Int]]()
      val byKind = scala.collection.mutable.Map[String, scala.collection.mutable.LinkedHashSet[String]]()
      text.linesIterator.foreach {
        case metaRe(kind, attrs) =>
          val id = idRe.findFirstMatchIn(attrs).map(_.group(1))
          val idx = idxRe.findFirstMatchIn(attrs).map(_.group(1).toInt)
          id.foreach { i =>
            if (kind == "contig") contigs += ((i, idx))
            else {
              entries(i) = idx.orElse(entries.getOrElse(i, None))
              byKind.getOrElseUpdate(kind,
                scala.collection.mutable.LinkedHashSet[String]()) += i
            }
          }
        case _ =>
      }
      def place(items: Seq[(String, Option[Int])], passFirst: Boolean): Array[String] = {
        val n = math.max(items.size + (if (passFirst && !items.exists(_._1 == "PASS")) 1 else 0),
          items.flatMap(_._2).foldLeft(0)(math.max) + 1)
        val table = new Array[String](n)
        if (passFirst && !items.exists(_._1 == "PASS")) table(0) = "PASS"
        items.foreach { case (id, Some(i)) => if (table(i) == null) table(i) = id; case _ => }
        var free = 0
        items.foreach {
          case (id, None) if !table.contains(id) =>
            while (free < n && table(free) != null) free += 1
            if (free < n) table(free) = id
          case _ =>
        }
        // keep null entries at unused slots: htslib IDX= values may be
        // sparse (e.g. after bcftools subsetting), and the record wire
        // indices are the IDX values themselves — compacting would
        // shift every id after a gap.  Lookups of a null slot fail
        // loudly in Bcf.resolve.
        table
      }
      val shared = place(entries.toSeq, passFirst = true)
      def kind(k: String): Array[String] =
        byKind.get(k).map(_.toArray).getOrElse(Array.empty)
      Dicts(place(contigs.toSeq, passFirst = false),
        kind("FILTER"), kind("INFO"), kind("FORMAT"),
        sharedOverride = Some(shared))
    }
  }

  /** BCF's side of the shared write path: the BCF2 header, one
    * two-length-framed [[Bcf]] record, the (contig, pos0, [[Vcf.spanEnd]])
    * key. */
  private[graft] final case class RecordCodec(dicts: Dicts)
      extends BgzfRecords.Codec[VcfVariant] {
    private val contigIdx = dicts.contigs.zipWithIndex.toMap
    // record ints index the SHARED string table (BCF2 spec), matching
    // the IDX= attributes headerText emits
    private val fmtIdx =
      if (dicts.fmtKeys.isEmpty) Map.empty[String, Int] else dicts.stringIdx
    def ext: String = "bcf"
    def header: Array[Byte] = {
      val buf = new ByteArrayOutputStream()
      Bcf.writeHeader(buf, dicts.headerText)
      buf.toByteArray
    }
    def write(v: VcfVariant, out: OutputStream): Unit =
      Bcf.writeRecord(out, v, contigIdx, dicts.stringIdx, dicts.stringIdx, fmtIdx)
    def refId(v: VcfVariant): Int = contigIdx.getOrElse(v.chrom, -1)
    def pos0(v: VcfVariant): Int = v.pos.toInt - 1
    def end1(v: VcfVariant): Int = Vcf.spanEnd(v)
  }

  /** Write `ds` as one BCF + sidecar splitting index: the
    * `format("bcf")` batch write with `dicts` in memory. */
  def write(ds: org.apache.spark.sql.Dataset[VcfVariant], dicts: Dicts,
            file: String, granularity: Int = 1000): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.BcfTable(v2.GraftDataSinks.at(file), Some(dicts)),
      Map("granularity" -> granularity.toString))

  /** [[Bcf.recordReader]] over the tables `dicts` decodes with. */
  private def recordReader(dicts: Dicts, fields: Int): InputStream => VcfVariant =
    Bcf.recordReader(dicts.contigs, dicts.filterTable, dicts.infoTable, dicts.fmtTable, fields)

  /** `file` opened past its header: the dictionaries and the record
    * stream — a [[Bgzf.BgzfInputStream]] (callers read its virtual
    * offset), or the plain stream when the file is the uncompressed
    * BCF2 htslib can emit (raw "BCF" magic, no BGZF: the piping form,
    * `bcftools view -Ou`). */
  private[sources] def openBody(file: String): (Dicts, InputStream) = {
    val (fs, path) = Fs.get(file)
    val raw = new java.io.BufferedInputStream(fs.open(path))
    try {
      raw.mark(3)
      val plain = java.util.Arrays.equals(raw.readNBytes(3), Bcf.Magic.take(3))
      raw.reset()
      val in = if (plain) raw else new Bgzf.BgzfInputStream(raw)
      (Dicts.fromHeader(Bcf.readHeaderText(in)), in)
    } catch { case e: Throwable => raw.close(); throw e }
  }

  /** Every record of a plain BCF (the single-stream piping form), plus
    * a closer for consumers that may abandon the iterator early. */
  private[sources] def openPlain(file: String, fields: Int = Vcf.AllFields):
      (Iterator[VcfVariant], () => Unit) = {
    val (dicts, in) = openBody(file)
    BgzfRecords.records[VcfVariant](in, () => false)(recordReader(dicts, fields))
  }

  def readDicts(file: String): Dicts = {
    val (dicts, in) = openBody(file)
    in.close()
    dicts
  }

  /** Records in virtual-offset range [startVo, endVo)
    * ([[BgzfRecords.openRange]]), plus a closer for consumers that may
    * abandon the iterator early. */
  private[sources] def openRange(file: String, startVo: Long, endVo: Long,
                        dicts: Dicts, fields: Int = Vcf.AllFields):
      (Iterator[VcfVariant], () => Unit) =
    BgzfRecords.openRange[VcfVariant](file, startVo, endVo)(recordReader(dicts, fields))

  def read(spark: org.apache.spark.sql.SparkSession, file: String,
           splitSize: Long = 64L * 1024 * 1024,
           columns: Seq[String] = Nil):
      org.apache.spark.sql.Dataset[VcfVariant] =
    readIntervals(spark, file, Nil, splitSize, columns)

  /** Bounded-traversal BCF read (the CSI face of S11, mirroring the
    * BAM/tabix paths): decode only the ranges [[plan]] keeps and
    * overlap-filter records exactly (REF length stretched to INFO END=,
    * the span our encode writes as rlen and htslib indexes with).
    * Empty `intervals` = full read. */
  def readIntervals(spark: org.apache.spark.sql.SparkSession, file: String,
                    intervals: Seq[(String, Int, Int)],
                    splitSize: Long = 64L * 1024 * 1024,
                    columns: Seq[String] = Nil):
      org.apache.spark.sql.Dataset[VcfVariant] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, plan(file, intervals, exact = true, splitSize),
      Vcf.maskFor(columns))
  }

  /** The BCF planner of every read face.  A plain (uncompressed) BCF is
    * one single-stream partition: no index or split point can exist
    * over it.  A BGZF BCF gets one partition per range of
    * [[BgzfRecords.plan]], its binning index being the `.csi` (ours via
    * [[Csi.buildBcf]], or htslib-written).  With `exact` the intervals
    * also filter records by overlap. */
  private[sources] def plan(file: String, intervals: Seq[(String, Int, Int)],
                            exact: Boolean, splitSize: Long)
      : Seq[v2.GraftPartition[VcfVariant]] = {
    val iv = if (exact) intervals.toArray else Array.empty[(String, Int, Int)]
    val (dicts, in) = openBody(file)
    val headerEndVo = in match { case b: Bgzf.BgzfInputStream => Some(b.virtualPos); case _ => None }
    in.close()
    headerEndVo match {
      case None => Seq(v2.BcfPlainPartition(file, iv))
      case Some(vo) =>
        BgzfRecords.plan(file, vo, dicts.contigs.toSeq, intervals, splitSize,
          includeUnmapped = false, sidxPrunable = true)(
          (fs, p) => Csi.read(fs, Csi.indexPath(p)),
          Bcf.guessRecordStart(_, dicts.contigs.length))
          .map { case (s, e) => v2.BcfPartition(file, s, e, iv, dicts) }
    }
  }
}

/** CRAM container structure (S12).  Decode of compressed record data
  * is NOT implemented — the reference delegates it wholesale to
  * htsjdk (CRAMInputFormat.java); what the I/O layer itself owns is
  * the container framing used for split enumeration, which is
  * implemented here: file definition + ITF8 varints + container
  * headers, enough to walk container boundaries for splits.
  */
object Cram {

  /** `landmark` = first slice's byte offset within the compressed
    * container body (0 when the container has no landmarks) — what a
    * `.crai` line's slice-offset field records.  `crcOk` is false when
    * a 3.x header's bytes do not match its stored CRC32; the walk
    * reports it and leaves the decision to its caller. */
  final case class Container(offset: Long, length: Int, refSeqId: Int,
                             startPos: Int, span: Int, nRecords: Int,
                             landmark: Int = 0, crcOk: Boolean = true)

  /** ITF8: CRAM's variable-length int (public CRAM spec §2.3).
    * Every byte is EOF-checked: a truncation mid-varint must surface
    * as EOFException rather than OR-ing -1 into the value as data.
    */
  def readItf8(in: InputStream): Int = {
    val b0 = rd(in)
    if ((b0 & 0x80) == 0) b0
    else if ((b0 & 0x40) == 0) ((b0 & 0x3f) << 8) | rd(in)
    else if ((b0 & 0x20) == 0) ((b0 & 0x1f) << 16) | (rd(in) << 8) | rd(in)
    else if ((b0 & 0x10) == 0) ((b0 & 0x0f) << 24) | (rd(in) << 16) | (rd(in) << 8) | rd(in)
    else ((b0 & 0x0f) << 28) | (rd(in) << 20) | (rd(in) << 12) | (rd(in) << 4) | (rd(in) & 0x0f)
  }

  private def rd(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException("truncated varint")
    b
  }

  /** LTF8: CRAM's variable-length long (public CRAM spec §2.3).  The
    * count of leading 1-bits in the first byte gives the number of
    * additional payload bytes (0..8); unlike ITF8 there is no 4-bit
    * tail trick — all continuation bytes carry 8 value bits.  Used by
    * the container header's record-counter and bases fields, which
    * exceed ITF8's range on real WGS files (counter > 2^28 reads).
    */
  def readLtf8(in: InputStream): Long = {
    val b0 = rd(in)
    var extra = 0
    while (extra < 8 && ((b0 << extra) & 0x80) != 0) extra += 1
    var v: Long = if (extra >= 8) 0L else (b0 & (0xff >>> (extra + 1))).toLong
    var i = 0
    while (i < extra) { v = (v << 8) | rd(in); i += 1 }
    v
  }

  def writeLtf8(o: java.io.OutputStream, v: Long): Unit = {
    // Smallest width whose value-bit capacity holds v: (7 - extra)
    // bits in byte 0 plus 8 per extra byte = 7 + 7*extra total.
    var extra = 0
    while (extra < 8 && (v >>> (7 + 7 * extra)) != 0) extra += 1
    if (extra == 0) o.write(v.toInt & 0x7f)
    else if (extra >= 8) {
      o.write(0xff)
      var i = 7
      while (i >= 0) { o.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
    } else {
      val prefix = (0xff << (8 - extra)) & 0xff // `extra` leading ones, then a zero
      o.write(prefix | ((v >>> (8 * extra)) & (0xff >>> (extra + 1))).toInt)
      var i = extra - 1
      while (i >= 0) { o.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
    }
  }

  def writeItf8(o: java.io.OutputStream, v: Int): Unit = {
    if (v >>> 7 == 0) o.write(v)
    else if (v >>> 14 == 0) { o.write(0x80 | (v >> 8)); o.write(v & 0xff) }
    else if (v >>> 21 == 0) { o.write(0xc0 | (v >> 16)); o.write((v >> 8) & 0xff); o.write(v & 0xff) }
    else if (v >>> 28 == 0) {
      o.write(0xe0 | (v >> 24)); o.write((v >> 16) & 0xff); o.write((v >> 8) & 0xff); o.write(v & 0xff)
    } else {
      o.write(0xf0 | (v >>> 28)); o.write((v >> 20) & 0xff); o.write((v >> 12) & 0xff)
      o.write((v >> 4) & 0xff); o.write(v & 0x0f)
    }
  }

  /** Walk container headers to enumerate split points (every container
    * start is a valid split; ref: CRAMInputFormat.getSplits).  Only
    * HEADER bytes are read — container bodies are seek()ed past, so
    * driver-side enumeration of a 1 TB CRAM touches ~tens of bytes per
    * container, not the terabyte. */
  def enumerateContainers(path: String): Seq[Container] = {
    val (fs, p) = Fs.get(path)
    val len = fs.getFileStatus(p).getLen
    val raw = fs.open(p)
    try {
      val magic = new Array[Byte](6)
      raw.readFully(0L, magic)
      require(new String(magic, 0, 4, UTF_8) == "CRAM", "not a CRAM file")
      // container header CRC32 exists only in 3.x framing
      val crcLen = if ((magic(4) & 0xff) >= 3) 4 else 0
      var off = 26L // file definition: magic + version + 20-byte id
      val out = scala.collection.mutable.ArrayBuffer[Container]()
      var continue = off < len
      while (continue) {
        raw.seek(off)
        // small fresh buffer per container: read-ahead past the header
        // is harmless because the next iteration seeks absolutely
        val counting = new CountingInputStream(new java.io.BufferedInputStream(raw, 512))
        try {
          val clen = readInt32Le(counting)
          val refId = readItf8(counting)
          val start = readItf8(counting)
          val span = readItf8(counting)
          val nRec = readItf8(counting)
          // Remaining header per CRAM 3.0 §8: record counter (LTF8),
          // bases (LTF8), nBlocks (ITF8), landmarks (array<ITF8>),
          // crc32; then `clen` bytes of compressed container body.
          readLtf8(counting); readLtf8(counting); readItf8(counting)
          val nLandmarks = readItf8(counting)
          var firstLandmark = 0
          (0 until nLandmarks).foreach { i =>
            val lm = readItf8(counting)
            if (i == 0) firstLandmark = lm
          }
          val crcOk = crcLen == 0 || {
            val computed = counting.crc.getValue.toInt
            readInt32Le(counting) == computed
          }
          out += Container(off, clen, refId, start, span, nRec, firstLandmark, crcOk)
          val headerLen = counting.count
          if (off + headerLen + clen > len)
            throw new java.io.IOException(
              s"truncated CRAM container at offset $off (body runs past EOF)")
          off += headerLen + clen // seek past the body on next loop
          continue = off < len
        } catch {
          case e: EOFException =>
            // EOF before the first byte of a container = clean end of
            // file; EOF mid-header = truncated input, surface it.
            if (counting.count > 0)
              throw new java.io.IOException(
                s"truncated CRAM container at offset $off (${counting.count} bytes into header)", e)
            continue = false
        }
      }
      out.toSeq
    } finally raw.close()
  }

  private def readInt32Le(in: InputStream): Int = {
    val a = in.read(); val b = in.read(); val c = in.read(); val d = in.read()
    if ((a | b | c | d) < 0) throw new EOFException()
    a | (b << 8) | (c << 16) | (d << 24)
  }

  /** Counts, and CRC32s, the bytes read through it. */
  private final class CountingInputStream(in: InputStream) extends InputStream {
    var count = 0L
    val crc = new java.util.zip.CRC32()
    override def read(): Int = {
      val v = in.read(); if (v >= 0) { count += 1; crc.update(v) }; v
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = in.read(b, off, len); if (r > 0) { count += r; crc.update(b, off, r) }; r
    }
  }
}
