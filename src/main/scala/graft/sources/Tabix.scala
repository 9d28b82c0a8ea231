package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tabix (`.tbi`) layout for coordinate-sorted BGZF text, from the
  * public tabix spec (htslib): BGZF-wrapped, magic `TBI\1`, n_ref, the
  * column configuration (format, sequence/begin/end columns, comment
  * char, skip count), a NUL-terminated contig-name table (tabix maps
  * names to ids itself, unlike BAI which leans on the BAM header), then
  * per contig the bins and 16 kbp linear index of [[BinIndex]] at
  * min_shift=14, depth=5, and a trailing n_no_coor.  The builder writes
  * htslib's metadata pseudo-bin per contig.  The reference filters VCF
  * splits through exactly this index (VCFInputFormat.java:388-460
  * `filterByInterval`; shards use the `.tbi` extension,
  * util/VCFFileMerger.java:54-60), which the bounded-traversal VCF read
  * re-expresses.
  */
object Tabix {

  /** `format` value for VCF in the spec's column configuration. */
  val FormatVcf = 2

  private val Magic = "TBI\u0001"

  final case class Index(format: Int, colSeq: Int, colBeg: Int, colEnd: Int,
                         meta: Int, skip: Int, names: Seq[String],
                         binning: BinIndex.Index, nNoCoor: Long = 0L) {
    def refs: Array[BinIndex.RefIndex] = binning.refs
    lazy val refIdOf: Map[String, Int] = names.zipWithIndex.toMap
  }

  def indexPath(file: Path): Path = new Path(file.getParent, file.getName + ".tbi")

  def write(fs: FileSystem, path: Path, idx: Index): Unit = {
    require(idx.names.length == idx.refs.length,
      s"name table (${idx.names.length}) and ref indexes (${idx.refs.length}) disagree")
    BinIndex.writeFile(fs, path, Magic, bgzf = true) { out =>
      out.int32(idx.refs.length)
      Seq(idx.format, idx.colSeq, idx.colBeg, idx.colEnd, idx.meta, idx.skip).foreach(out.int32)
      val nameBytes = idx.names.flatMap(n => n.getBytes("UTF-8").toSeq :+ 0.toByte).toArray
      out.int32(nameBytes.length)
      out.bytes(nameBytes)
      out.refs(idx.binning, csi = false)
      out.int64(idx.nNoCoor)
    }
  }

  def read(fs: FileSystem, path: Path): Option[Index] =
    BinIndex.readFile(fs, path, Magic, bgzf = true) { in =>
      val nRef = in.count("n_ref")
      val Seq(format, colSeq, colBeg, colEnd, meta, skip) =
        Seq("format", "col_seq", "col_beg", "col_end", "meta", "skip").map(in.int32)
      val names = new String(in.bytes(in.count("l_nm"), "names"), "UTF-8")
        .split("\u0000", -1).toSeq.filter(_.nonEmpty)
      val refs = in.refs(nRef, 5, csi = false)
      // optional trailing n_no_coor (htslib appends it; older writers don't)
      val nNoCoor = if (in.atEnd) 0L else in.int64("n_no_coor")
      Index(format, colSeq, colBeg, colEnd, meta, skip, names,
        BinIndex.Index(14, 5, refs), nNoCoor)
    }

  /** Build a `.tbi` for a coordinate-sorted `.vcf.bgz` in one
    * sequential driver pass. */
  def buildVcf(file: String): Index = {
    val (names, binning) = BinIndex.buildVcf(file)
    Index(FormatVcf, 1, 2, 0, '#'.toInt, 0, names, binning)
  }

  def buildAndWriteVcf(file: String): Unit = {
    val (fs, p) = Fs.get(file)
    write(fs, indexPath(p), buildVcf(file))
  }
}
