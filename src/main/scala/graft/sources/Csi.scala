package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** CSI layout (CSIv1, htslib): BGZF-wrapped, magic `CSI\1`,
  * min_shift, depth, l_aux (+ aux bytes, skipped), n_ref, then per
  * contig the bins, each with its `loffset` lower bound and chunks —
  * [[BinIndex]] at any min_shift and depth.  BAI's fixed 5-level /
  * 14-bit-leaf binning caps contigs at 512 Mbp; CSI's deeper trees index
  * long contigs (plant genomes, concatenated pan-genomes).  With
  * min_shift=14, depth=5 the binning is bit-identical to BAI.
  */
object Csi {

  private val Magic = "CSI\u0001"

  def indexPath(file: Path): Path = new Path(file.getParent, file.getName + ".csi")

  def write(fs: FileSystem, path: Path, idx: BinIndex.Index): Unit =
    BinIndex.writeFile(fs, path, Magic, bgzf = true) { out =>
      out.int32(idx.minShift)
      out.int32(idx.depth)
      out.int32(0) // l_aux
      out.int32(idx.refs.length)
      out.refs(idx, csi = true)
    }

  def read(fs: FileSystem, path: Path): Option[BinIndex.Index] =
    BinIndex.readFile(fs, path, Magic, bgzf = true) { in =>
      val minShift = in.int32("min_shift")
      val depth = in.int32("depth")
      // positions are Int: deeper or wider trees hold nothing
      if (minShift < 0 || minShift > 30) in.fail(s"min_shift = $minShift")
      if (depth < 0 || depth > 9) in.fail(s"depth = $depth")
      in.bytes(in.count("l_aux"), "aux")
      BinIndex.Index(minShift, depth, in.refs(in.count("n_ref"), depth, csi = true))
    }

  /** Build a CSI from a coordinate-sorted BAM in one sequential driver
    * pass.  `depth` <= 0 derives the depth from the header's longest
    * contig. */
  def build(file: String, minShift: Int = 14, depth: Int = 0): BinIndex.Index =
    BinIndex.buildBam(file, minShift, depth)

  def buildAndWrite(file: String, minShift: Int = 14, depth: Int = 0): Unit = {
    val (fs, path) = Fs.get(file)
    write(fs, indexPath(path), build(file, minShift, depth))
  }

  /** Build a CSI from a coordinate-sorted BCF in one driver pass — the
    * role of htslib's `bcftools index` for the foreign-index
    * bounded-traversal path. */
  def buildBcf(file: String, minShift: Int = 14, depth: Int = 5): BinIndex.Index =
    BinIndex.buildBcf(file, minShift, depth)

  def buildAndWriteBcf(file: String, minShift: Int = 14, depth: Int = 5): Unit = {
    val (fs, path) = Fs.get(file)
    write(fs, indexPath(path), buildBcf(file, minShift, depth))
  }
}
