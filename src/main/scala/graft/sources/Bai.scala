package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** BAI layout (SAM spec §5, public): raw little-endian, magic `BAI\1`,
  * n_ref, then per contig the bins with their chunks and the 16 kbp
  * linear index — [[BinIndex]] at min_shift=14, depth=5.
  *
  * The interop path for FOREIGN coordinate-sorted BAMs that ship with a
  * `.bai` instead of the graft sidecar index (the role
  * LinearBAMIndex.java plays in the reference); the indexer builds a
  * spec-conformant `.bai` from any graft-readable BAM in one driver
  * pass (the SplittingBAMIndexer.java shape).
  */
object Bai {

  /** BAI's metadata pseudo-bin (htsjdk and samtools write record counts
    * there, not chunk ranges). */
  val PseudoBin: Int = BinIndex.pseudoBin(5)

  private val Magic = "BAI\u0001"

  def indexPath(bam: Path): Path = new Path(bam.getParent, bam.getName + ".bai")

  def write(fs: FileSystem, path: Path, idx: BinIndex.Index): Unit =
    BinIndex.writeFile(fs, path, Magic, bgzf = false) { out =>
      out.int32(idx.refs.length)
      out.refs(idx, csi = false)
    }

  def read(fs: FileSystem, path: Path): Option[BinIndex.Index] =
    BinIndex.readFile(fs, path, Magic, bgzf = false) { in =>
      BinIndex.Index(14, 5, in.refs(in.count("n_ref"), 5, csi = false))
    }

  def build(file: String): BinIndex.Index = BinIndex.buildBam(file, 14, 5)

  /** Build and write the sidecar .bai. */
  def buildAndWrite(file: String): Unit = {
    val (fs, path) = Fs.get(file)
    write(fs, indexPath(path), build(file))
  }
}
