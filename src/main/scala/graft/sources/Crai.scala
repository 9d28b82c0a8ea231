package graft.sources

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}

/** CRAM index (`.crai`) from the public htslib spec: gzip-compressed
  * text, one line per slice —
  * `seqId  alnStart  alnSpan  containerOffset  sliceOffset  sliceSize`
  * — where sliceOffset is the slice header block's byte offset within
  * the compressed container body (the slice's landmark) and sliceSize
  * the byte length of the slice's blocks.  A multi-reference slice gets
  * one line per reference it holds, each with that reference's own
  * span, so no line carries seqId -2.  The graft profile writes one
  * slice per container, the spec profiles two, so a container can own
  * several lines; files indexed before per-slice lines (one line per
  * container, seqId -2 for a multi-reference container) still read.
  *
  * The shard writers emit the lines as they write each slice
  * ([[SliceSpans]]) and the driver commit shifts them by the shard's
  * file offset, so indexing never re-reads the written file.
  *
  * Bounded-traversal role for CRAM: the reference delegates CRAM
  * record access wholesale to htsjdk (CRAMInputFormat.java), which
  * consults exactly this index; here it lets interval reads prune
  * whole containers before any task launches, and spares the driver
  * the per-container header-seek walk that indexless planning costs.
  */
object Crai {

  final case class Entry(seqId: Int, start: Int, span: Int,
                         containerOffset: Long, sliceOffset: Long, sliceSize: Long)

  def indexPath(cram: Path): Path = new Path(cram.getParent, cram.getName + ".crai")

  def write(fs: FileSystem, path: Path, entries: Seq[Entry]): Unit = {
    val w = new OutputStreamWriter(new GZIPOutputStream(fs.create(path, true)), UTF_8)
    try entries.foreach { e =>
      w.write(s"${e.seqId}\t${e.start}\t${e.span}\t${e.containerOffset}\t" +
        s"${e.sliceOffset}\t${e.sliceSize}\n")
    } finally w.close()
  }

  def read(fs: FileSystem, path: Path): Option[Seq[Entry]] = {
    if (!fs.exists(path)) return None
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(fs.open(path)), UTF_8))
    try {
      val out = scala.collection.mutable.ArrayBuffer[Entry]()
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val f = line.split("\t")
          require(f.length >= 6, s"malformed .crai line: $line")
          out += Entry(f(0).toInt, f(1).toInt, f(2).toInt, f(3).toLong,
            f(4).toLong, f(5).toLong)
        }
        line = in.readLine()
      }
      Some(out.toSeq)
    } finally in.close()
  }

  /** The containers `entries` point into, in file order, once each:
    * (container offset, body bytes up to the end of its last listed
    * slice).  A container owns one line per slice and per reference of
    * a multi-reference slice, so offsets repeat and need not ascend. */
  def containers(entries: Seq[Entry]): Seq[(Long, Int)] =
    entries.groupBy(_.containerOffset).iterator.map { case (off, es) =>
      (off, es.map(e => e.sliceOffset + e.sliceSize).max.toInt)
    }.toSeq.sortBy(_._1)

  /** Per-reference alignment spans of one slice, fed record by record
    * by a shard writer: a record counts toward its reference's span
    * when it has a position (unplaced records give a line with no
    * span).  [[entries]] are the slice's `.crai` lines, in the order
    * its references first appear. */
  private[sources] final class SliceSpans {
    private val refs = scala.collection.mutable.ArrayBuffer[Array[Int]]() // (refId, min, max)
    private var last: Array[Int] = null

    def add(refId: Int, pos: Int, end: Int): Unit = {
      if (last == null || last(0) != refId) {
        last = refs.find(_(0) == refId).getOrElse {
          val s = Array(refId, Int.MaxValue, 0)
          refs += s
          s
        }
      }
      if (refId >= 0 && pos > 0) {
        if (pos < last(1)) last(1) = pos
        val e = math.max(end, pos)
        if (e > last(2)) last(2) = e
      }
    }

    def entries(containerOffset: Long, sliceOffset: Long, sliceSize: Long): Seq[Entry] =
      refs.toSeq.map { case Array(refId, lo, hi) =>
        val placed = refId >= 0 && lo != Int.MaxValue
        Entry(refId, if (placed) lo else 0, if (placed) hi - lo + 1 else 0,
          containerOffset, sliceOffset, sliceSize)
      }

    def clear(): Unit = { refs.clear(); last = null }
  }
}
