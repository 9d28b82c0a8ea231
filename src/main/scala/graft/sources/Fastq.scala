package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.SequencedFragment

/** FASTQ + QSEQ sources/sinks over the shared [[SequencedFragment]]
  * model (S6, S7; ref: FastqInputFormat.java, QseqInputFormat.java,
  * SequencedFragment.java).
  *
  * FASTQ is 4-line framed, so a byte-range reader must SYNC: scan to a
  * line starting with '@' whose +2 line starts with '+' and whose
  * sequence/quality lengths agree (the reference's probe in
  * FastqInputFormat.java), then apply the RangedText ownership rule to
  * the record's first line.  QSEQ is line-framed and rides RangedText
  * directly.
  */
object Fastq {

  /** Casava 1.8 name: instrument:run:flowcell:lane:tile:x:y[ read:filter:0:index]. */
  def parseName(name0: String, comment: String): SequencedFragment = {
    val name = name0.stripPrefix("@")
    val main = name.split(" ")(0)
    val extra = if (name.contains(" ")) name.substring(name.indexOf(' ') + 1)
      else if (comment.nonEmpty) comment else ""
    val f = main.split(":")
    val (inst, run, lane, tile, x, y) =
      if (f.length >= 7) (f(0), toIntOr(f(1), 0), toIntOr(f(3), 0), toIntOr(f(4), 0),
        toIntOr(f(5), 0), toIntOr(f(6), 0))
      else if (f.length >= 5) (f(0), 0, toIntOr(f(1), 0), toIntOr(f(2), 0),
        toIntOr(f(3), 0), toIntOr(f(4), 0))
      else (main, 0, 0, 0, 0, 0)
    val e = extra.split(":")
    val (read, filtered) =
      if (e.length >= 2) (toIntOr(e(0), 1), e(1) == "N") // filter flag Y = failed
      else {
        // old-style /1 /2 suffix
        val i = main.indexOf('/')
        (if (i > 0) toIntOr(main.substring(i + 1), 1) else 1, true)
      }
    SequencedFragment(main, "", "", inst, run, lane, tile, x, y, read, filtered)
  }

  private def toIntOr(s: String, d: Int): Int =
    try s.toInt catch { case _: NumberFormatException => d }

  /** Sync + frame records from a line iterator; keep records whose
    * first line position is owned by (start, endBound]. */
  private[sources] def frame(lines: Iterator[RangedText.Line], start: Long,
                             endBound: Long): Iterator[SequencedFragment] = {
    val buf = lines.buffered
    val window = new scala.collection.mutable.Queue[RangedText.Line]()
    def fill(n: Int): Boolean = {
      while (window.size < n && buf.hasNext) window += buf.next()
      window.size >= n
    }
    // sync: find a plausible record head
    var synced = start == 0
    while (!synced && fill(4)) {
      val w = window.toIndexedSeq
      if (w(0).text.startsWith("@") && w(2).text.startsWith("+") &&
        w(1).text.length == w(3).text.length) synced = true
      else window.dequeue()
    }
    new Iterator[SequencedFragment] {
      private var done = !synced
      override def hasNext: Boolean = {
        if (done) return false
        if (!fill(4)) { done = true; return false }
        if (window.head.offset > endBound) { done = true; return false }
        true
      }
      override def next(): SequencedFragment = {
        if (!hasNext) throw new NoSuchElementException
        val h = window.dequeue(); val s = window.dequeue()
        val plus = window.dequeue(); val q = window.dequeue()
        val _ = plus
        parseName(h.text, "").copy(sequence = s.text, quality = q.text)
      }
    }
  }

  /** Distributed FASTQ read.  `sangerToIllumina` shifts the quality
    * string by +31 (phred+33 → phred+64, ref: FormatConstants.java);
    * `filterFailedQc` drops reads whose casava filter flag failed
    * (ref property hbam.fastq-input.filter-failed-qc). */
  def read(spark: SparkSession, path: String,
           filterFailedQc: Boolean = false,
           splitSize: Long = 64L * 1024 * 1024): Dataset[SequencedFragment] = {
    import spark.implicits._
    val ds = v2.GraftDataSources.typed(spark,
      v2.TextRangePartition.plan(path, splitSize, v2.TextRangePartition.FastqText), 0)
    if (filterFailedQc) ds.filter(_.filterPassed) else ds
  }

  /** Quality encoding conversion (ref: FormatConstants.java 33 vs 64). */
  def convertQuality(q: String, fromSanger: Boolean): String =
    q.map(c => (if (fromSanger) c + 31 else c - 31).toChar)

  def formatRecord(f: SequencedFragment): String = {
    val name = if (f.read > 0 && !f.name.contains("/") && !f.name.contains(" "))
      s"${f.name}/${f.read}" else f.name
    s"@$name\n${f.sequence}\n+\n${f.quality}"
  }

  /** Write one uncompressed .fastq: the `format("fastq")` batch write. */
  def write(ds: Dataset[SequencedFragment], out: String): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.FastqTable(v2.GraftDataSinks.at(out),
      Some(v2.GraftDataSinks.TextHeader(Nil, bgzf = false))))
}

/** QSEQ: one tab-separated record per line
  * (machine run lane tile x y index read seq qual filter;
  * ref: QseqInputFormat.java — '.' in sequence means N, quality is
  * phred+64, filter 1 = PASSED). */
object Qseq {

  def parseLine(l: String): SequencedFragment = {
    val f = l.split("\t")
    SequencedFragment(
      name = s"${f(0)}_${f(1)}:${f(2)}:${f(3)}:${f(4)}:${f(5)}#${f(6)}/${f(7)}",
      sequence = f(8).replace('.', 'N'),
      quality = Fastq.convertQuality(f(9), fromSanger = false), // illumina → sanger
      instrument = f(0), runNumber = f(1).toInt, lane = f(2).toInt,
      tile = f(3).toInt, xpos = f(4).toInt, ypos = f(5).toInt,
      read = f(7).toInt, filterPassed = f(10) == "1")
  }

  def formatLine(s: SequencedFragment): String = {
    val nameIdx = {
      val h = s.name.indexOf('#')
      val sl = if (h >= 0) s.name.indexOf('/', h + 1) else -1
      if (h >= 0 && sl > h) s.name.substring(h + 1, sl)
      else if (h >= 0) s.name.substring(h + 1)
      else "0"
    }
    Seq(s.instrument, s.runNumber, s.lane, s.tile, s.xpos, s.ypos, nameIdx,
      s.read, s.sequence.replace('N', '.'),
      Fastq.convertQuality(s.quality, fromSanger = true),
      if (s.filterPassed) "1" else "0").mkString("\t")
  }

  /** Distributed QSEQ read over the splittable ranged-text scan (plain,
    * BGZF or gzip). */
  def read(spark: SparkSession, path: String,
           filterFailedQc: Boolean = false): Dataset[SequencedFragment] = {
    import spark.implicits._
    val ds = v2.GraftDataSources.typed(spark, v2.TextRangePartition.plan(path,
      RangedText.sparkSplitSize(spark, path), v2.TextRangePartition.QseqText), 0)
    if (filterFailedQc) ds.filter(_.filterPassed) else ds
  }

  /** Write one uncompressed .qseq: the `format("qseq")` batch write. */
  def write(ds: Dataset[SequencedFragment], out: String): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.QseqTable(v2.GraftDataSinks.at(out),
      Some(v2.GraftDataSinks.TextHeader(Nil, bgzf = false))))
}
