package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{SamHeader, SamRecord, SamRef}

/** SAM text source/sink (S1, S2, S15).
  *
  * Read: the ranged-text scan every line format shares (the `sam`
  * DataSource V2 table and [[read]] plan the same partitions), one
  * [[parseLine]] per record; header reading per
  * util/SAMHeaderReader.java.
  *
  * Write: the `format("sam")` sink — partition shards (header-less)
  * + driver-side merge that prepends one header — the
  * SAMFileMerger.java:32 shape.
  */
object Sam {

  /** Header text read driver-side (headers are KBs; records are TBs). */
  def readHeader(path: String): SamHeader = {
    val (fs, p) = Fs.get(path)
    val _ = (fs, p)
    val in = new BufferedReader(new InputStreamReader(
      RangedText.openDecoded(path), UTF_8))
    try {
      val sb = new StringBuilder
      var line = in.readLine()
      while (line != null && line.startsWith("@")) {
        if (sb.nonEmpty) sb.append('\n')
        sb.append(line)
        line = in.readLine()
      }
      parseHeader(sb.toString)
    } finally in.close()
  }

  def parseHeader(text: String): SamHeader = {
    val refs = text.split("\n").filter(_.startsWith("@SQ")).flatMap { l =>
      val fields = l.split("\t")
      for {
        sn <- fields.find(_.startsWith("SN:")).map(_.drop(3))
        ln <- fields.find(_.startsWith("LN:")).map(_.drop(3).toInt)
      } yield SamRef(sn, ln)
    }
    SamHeader(text, refs)
  }

  /** Records as a typed Dataset over the splittable ranged-text scan
    * (plain text, BGZF-compressed .sam.bgz — S14 — or plain gzip as one
    * whole-file range, the BGZFEnhancedGzipCodec fallback). */
  def read(spark: SparkSession, path: String): Dataset[SamRecord] = {
    import spark.implicits._
    v2.GraftDataSources.typed(spark, v2.TextRangePartition.plan(path,
      RangedText.sparkSplitSize(spark, path), v2.TextRangePartition.SamText), 0)
  }

  /** One SAM record line (field semantics per SAMRecordReader.java).
    * limit -1 like SQL split: a trailing empty field (e.g. empty qual)
    * must survive, not throw ArrayIndexOutOfBounds. */
  def parseLine(l: String): SamRecord = {
    val p = l.split("\t", -1)
    SamRecord(p(0), p(1).toInt, p(2), p(3).toInt, p(4).toInt, p(5), p(6),
      p(7).toInt, p(8).toInt, p(9), p(10),
      if (p.length > 11) p.slice(11, p.length) else Array.empty[String])
  }

  /** Write records as-is (partition order preserved, no sort; the
    * reference's KeyIgnoringSAMRecordWriter shape): the
    * `format("sam")` batch write with `header` in memory — parallel
    * text shards + single-header merge. */
  def write(ds: Dataset[SamRecord], header: SamHeader, out: String): Unit =
    v2.GraftDataSinks.overwrite(ds, new v2.SamTable(v2.GraftDataSinks.at(out),
      Some(v2.GraftDataSinks.TextHeader(v2.GraftDataSinks.samLines(header), bgzf = false))))

  /** One-call sorted write: BAM's coordinate sort
    * ([[BamIO.coordinateSorted]]), then [[write]] with a header
    * rewritten to SO:coordinate (ref: util/GetSortedBAMHeader.java). */
  def writeSorted(ds: Dataset[SamRecord], header: SamHeader, out: String): Unit =
    write(BamIO.coordinateSorted(ds, header), header.asCoordinateSorted, out)
}
