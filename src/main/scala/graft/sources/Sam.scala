package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{SamHeader, SamRecord, SamRef}

/** SAM text source/sink (S1, S2, S15).
  *
  * Read: Spark's own splittable text scan (predicate pushdown + whole
  * stage codegen preserved) + a native SQL-expression parser — no
  * UDFs, no per-record JVM lambdas (field semantics per
  * SAMRecordReader.java; header reading per util/SAMHeaderReader.java).
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

  /** Records as a typed Dataset; the parse is pure Catalyst
    * expressions over the splittable text scan.  BGZF-compressed SAM
    * (.sam.bgz — S14) rides the graft ranged-BGZF line reader with the
    * same expression parse. */
  def read(spark: SparkSession, path: String): Dataset[SamRecord] = {
    import spark.implicits._
    val lines: org.apache.spark.sql.DataFrame =
      RangedText.compression(path) match {
        case RangedText.PlainText => spark.read.textFile(path).toDF("value")
        // BGZF splits at block bounds; plain gzip decodes as one
        // whole-file range (the BGZFEnhancedGzipCodec fallback)
        case _ => RangedText.lines(spark, path).map(_.text).toDF("value")
      }
    parseLines(lines).as[SamRecord]
  }

  /** Parse SAM record lines out of a text DataFrame (header filtered). */
  def parseLines(lines: DataFrame): DataFrame =
    lines.filter(!col("value").startsWith("@") && length(col("value")) > 0)
      .select(expr("split(value, '\t')").as("p"))
      .select(
        expr("element_at(p, 1)").as("qname"),
        expr("CAST(element_at(p, 2) AS INT)").as("flag"),
        expr("element_at(p, 3)").as("rname"),
        expr("CAST(element_at(p, 4) AS INT)").as("pos"),
        expr("CAST(element_at(p, 5) AS INT)").as("mapq"),
        expr("element_at(p, 6)").as("cigar"),
        expr("element_at(p, 7)").as("rnext"),
        expr("CAST(element_at(p, 8) AS INT)").as("pnext"),
        expr("CAST(element_at(p, 9) AS INT)").as("tlen"),
        expr("element_at(p, 10)").as("seq"),
        expr("element_at(p, 11)").as("qual"),
        expr("CASE WHEN size(p) > 11 THEN slice(p, 12, size(p) - 11) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END").as("tags"))

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
