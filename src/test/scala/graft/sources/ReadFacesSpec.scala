package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The typed readers and the `format(...)` sources are two faces over
  * one planner and one partition type per format: on every input, at
  * every split size, and for one interval per indexed format, both
  * return the same records. */
class ReadFacesSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getClassLoader.getResource(name).getFile

  /** 4096 bytes is below one BGZF block, so BGZF splits land mid-block. */
  private val splitSizes = Seq(4096L, 64L * 1024, 64L * 1024 * 1024)

  private def rowStrings(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def sqlRead(format: String, path: String, options: (String, String)*): DataFrame =
    options.foldLeft(spark.read.format(format))((r, o) => r.option(o._1, o._2)).load(path)

  private lazy val dir = tmpDir("faces")

  private def write(name: String, text: String, gzip: Boolean): String = {
    val f = s"$dir/$name"
    val out = if (gzip) new GZIPOutputStream(new FileOutputStream(f)) else new FileOutputStream(f)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    f
  }

  private lazy val fastqText = (0 until 3000).map { i =>
    s"@EAS139:136:FC706VJ:2:2104:$i:${i * 7} 1:${if (i % 5 == 0) "Y" else "N"}:18:ATCACG\n" +
      s"${"ACGTTGCA" * (1 + i % 4)}\n+\n${"IIII@@@@" * (1 + i % 4)}\n"
  }.mkString

  private lazy val qseqText = (0 until 3000).map { i =>
    s"M\t1\t${1 + i % 8}\t1101\t$i\t${i * 3}\t0\t${1 + i % 2}\tACGT.A\thhhhhh\t${i % 2}\n"
  }.mkString

  private lazy val cram: String = {
    val f = s"$dir/test.bam.cram"
    CramIO.write(BamIO.read(spark, res("test.bam")), BamIO.readHeader(res("test.bam")), f)
    f
  }

  /** One shard, 200 `.sidx` granules (20k sites, granularity 100). */
  private lazy val oneShardBcf: String = {
    import spark.implicits._
    val f = s"$dir/one-shard.bcf"
    val sites = (0 until 20000).map { i =>
      graft.model.VcfVariant(if (i < 10000) "c1" else "c2", 1L + (i % 10000) * 10, s"v$i",
        "A", Array("C"), Some(30.0), "PASS", Array("DP"), Array(s"${i % 50}"),
        Array.empty, Array.empty)
    }
    BcfIO.write(spark.createDataset(sites).coalesce(1),
      BcfIO.Dicts(Array("c1", "c2"), Array("PASS"), Array("DP")), f, granularity = 100)
    f
  }

  /** (label, format, path, typed read at a split size). */
  private def cases: Seq[(String, String, () => String, Long => DataFrame)] = {
    import spark.implicits._
    def fixture(name: String) = () => res(name)
    Seq(
      ("test.bam", "bam", fixture("test.bam"),
        (s: Long) => BamIO.read(spark, res("test.bam"), splitSize = s).toDF()),
      ("test.uncompressed.bcf", "bcf", fixture("test.uncompressed.bcf"),
        (s: Long) => BcfIO.read(spark, res("test.uncompressed.bcf"), splitSize = s).toDF()),
      ("test.bgzf.bcf", "bcf", fixture("test.bgzf.bcf"),
        (s: Long) => BcfIO.read(spark, res("test.bgzf.bcf"), splitSize = s).toDF()),
      ("graft-written one-shard BCF", "bcf", () => oneShardBcf,
        (s: Long) => BcfIO.read(spark, oneShardBcf, splitSize = s).toDF())) ++
      Seq("test.vcf", "test.vcf.bgz", "test.vcf.gz", "HiSeq.10000.vcf.bgz").map { n =>
        (n, "vcf", fixture(n), (s: Long) => Vcf.read(spark, res(n), splitSize = s).toDF())
      } ++
      Seq("mini-chr1-chr2.fasta", "auxf.fa").map { n =>
        (n, "fasta", fixture(n), (s: Long) => Fasta.read(spark, res(n), splitSize = s).toDF())
      } ++
      Seq("test.sam", "test_headerless.sam").map { n =>
        (n, "sam", fixture(n), (_: Long) => Sam.read(spark, res(n)).toDF())
      } ++ Seq(
      ("graft-written CRAM", "cram", () => cram,
        (s: Long) => CramIO.read(spark, cram, splitSize = s).toDF())) ++
      Seq(false, true).flatMap { gz =>
        val ext = if (gz) ".gz" else ""
        lazy val fq = write(s"t.fastq$ext", fastqText, gz)
        lazy val qs = write(s"t.qseq$ext", qseqText, gz)
        Seq(
          (s"FASTQ$ext", "fastq", () => fq,
            (s: Long) => Fastq.read(spark, fq, splitSize = s).toDF()),
          (s"QSEQ$ext", "qseq", () => qs, (_: Long) => Qseq.read(spark, qs).toDF()))
      }
  }

  private def scanPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.length

  cases.foreach { case (label, format, path, typed) =>
    test(s"$label: typed reader == format(\"$format\") at every split size") {
      splitSizes.foreach { s =>
        val want = rowStrings(typed(s))
        assert(want.nonEmpty, s"$label split=$s")
        assert(rowStrings(sqlRead(format, path(), "splitsize" -> s.toString)) === want,
          s"$label split=$s")
      }
      // a BGZF record file below the split size is one partition on
      // both faces, whatever its `.sidx` granules
      if (format == "bam" || format == "bcf") {
        val whole = 1L << 30
        val sql = sqlRead(format, path(), "splitsize" -> whole.toString)
        assert(typed(whole).rdd.getNumPartitions === 1, label)
        assert(scanPartitions(sql) === 1, label)
        assert(rowStrings(sql) === rowStrings(typed(splitSizes.head)), label)
      }
    }
  }

  /** One interval per indexed format, taken around the first record the
    * typed reader returns: (format, path, typed full read, typed
    * interval read). */
  private def intervalCases: Seq[(String, String, () => String, Long => DataFrame,
                                  ((String, Int, Int), Long) => DataFrame)] = {
    import spark.implicits._
    Seq(
      ("BAM", "bam", () => res("test.bam"),
        (s: Long) => BamIO.read(spark, res("test.bam"), splitSize = s).toDF(),
        (iv: (String, Int, Int), s: Long) =>
          BamIO.read(spark, res("test.bam"), Seq(iv), splitSize = s).toDF()),
      ("CRAM", "cram", () => cram,
        (s: Long) => CramIO.read(spark, cram, splitSize = s).toDF(),
        (iv: (String, Int, Int), s: Long) =>
          CramIO.readIntervals(spark, cram, Seq(iv), splitSize = s).toDF()),
      ("tabix VCF", "vcf", () => res("HiSeq.10000.vcf.bgz"),
        (s: Long) => Vcf.read(spark, res("HiSeq.10000.vcf.bgz"), splitSize = s).toDF(),
        (iv: (String, Int, Int), s: Long) =>
          Vcf.readIntervals(spark, res("HiSeq.10000.vcf.bgz"), Seq(iv), splitSize = s).toDF())) ++
      Seq("test.bgzf.bcf", "test.uncompressed.bcf").map { n =>
        (n, "bcf", () => res(n),
          (s: Long) => BcfIO.read(spark, res(n), splitSize = s).toDF(),
          (iv: (String, Int, Int), s: Long) =>
            BcfIO.readIntervals(spark, res(n), Seq(iv), splitSize = s).toDF())
      }
  }

  intervalCases.foreach { case (label, format, path, full, bounded) =>
    test(s"$label: typed interval read == format(\"$format\").option(\"intervals\")") {
      val first = full(64L * 1024 * 1024).filter("pos > 0").orderBy("pos").head()
      val contig = first.getString(first.fieldIndex(if (format == "bam" || format == "cram")
        "rname" else "chrom"))
      val pos = first.getAs[Number]("pos").intValue()
      val iv = (contig, pos, pos + 200000)
      splitSizes.foreach { s =>
        val want = rowStrings(bounded(iv, s))
        assert(want.nonEmpty, s"$label $iv split=$s")
        assert(rowStrings(sqlRead(format, path(), "splitsize" -> s.toString,
          "intervals" -> s"${iv._1}:${iv._2}-${iv._3}")) === want, s"$label $iv split=$s")
      }
    }
  }

  test("inputs are what they claim: gzip is plain gzip, BGZF fixtures are BGZF") {
    cases.foreach { case (label, _, path, _) =>
      val comp = RangedText.compression(path())
      if (label.endsWith(".gz")) assert(comp === RangedText.GzipText, label)
      if (label.endsWith(".bgz")) assert(comp === RangedText.BgzfText, label)
    }
  }
}
