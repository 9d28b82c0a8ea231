package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef, VcfVariant}
import graft.sources.v2.{BamTable, BcfTable, BgzfShardDone, CramTable, GraftDataSinks, ShardDone, VcfTable}

/** The one commit protocol of every graft sink: an overwrite never
  * leaves the previous write's index beside the new file, only a
  * committed task attempt reaches the output, and a failed driver
  * merge leaves the target and its sidecars as they were. */
class SinkCommitSpec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:1000000\n@SQ\tSN:chr2\tLN:800000",
    Array(SamRef("chr1", 1000000), SamRef("chr2", 800000)))

  /** `n` coordinate-sorted reads per contig, `step` apart from `start`. */
  private def reads(n: Int, start: Int, step: Int,
                    contigs: Seq[String] = Seq("chr1", "chr2")): Seq[SamRecord] =
    contigs.flatMap { c =>
      (0 until n).map { i =>
        SamRecord(s"$c.$start.$i", if (i % 5 == 0) 16 else 0, c, start + i * step,
          30, "50M", "*", 0, 0, ("ACGTTGCA" * 7).take(50), ("IIII@@@@" * 7).take(50),
          Array(s"NM:i:${i % 3}"))
      }
    }

  private val dicts = BcfIO.Dicts(Array("c1", "c2"), Array("PASS"), Array("DP"))
  private val vcfHeader = Vcf.VcfHeader(Seq("##fileformat=VCFv4.2",
    "##contig=<ID=c1,length=1000000>", "##contig=<ID=c2,length=1000000>",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))

  /** `n` sorted sites per contig, `step` apart from `start`. */
  private def sites(n: Int, start: Int, step: Int): Seq[VcfVariant] =
    Seq("c1", "c2").flatMap { c =>
      (0 until n).map { i =>
        VcfVariant(c, (start + i * step).toLong, s"$c.$start.$i", "A", Array("C"),
          Some(30.0), "PASS", Array("DP"), Array(s"${i % 70}"), Array.empty, Array.empty)
      }
    }

  private def bytes(f: String): Array[Byte] = Files.readAllBytes(Paths.get(f))

  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.sorted

  // ------------------------------------------ overwrite vs stale indexes

  test("BCF overwrite: a previous write's .csi is not trusted") {
    import spark.implicits._
    val f = s"${tmpDir("sinkcsi")}/t.bcf"
    BcfIO.write(spark.createDataset(sites(3000, 100, 20)).coalesce(1), dicts, f)
    Csi.buildAndWriteBcf(f)
    val b = sites(3000, 400000, 30)
    BcfIO.write(spark.createDataset(b).coalesce(1), dicts, f)
    val iv = Seq(("c1", 430000, 460000), ("c2", 400000, 401000))
    val want = b.filter(v => iv.exists { case (c, s, e) =>
      v.chrom == c && v.pos >= s && v.pos <= e }).map(_.id).sorted
    assert(want.nonEmpty)
    assert(BcfIO.readIntervals(spark, f, iv).collect().map(_.id).sorted.toSeq === want)
  }

  test("CRAM overwrite through format(\"cram\"): a previous write's .crai is not trusted") {
    import spark.implicits._
    val dir = tmpDir("sinkcrai")
    val hdr = s"$dir/h.sam"
    Files.write(Paths.get(hdr), (header.text + "\n").getBytes("UTF-8"))
    val f = s"$dir/t.cram"
    // one contig each, so every container header (and .crai entry)
    // carries a single-reference span the interval can be pruned against
    spark.createDataset(reads(3000, 100, 20, Seq("chr1"))).coalesce(1).toDF()
      .write.format("cram").option("header", hdr).mode("overwrite").save(f)
    // the first write drops its own .crai: the sidecar the overwrite must not trust
    assert(Files.exists(Paths.get(s"$f.crai")))
    val b = reads(3000, 400000, 30, Seq("chr1"))
    spark.createDataset(b).coalesce(1).toDF()
      .write.format("cram").option("header", hdr).mode("overwrite").save(f)
    val iv = Seq(("chr1", 430000, 460000))
    val want = b.filter(r => iv.exists { case (c, s, e) =>
      r.rname == c && r.pos <= e && r.end >= s }).map(_.qname).sorted
    assert(want.nonEmpty)
    assert(CramIO.readIntervals(spark, f, iv).collect().map(_.qname).sorted.toSeq === want)
  }

  test("VCF.bgz overwrite: a previous write's .tbi is not trusted") {
    import spark.implicits._
    val f = s"${tmpDir("sinktbi")}/t.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(sites(3000, 100, 20)).coalesce(1), vcfHeader, f,
      tabix = true)
    val b = sites(3000, 400000, 30)
    Vcf.writeBgzf(spark.createDataset(b).coalesce(1), vcfHeader, f)
    val iv = Seq(("c1", 430000, 460000), ("c2", 400000, 401000))
    val want = b.filter(v => iv.exists { case (c, s, e) =>
      v.chrom == c && v.pos >= s && v.pos <= e }).map(_.id).sorted
    assert(want.nonEmpty)
    assert(Vcf.readIntervals(spark, f, iv).collect().map(_.id).sorted.toSeq === want)
  }

  // ------------------------------- task attempts and the driver commit

  private def writeInfo(s: StructType, opts: Map[String, String]): LogicalWriteInfo =
    new LogicalWriteInfo {
      private val id = java.util.UUID.randomUUID.toString
      override def options(): CaseInsensitiveStringMap = new CaseInsensitiveStringMap(opts.asJava)
      override def queryId(): String = id
      override def schema(): StructType = s
    }

  /** The BatchWrite Spark's V2 overwrite plan builds over `table`. */
  private def batchOf(table: SupportsWrite, opts: Map[String, String] = Map.empty): BatchWrite =
    table.newWriteBuilder(writeInfo(table.schema(), opts))
      .asInstanceOf[SupportsTruncate].truncate().build().toBatch

  /** Run one writer per partition and commit it, as Spark's tasks do;
    * partition `retried` first gets an attempt that writes half its
    * rows and is abandoned (a lost executor: no commit, no abort). */
  private def runTasks(batch: BatchWrite, parts: Seq[Seq[InternalRow]],
                       retried: Option[Int] = None): Seq[WriterCommitMessage] = {
    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = parts.length
    })
    parts.zipWithIndex.map { case (rows, pid) =>
      if (retried.contains(pid)) {
        val lost = factory.createWriter(pid, 100L + pid)
        rows.take(rows.length / 2).foreach(lost.write)
      }
      val w = factory.createWriter(pid, 200L + pid)
      rows.foreach(w.write)
      try w.commit() finally w.close()
    }
  }

  /** Rows of `recs` split into 3 partitions the way `parallelize(recs, 3)` splits them. */
  private def threeParts[T](recs: Seq[T], enc: ExpressionEncoder[T]): Seq[Seq[InternalRow]] = {
    val ser = enc.createSerializer()
    (0 until 3).map { i =>
      recs.slice(i * recs.length / 3, (i + 1) * recs.length / 3).map(r => ser(r).copy())
    }
  }

  test("an abandoned task attempt does not change the output (BAM, BCF, CRAM)") {
    import spark.implicits._
    val rs = reads(1500, 100, 97)
    val vs = sites(1500, 100, 61)
    case class Fmt(name: String, sidecar: String, table: String => SupportsWrite,
                   opts: Map[String, String], parts: Seq[Seq[InternalRow]],
                   typed: String => Unit)
    val fmts = Seq(
      Fmt("bam", ".sidx", f => new BamTable(GraftDataSinks.at(f), Some(header)),
        Map("granularity" -> "100"), threeParts(rs, ExpressionEncoder[SamRecord]()),
        f => BamIO.write(spark.sparkContext.parallelize(rs, 3).toDS(), header, f, 100)),
      Fmt("bcf", ".sidx", f => new BcfTable(GraftDataSinks.at(f), Some(dicts)),
        Map("granularity" -> "100"), threeParts(vs, ExpressionEncoder[VcfVariant]()),
        f => BcfIO.write(spark.sparkContext.parallelize(vs, 3).toDS(), dicts, f, 100)),
      Fmt("cram", ".crai", f => new CramTable(GraftDataSinks.at(f), Some(header)),
        Map.empty, threeParts(rs, ExpressionEncoder[SamRecord]()),
        f => CramIO.write(spark.sparkContext.parallelize(rs, 3).toDS(), header, f)))
    fmts.foreach { fmt =>
      val files = Seq("clean", "retried", "typed").map { kind =>
        val dir = tmpDir(s"sinkattempt-${fmt.name}-$kind")
        val f = s"$dir/t.${fmt.name}"
        kind match {
          case "typed" => fmt.typed(f)
          case _ =>
            val batch = batchOf(fmt.table(f), fmt.opts)
            val retried = if (kind == "retried") Some(1) else None
            batch.commit(runTasks(batch, fmt.parts, retried).toArray)
        }
        assert(listing(dir) === Seq(s".t.${fmt.name}.crc", s".t.${fmt.name}${fmt.sidecar}.crc",
          s"t.${fmt.name}", s"t.${fmt.name}${fmt.sidecar}").sorted, s"${fmt.name} $kind")
        f
      }
      Seq("", fmt.sidecar).foreach { ext =>
        val Seq(clean, retried, typed) = files.map(f => bytes(f + ext))
        assert(java.util.Arrays.equals(retried, clean), s"${fmt.name}$ext: retried vs clean")
        assert(java.util.Arrays.equals(typed, clean), s"${fmt.name}$ext: typed vs clean")
      }
    }
  }

  test("a failed driver merge leaves the target and its sidecars alone (BAM, VCF.bgz)") {
    import spark.implicits._
    val bamDir = tmpDir("sinkfailbam")
    val bam = s"$bamDir/t.bam"
    BamIO.writeSorted(spark.createDataset(reads(500, 100, 50)).repartition(3), header, bam,
      granularity = 64)
    Bai.buildAndWrite(bam)
    val vcfDir = tmpDir("sinkfailvcf")
    val vcf = s"$vcfDir/t.vcf.bgz"
    Vcf.writeBgzf(spark.createDataset(sites(500, 100, 50)).coalesce(1), vcfHeader, vcf,
      tabix = true)

    def snapshot(dir: String): Seq[(String, Seq[Byte])] =
      listing(dir).map(n => n -> bytes(s"$dir/$n").toSeq)

    Seq(
      (bamDir, batchOf(new BamTable(GraftDataSinks.at(bam), Some(header))),
        threeParts(reads(300, 7000, 11), ExpressionEncoder[SamRecord]()),
        // partition 2's message names a shard whose part file is missing
        BgzfShardDone(BgzfRecords.Shard(2, 4096L, Array.empty, sorted = true, 0L, 0L, 50)): WriterCommitMessage),
      (vcfDir, batchOf(new VcfTable(GraftDataSinks.at(vcf),
        Some(GraftDataSinks.TextHeader(vcfHeader.lines, bgzf = true)))),
        threeParts(sites(300, 7000, 11), ExpressionEncoder[VcfVariant]()),
        ShardDone(2): WriterCommitMessage)
    ).foreach { case (dir, batch, parts, missing) =>
      val before = snapshot(dir)
      assert(before.map(_._1).exists(_.endsWith(".sidx")) || before.map(_._1).exists(_.endsWith(".tbi")))
      val messages = runTasks(batch, parts.take(2)) :+ missing
      intercept[java.io.FileNotFoundException](batch.commit(messages.toArray))
      val after = snapshot(dir)
      assert(after.map(_._1) === before.map(_._1), dir)
      after.zip(before).foreach { case ((n, a), (_, b)) => assert(a === b, s"$dir/$n") }
    }
  }
}
