package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{SamHeader, SamRecord, SamRef, SequencedFragment}

/** DataSource V2 surface: spark.read.format("bam"/"fastq"/"vcf") must
  * return exactly what the typed readers return, push interval
  * predicates into the BAM scan (fewer partitions than a full scan on
  * an indexed file), and prune columns to the required schema.
  */
class DataSourceV2Spec extends SparkSpec {

  private val header = SamHeader(
    "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:80000",
    Array(SamRef("chr1", 100000), SamRef("chr2", 80000)))

  private def mkRecord(i: Int): SamRecord = {
    val contig = if (i % 3 == 2) "chr2" else "chr1"
    val pos = 1 + (i * 37) % 90000
    SamRecord(s"read$i", (i * 13) % 2048, contig, pos, i % 60,
      s"${10 + i % 20}M", "*", 0, 0,
      ("ACGT" * 10).take(10 + i % 20), ("IIII@@@@" * 5).take(10 + i % 20),
      Array(s"NM:i:${i % 9}"))
  }

  private val sorted = (0 until 2000).map(mkRecord)
    .sortBy(r => (if (r.rname == "chr1") 0 else 1, r.pos, r.qname))

  private def writeBam(name: String): String = {
    import spark.implicits._
    val file = s"${tmpDir(name)}/t.bam"
    // writeSorted: interval pruning is only sound on a genuinely
    // coordinate-sorted file (repartition would scramble rows while
    // the header still claimed SO:coordinate)
    BamIO.writeSorted(spark.createDataset(sorted).repartition(4), header, file,
      granularity = 50)
    file
  }

  test("format(\"bam\") returns exactly the typed reader's rows") {
    val file = writeBam("dsv2bam")
    val v2 = spark.read.format("bam").load(file)
    assert(v2.schema.fieldNames.toSeq ===
      Seq("qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext",
        "tlen", "seq", "qual", "tags"))
    val got = v2.select("qname", "rname", "pos").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    val want = sorted.map(r => (r.qname, r.rname, r.pos)).sorted
    assert(got.toSeq === want)
  }

  test("interval predicates prune partitions through the index") {
    val file = writeBam("dsv2prune")
    val all = spark.read.format("bam").option("splitsize", "4096").load(file)
    val full = all.select("qname").rdd.getNumPartitions
    val filtered = spark.read.format("bam").option("splitsize", "4096").load(file)
      .filter(col("rname") === "chr1" && col("pos") >= 10 && col("pos") <= 600)
    val pruned = filtered.select("qname").rdd.getNumPartitions
    assert(full > 2, s"fixture too small to split: $full")
    assert(pruned < full, s"no chunk pruning: $pruned vs $full")
    // and the answer is exact (residual predicates re-applied)
    val got = filtered.select("qname").collect().map(_.getString(0)).sorted
    val want = sorted.filter(r => r.rname == "chr1" && r.pos >= 10 && r.pos <= 600)
      .map(_.qname).sorted.toArray
    assert(got === want)
    // pushdown is visible in the plan
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"), plan)
  }

  test("option(\"intervals\") bounds the scan like the reference property") {
    val file = writeBam("dsv2iv")
    val df = spark.read.format("bam").option("intervals", "chr2:1-40000").load(file)
    val got = df.select("qname").collect().map(_.getString(0)).sorted
    val want = sorted.filter(r => r.rname == "chr2" && r.pos <= 40000 && r.end >= 1)
      .map(_.qname).sorted.toArray
    assert(got === want)
  }

  test("pushed filters keep zero-reference-length records the residual keeps") {
    import spark.implicits._
    // a fully-soft-clipped read has end = pos + 0 - 1 < pos: record-
    // level OVERLAP filtering would drop it even though the residual
    // predicate (pos >= lo) keeps it — pushdown must prune chunks only
    val recs = (sorted.take(200) :+
      SamRecord("softclip", 0, "chr1", 500, 30, "30S", "*", 0, 0,
        "ACGT" * 8, "I" * 32, Array.empty[String]))
      .sortBy(r => (if (r.rname == "chr1") 0 else 1, r.pos, r.qname))
    val file = s"${tmpDir("dsv2soft")}/t.bam"
    BamIO.writeSorted(spark.createDataset(recs).repartition(2), header, file,
      granularity = 20)
    val got = spark.read.format("bam").option("splitsize", "2048").load(file)
      .filter(col("rname") === "chr1" && col("pos") >= 400 && col("pos") <= 600)
      .select("qname").collect().map(_.getString(0)).sorted
    val want = recs.filter(r => r.rname == "chr1" && r.pos >= 400 && r.pos <= 600)
      .map(_.qname).sorted.toArray
    assert(got === want)
    assert(got.contains("softclip"))
  }

  test("column pruning reaches the v2 scan") {
    val file = writeBam("dsv2cols")
    val df = spark.read.format("bam").load(file).select("rname", "pos")
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("rname") && !s.contains("qual")),
      scans.mkString("\n"))
    assert(df.distinct().count() > 0)
  }

  test("format(\"sam\") matches the typed SAM reader and multi-path load unions files") {
    import spark.implicits._
    val dir = tmpDir("dsv2sam")
    val (f1, f2) = (s"$dir/a.sam", s"$dir/b.sam")
    val (h1, h2) = (sorted.take(300), sorted.slice(300, 500))
    Sam.write(spark.createDataset(h1), header, f1)
    Sam.write(spark.createDataset(h2), header, f2)
    val typed = (Sam.read(spark, f1).collect() ++ Sam.read(spark, f2).collect())
      .map(_.qname).sorted
    val v2 = spark.read.format("sam").load(f1, f2)
      .select("qname").collect().map(_.getString(0)).sorted
    assert(v2 === typed)
    assert(v2.length === 500)
  }

  test("format(\"cram\") matches the typed CRAM reader") {
    import spark.implicits._
    val file = s"${tmpDir("dsv2cram")}/t.cram"
    CramIO.write(spark.createDataset(sorted.take(600)).repartition(3), header, file)
    val typed = CramIO.read(spark, file).collect().map(_.qname).sorted
    val v2 = spark.read.format("cram").option("splitsize", "4096").load(file)
      .select("qname").collect().map(_.getString(0)).sorted
    assert(v2 === typed)
    assert(v2.length === 600)
  }

  test("format(\"cram\") write round-trips through both readers") {
    import spark.implicits._
    val dir = tmpDir("dsv2cramw")
    // header source for the v2 writer (the reference's output-header
    // property): any existing cram with the right dictionary
    val headerSrc = s"$dir/hdr.cram"
    CramIO.write(spark.createDataset(sorted.take(1)), header, headerSrc)
    val target = s"$dir/out.cram"
    spark.createDataset(sorted.take(500)).repartition(3).toDF()
      .write.format("cram").option("header", headerSrc)
      .mode("overwrite").save(target)
    val typed = CramIO.read(spark, target).collect()
      .map(r => (r.qname, r.rname, r.pos)).sorted
    val v2 = spark.read.format("cram").load(target)
      .select("qname", "rname", "pos").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    val want = sorted.take(500).map(r => (r.qname, r.rname, r.pos)).sorted
    assert(typed.toSeq === want)
    assert(v2.toSeq === want)
  }

  test("format(\"fastq\") matches the typed FASTQ reader") {
    import spark.implicits._
    val dir = tmpDir("dsv2fq")
    val file = s"$dir/r.fastq"
    val frags = (0 until 300).map { i =>
      SequencedFragment(s"INST:4:FC:1:2:${i}:${i * 2} 1:N:0:ACGT", "ACGTACGT",
        "IIIIIIII", "INST", 4, 1, 2, i, i * 2, 1, true)
    }
    Fastq.write(spark.createDataset(frags), file)
    val typed = Fastq.read(spark, file).collect().map(_.name).sorted
    val v2 = spark.read.format("fastq").load(file)
      .select("name").collect().map(_.getString(0)).sorted
    assert(v2 === typed)
  }

  test("format(\"bam\") write round-trips (header option, sidecar index, reordered columns)") {
    val src = writeBam("dsv2wsrc")
    val out = s"${tmpDir("dsv2wout")}/o.bam"
    val df = spark.read.format("bam").load(src)
    // reversed column order: the sink must reorder by name, not position
    df.select(df.columns.reverse.map(col): _*)
      .write.format("bam").option("header", src).mode("overwrite").save(out)
    assert(new java.io.File(out + ".sidx").exists())
    val back = spark.read.format("bam").load(out)
      .select("qname", "pos").collect().map(r => (r.getString(0), r.getInt(1))).sorted
    val want = sorted.map(r => (r.qname, r.pos)).sorted
    assert(back.toSeq === want)
  }

  test("format(\"sam\") and format(\"fastq\") writes round-trip") {
    import spark.implicits._
    val src = writeBam("dsv2wsam")
    val out = s"${tmpDir("dsv2wsamo")}/o.sam"
    spark.read.format("bam").load(src)
      .write.format("sam").option("header", src).mode("overwrite").save(out)
    val back = spark.read.format("sam").load(out)
      .select("qname").collect().map(_.getString(0)).sorted
    assert(back.toSeq === sorted.map(_.qname).sorted)
    // header landed exactly once, at the top
    val first = scala.io.Source.fromFile(out).getLines().take(1).toList.head
    assert(first.startsWith("@HD"))

    // fastq: v2 write+read must equal the typed writer's round trip
    // (formatRecord/parseName normalize casava metadata in the name)
    val dirFq = tmpDir("dsv2wfq")
    val (fqV2, fqTyped) = (s"$dirFq/v2.fastq", s"$dirFq/typed.fastq")
    val frags = (0 until 120).map { i =>
      SequencedFragment(s"I:1:F:1:1:$i:$i 1:N:0:AC", "ACGTACGT", "IIIIIIII",
        "I", 1, 1, 1, i, i, 1, true)
    }
    spark.createDataset(frags).toDF()
      .write.format("fastq").mode("overwrite").save(fqV2)
    Fastq.write(spark.createDataset(frags), fqTyped)
    val fqBack = spark.read.format("fastq").load(fqV2)
      .select("name").collect().map(_.getString(0)).sorted
    val fqWant = Fastq.read(spark, fqTyped).collect().map(_.name).sorted
    assert(fqBack.toSeq === fqWant.toSeq)
    assert(fqBack.length === 120)
  }

  test("format(\"qseq\") write+read round-trips against the typed reader") {
    import spark.implicits._
    val dir = tmpDir("dsv2qseq")
    val (v2Out, typedOut) = (s"$dir/v2.qseq", s"$dir/typed.qseq")
    val frags = (0 until 150).map { i =>
      SequencedFragment(s"M_1:1:2:$i:$i#0/1", "ACGTACGN", "IIIIIIII",
        "M", 1, 1, 2, i, i, 1, i % 3 != 0)
    }
    spark.createDataset(frags).toDF()
      .write.format("qseq").mode("overwrite").save(v2Out)
    Qseq.write(spark.createDataset(frags), typedOut)
    val back = spark.read.format("qseq").load(v2Out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(10))).sorted
    val want = Qseq.read(spark, typedOut)
      .collect().map(f => (f.name, f.sequence, f.filterPassed)).sorted
    assert(back.toSeq === want.toSeq)
    assert(back.length === 150)
    // qseq lines are '.' for N and illumina-encoded qualities on disk
    val firstLine = scala.io.Source.fromFile(v2Out).getLines().take(1).toList.head
    assert(firstLine.split("\t").length === 11)
  }

  test("format(\"vcf\") write carries header lines and BGZF-compresses .bgz targets") {
    import spark.implicits._
    val dir = tmpDir("dsv2wvcf")
    val srcFile = s"$dir/src.vcf.bgz"
    val hdr = Vcf.VcfHeader(Seq("##fileformat=VCFv4.3",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))
    val vs = (0 until 200).map(i => Vcf.parseLine(
      s"chr1\t${100 + i}\trs$i\tA\tC\t50\tPASS\tDP=$i"))
    Vcf.writeBgzf(spark.createDataset(vs), hdr, srcFile)
    val out = s"$dir/out.vcf.bgz"
    spark.read.format("vcf").load(srcFile)
      .write.format("vcf").option("header", srcFile).mode("overwrite").save(out)
    assert(RangedText.isBgzf(out))
    assert(Vcf.readHeader(out).lines === hdr.lines)
    val back = spark.read.format("vcf").load(out)
      .select("pos").collect().map(_.getLong(0)).sorted
    assert(back.toSeq === vs.map(_.pos).sorted)
  }

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("BAM/SAM/VCF writes without a header option fail before any task runs") {
    import spark.implicits._
    val src = writeBam("dsv2whdr")
    val dir = tmpDir("dsv2whdro")
    val sam = spark.read.format("bam").load(src)
    val vcf = spark.createDataset(Seq(Vcf.parseLine(
      "chr1\t100\trs1\tA\tC\t50\tPASS\tDP=1"))).toDF()
    Seq("bam" -> sam, "sam" -> sam, "vcf" -> vcf).foreach { case (fmt, df) =>
      val e = intercept[Exception] {
        df.write.format(fmt).mode("overwrite").save(s"$dir/o.$fmt")
      }
      assert(msgs(e).exists(_.contains("header")), s"$fmt: ${msgs(e).mkString(" | ")}")
    }
  }

  test("bad granularity/profile values fail before any task runs, naming option and value") {
    import spark.implicits._
    val src = writeBam("dsv2wopt")
    val dir = tmpDir("dsv2wopto")
    // every row throws: an error from a task would name the bomb, not the option
    val reads = spark.createDataset(sorted.take(20)).map { r =>
      if (r.pos > 0) throw new IllegalStateException("a task ran"); r
    }
    val bcfSrc = s"$dir/src.bcf"
    val dicts = BcfIO.Dicts(Array("chr1"), Array("PASS"), Array("DP"))
    val v = Vcf.parseLine("chr1\t100\trs1\tA\tC\t50\tPASS\tDP=1")
    BcfIO.write(spark.createDataset(Seq(v)), dicts, bcfSrc)
    val sites = spark.createDataset(Seq(v)).map { x =>
      if (x.pos > 0) throw new IllegalStateException("a task ran"); x
    }
    def fails(option: String, value: String)(write: => Unit): Unit = {
      val e = intercept[Exception](write)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
        case i: IllegalArgumentException =>
          i.getMessage.contains(s"option $option = '$value'")
        case _ => false
      }, msgs(e).mkString(" | "))
    }
    def bam(g: String): Unit = reads.toDF().write.format("bam").option("header", src)
      .option("granularity", g).mode("overwrite").save(s"$dir/o.bam")
    fails("granularity", "x")(bam("x"))
    fails("granularity", "0")(bam("0"))
    fails("granularity", "-5")(sites.toDF().write.format("bcf").option("header", bcfSrc)
      .option("granularity", "-5").mode("overwrite").save(s"$dir/o.bcf"))
    fails("granularity", "0")(BamIO.write(reads, header, s"$dir/t.bam", granularity = 0))
    fails("granularity", "-1")(BamIO.writeSorted(reads, header, s"$dir/s.bam", granularity = -1))
    fails("granularity", "0")(BcfIO.write(sites, dicts, s"$dir/t.bcf", granularity = 0))
    fails("profile", "spec3")(reads.toDF().write.format("cram").option("header", src)
      .option("profile", "spec3").mode("overwrite").save(s"$dir/o.cram"))
    fails("profile", "spec3")(CramIO.write(reads, header, s"$dir/t.cram", profile = "spec3"))
  }

  test("append mode onto an existing file is rejected, not silently truncated") {
    val src = writeBam("dsv2wapp")
    val out = s"${tmpDir("dsv2wappo")}/o.bam"
    val df = spark.read.format("bam").load(src)
    df.write.format("bam").option("header", src).mode("overwrite").save(out)
    val e = intercept[Exception] {
      df.write.format("bam").option("header", src).mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("overwrite")), msgs(e).mkString(" | "))
  }

  test("format(\"fasta\") matches the typed reader; .fai prunes start-range scans") {
    val dir = tmpDir("dsv2fasta")
    val f = s"$dir/ref.fa"
    val rng = new scala.util.Random(11)
    val c1 = (0 until 6000).map(_ => "ACGT" (rng.nextInt(4))).mkString
    val c2 = (0 until 2500).map(_ => "GTCA" (rng.nextInt(4))).mkString
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      (s">chr1\n${c1.grouped(70).mkString("\n")}\n" +
        s">chr2\n${c2.grouped(70).mkString("\n")}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Fasta.buildAndWriteFai(f)
    val typed = Fasta.read(spark, f).collect()
      .map(r => (r.contig, r.start, r.sequence)).sorted
    val v2 = spark.read.format("fasta").load(f)
    val got = v2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    assert(got === typed)
    // contig + start range prunes planned partitions through the .fai
    val all = spark.read.format("fasta").option("splitsize", "512").load(f)
    val full = all.select("sequence").rdd.getNumPartitions
    val filtered = spark.read.format("fasta").option("splitsize", "512").load(f)
      .filter(col("contig") === "chr1" && col("start") >= 2000 && col("start") <= 3000)
    val pruned = filtered.select("sequence").rdd.getNumPartitions
    assert(full > 4, s"fixture too small to split: $full")
    assert(pruned < full, s"no chunk pruning: $pruned vs $full")
    // exactness: pruned scan + residual == full scan + filter
    val expect = typed.filter(t => t._1 == "chr1" && t._2 >= 2000 && t._2 <= 3000)
    val gotF = filtered.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    assert(gotF === expect)
    assert(gotF.nonEmpty)
  }

  test("format(\"bcf\") write round-trips with genotype fidelity and a prunable index") {
    import spark.implicits._
    import graft.model.VcfVariant
    val dir = tmpDir("dsv2wbcf")
    val src = s"$dir/src.bcf"
    val dicts = BcfIO.Dicts(Array("c1", "c2"), Array("PASS", "q10"),
      Array("DP"), Array("GT", "DP"))
    val vs = (0 until 600).map { i =>
      val chrom = if (i < 400) "c1" else "c2"
      val pos = 100L + (if (i < 400) i else i - 400) * 5
      VcfVariant(chrom, pos, s"v$i", "A", Array("C", "G"),
        Some((i % 90).toDouble), if (i % 7 == 0) "q10" else "PASS",
        Array("DP"), Array(i.toString),
        Array("GT", "DP"), Array(s"0/1:${i % 40}", s"1/1:${(i * 3) % 40}"))
    }
    BcfIO.write(spark.createDataset(vs).coalesce(1), dicts, src, granularity = 32)

    // DSv2 read -> DSv2 write (header donated by the source file)
    val out = s"$dir/out.bcf"
    spark.read.format("bcf").load(src).orderBy("chrom", "pos")
      .write.format("bcf").option("header", src).option("granularity", "32")
      .mode("overwrite").save(out)

    // typed reader sees the identical variant set, genotype matrix included
    val back = BcfIO.read(spark, out).collect().sortBy(v => (v.chrom, v.pos))
    val want = vs.sortBy(v => (v.chrom, v.pos))
    assert(back.length === want.length)
    back.zip(want).foreach { case (b, w) =>
      assert((b.chrom, b.pos, b.id, b.ref, b.qual, b.filter) ===
        (w.chrom, w.pos, w.id, w.ref, w.qual, w.filter))
      assert(b.alt.toSeq === w.alt.toSeq)
      assert(b.infoKeys.toSeq === w.infoKeys.toSeq)
      assert(b.infoValues.toSeq === w.infoValues.toSeq)
      assert(b.format.toSeq === w.format.toSeq)
      assert(b.genotypes.toSeq === w.genotypes.toSeq)
    }

    // the written file's sidecar index supports bounded traversal
    val all = spark.read.format("bcf").option("splitsize", "2048").load(out)
    val full = all.select("id").rdd.getNumPartitions
    val filtered = spark.read.format("bcf").option("splitsize", "2048").load(out)
      .filter(col("chrom") === "c1" && col("pos") >= 150 && col("pos") <= 400)
    val pruned = filtered.select("id").rdd.getNumPartitions
    assert(full > 2, s"fixture too small to split: $full")
    assert(pruned < full, s"no chunk pruning: $pruned vs $full")
    val got = filtered.select("id").collect().map(_.getString(0)).sorted
    val expect = vs.filter(v => v.chrom == "c1" && v.pos >= 150 && v.pos <= 400)
      .map(_.id).sorted.toArray
    assert(got === expect)

    // header-less write fails before any task runs
    val e = intercept[Exception] {
      spark.read.format("bcf").load(src)
        .write.format("bcf").mode("overwrite").save(s"$dir/nohdr.bcf")
    }
    assert(msgs(e).exists(_.contains("header")), msgs(e).mkString(" | "))
  }

  test("format(\"vcf\") matches the typed VCF reader on a bgzipped file") {
    import spark.implicits._
    val dir = tmpDir("dsv2vcf")
    val file = s"$dir/c.vcf.bgz"
    val hdr = Vcf.VcfHeader(Seq("##fileformat=VCFv4.3",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))
    val vs = (0 until 400).map(i => Vcf.parseLine(
      s"chr1\t${100 + i}\trs$i\tA\tC,G\t50\tPASS\tDP=$i;AF=0.5"))
    Vcf.writeBgzf(spark.createDataset(vs), hdr, file)
    val typed = Vcf.read(spark, file).collect().map(_.pos).sorted
    val v2 = spark.read.format("vcf").option("splitsize", "4096").load(file)
      .select("pos").collect().map(_.getLong(0)).sorted
    assert(v2 === typed)
  }

  private def res(name: String): String =
    getClass.getClassLoader.getResource(name).getFile

  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("format(\"bcf\") reads an uncompressed BCF like BcfIO.read, with and without a chrom filter") {
    val f = res("test.uncompressed.bcf")
    val typed = BcfIO.read(spark, f).toDF()
    assert(typed.count() === 5)
    assert(rowStrings(spark.read.format("bcf").load(f)) === rowStrings(typed))
    val filtered = spark.read.format("bcf").load(f).filter(col("chrom") === "20")
    assert(rowStrings(filtered) === rowStrings(typed.filter(col("chrom") === "20")))
    assert(filtered.count() === 5)
  }

  test("each batch scan plans its partitions once; a new load sees a rewritten file") {
    import spark.implicits._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = tmpDir("dsv2plan")
    val bam = writeBam("dsv2planbam")
    val cram = s"$dir/t.cram"
    CramIO.write(spark.createDataset(sorted.take(300)).repartition(2), header, cram)
    val sam = s"$dir/t.sam"
    Sam.write(spark.createDataset(sorted.take(300)), header, sam)
    val fastq = s"$dir/t.fastq"
    Fastq.write(spark.createDataset((0 until 50).map(i =>
      Fastq.parseName(s"@r$i 1:N:0:1", "").copy(sequence = "ACGT", quality = "IIII"))), fastq)
    val qseq = s"$dir/t.qseq"
    Qseq.write(Fastq.read(spark, fastq), qseq)
    val fasta = s"$dir/t.fa"
    java.nio.file.Files.write(java.nio.file.Paths.get(fasta),
      ">c1\nACGTACGT\nACGT\n>c2\nGGGG\n".getBytes("UTF-8"))
    val tables: Seq[(String, CaseInsensitiveStringMap => org.apache.spark.sql.connector.catalog.SupportsRead)] = Seq(
      (bam, new v2.BamTable(_)), (cram, new v2.CramTable(_)),
      (res("test.vcf.bgz"), new v2.VcfTable(_)), (res("test.bgzf.bcf"), new v2.BcfTable(_)),
      (res("test.uncompressed.bcf"), new v2.BcfTable(_)), (fasta, new v2.FastaTable(_)),
      (fastq, new v2.FastqTable(_)), (sam, new v2.SamTable(_)), (qseq, new v2.QseqTable(_)))
    tables.foreach { case (path, table) =>
      val opts = v2.GraftDataSinks.at(path)
      val batch = table(opts).newScanBuilder(opts).build().toBatch
      val first = batch.planInputPartitions()
      assert(first.nonEmpty, path)
      assert(batch.planInputPartitions() eq first, path)
    }
    // Spark builds a new Scan per query: a rewrite is seen by the next load
    val before = spark.read.format("bam").load(bam).count()
    BamIO.writeSorted(spark.createDataset(sorted.take(123)), header, bam)
    assert(before === sorted.length)
    assert(spark.read.format("bam").load(bam).select("qname").collect()
      .map(_.getString(0)).sorted === sorted.take(123).map(_.qname).sorted.toArray)
  }
}
