package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Streaming face of the DSv2 text formats: `spark.readStream
  * .format("fastq").load(dir)` tails an append-only directory, each
  * micro-batch covering exactly the newly landed files, with offsets
  * that survive a checkpointed restart.
  */
class StreamingV2Spec extends SparkSpec {

  private def fastqRecord(i: Int): String =
    s"@read$i run:1:lane:2:3:$i:${i * 2}\nACGTACGT\n+\nIIIIIIII\n"

  private def writeFile(dir: String, name: String, records: Range): Unit = {
    val body = records.map(fastqRecord).mkString
    Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))
  }

  test("fastq micro-batch stream reads files as they land, incrementally") {
    val dir = tmpDir("fq_stream")
    val ckpt = tmpDir("fq_ckpt")
    val out = tmpDir("fq_out")
    writeFile(dir, "part-00000.fastq", 0 until 40)
    writeFile(dir, "part-00001.fastq", 40 until 70)

    // parquet sink: fault-tolerant, so AvailableNow + the same
    // checkpoint resumes from the committed offset on each restart
    def runOnce(): Long = {
      val q = spark.readStream.format("fastq").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).count()
    }

    // first run drains both existing files
    assert(runOnce() === 70L)

    // a new file lands; the checkpointed restart appends ONLY it
    writeFile(dir, "part-00002.fastq", 70 until 95)
    assert(runOnce() === 95L)

    // nothing new: restart appends nothing
    assert(runOnce() === 95L)

    // a late file whose name sorts BEFORE committed ones lands while
    // the stream is down — the persisted file log (not listing order)
    // defines offsets, so it must still be read exactly once
    writeFile(dir, "a-late.fastq", 95 until 105)
    assert(runOnce() === 105L)
    assert(runOnce() === 105L)
  }

  test("bam micro-batch stream tails a directory of alignment shards") {
    import spark.implicits._
    import graft.model.{SamHeader, SamRecord, SamRef}
    val header = SamHeader(
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000",
      Array(SamRef("chr1", 100000)))
    def rec(i: Int) = SamRecord(s"r$i", 0, "chr1", 1 + i, 60, "10M", "*", 0, 0,
      "ACGTACGTAC", "IIIIIIIIII", Array.empty)
    val dir = tmpDir("bam_stream")
    val ckpt = tmpDir("bam_ckpt")
    val out = tmpDir("bam_out")
    def writeShard(name: String, range: Range): Unit =
      BamIO.writeSorted(spark.createDataset(range.map(rec)).coalesce(1),
        header, s"$dir/$name")
    writeShard("shard-000.bam", 0 until 30)

    def runOnce(): Long = {
      val q = spark.readStream.format("bam").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).count()
    }

    assert(runOnce() === 30L)
    writeShard("shard-001.bam", 30 until 50)
    assert(runOnce() === 50L)
    assert(runOnce() === 50L)
  }

  test("bcf micro-batch stream tails cohort shards at batch parity, mask honored") {
    import spark.implicits._
    import graft.model.VcfVariant
    val dicts = BcfIO.Dicts(Array("c1"), Array("PASS"), Array("DP"),
      Array("GT", "DP"))
    def variant(i: Int) = VcfVariant("c1", 100L + i, s"v$i", "A", Array("C"),
      Some(30.0), "PASS", Array("DP"), Array(i.toString),
      Array("GT", "DP"), Array(s"0/1:$i", s"1/1:${i * 2}"))
    val dir = tmpDir("bcf_stream")
    val ckpt = tmpDir("bcf_ckpt")
    val out = tmpDir("bcf_out")
    def writeShard(name: String, range: Range): Unit =
      BcfIO.write(spark.createDataset(range.map(variant)).coalesce(1), dicts,
        s"$dir/$name", granularity = 16)
    writeShard("shard-000.bcf", 0 until 30)

    def runOnce(): Long = {
      val q = spark.readStream.format("bcf").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).count()
    }

    // incremental restarts: only newly landed shards append (the
    // .bcf.sidx sidecars in the same directory never enter the log)
    assert(runOnce() === 30L)
    writeShard("shard-001.bcf", 30 until 50)
    assert(runOnce() === 50L)
    assert(runOnce() === 50L)

    // batch parity on the full row, genotype matrix included
    val streamed = spark.read.parquet(out).as[VcfVariant]
      .collect().sortBy(_.pos)
    val batch = (BcfIO.read(spark, s"$dir/shard-000.bcf").collect() ++
      BcfIO.read(spark, s"$dir/shard-001.bcf").collect()).sortBy(_.pos)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert((a.chrom, a.pos, a.id, a.qual, a.filter) ===
        (b.chrom, b.pos, b.id, b.qual, b.filter))
      assert(a.genotypes.toSeq === b.genotypes.toSeq)
      assert(a.infoValues.toSeq === b.infoValues.toSeq)
    }

    // lazy genotype mask: a site-only streaming projection decodes
    // empty genotype/info arrays, same as the batch DSv2 face
    val q2 = spark.readStream.format("bcf").load(dir)
      .select("chrom", "pos", "id")
      .writeStream.format("memory").queryName("bcf_sites")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val sites = spark.table("bcf_sites")
    assert(sites.count() === 50L)
    assert(sites.schema.fieldNames.toSeq === Seq("chrom", "pos", "id"))
  }

  test("streamed rows carry the same parsed fields as the batch reader") {
    val dir = tmpDir("fq_stream_eq")
    writeFile(dir, "part-00000.fastq", 0 until 25)
    val q = spark.readStream.format("fastq").load(dir)
      .writeStream.format("memory").queryName("fq_eq_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("fq_eq_out")
    val batch = spark.read.format("fastq").load(s"$dir/part-00000.fastq")
    assert(streamed.schema === batch.schema)
    val key = streamed.columns.head
    assert(streamed.orderBy(key).collect().toSeq ===
      batch.orderBy(key).collect().toSeq)
  }

  test("streaming plans each landed file exactly like the batch scan") {
    import spark.implicits._
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.model.{SamHeader, SamRecord, SamRef, VcfVariant}
    /** Array-deep rendering: partitions carry arrays (refs, dicts). */
    def canon(x: Any): String = x match {
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case o: Option[_] => o.map(canon).toString
      case p: Product => p.productIterator.map(canon).mkString(s"${p.productPrefix}(", ",", ")")
      case v => String.valueOf(v)
    }
    def opts(path: String) = new CaseInsensitiveStringMap(
      java.util.Map.of("path", path, "splitsize", "1024"))
    def scan(table: CaseInsensitiveStringMap => SupportsRead, path: String) =
      table(opts(path)).newScanBuilder(opts(path)).build()

    val header = SamHeader("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000",
      Array(SamRef("chr1", 100000)))
    val dicts = BcfIO.Dicts(Array("c1"), Array("PASS"), Array("DP"), Array("GT", "DP"))
    val (bamDir, bcfDir, fqDir) = (tmpDir("bam_plan"), tmpDir("bcf_plan"), tmpDir("fq_plan"))
    BamIO.writeSorted(spark.createDataset((0 until 3000).map(i =>
      SamRecord(s"r$i", 0, "chr1", 1 + i, 60, "10M", "*", 0, 0, "ACGTACGTAC", "IIIIIIIIII",
        Array.empty[String]))).coalesce(1), header, s"$bamDir/shard-000.bam", granularity = 50)
    BcfIO.write(spark.createDataset((0 until 3000).map(i =>
      VcfVariant("c1", 100L + i, s"v$i", "A", Array("C"), Some(30.0), "PASS", Array("DP"),
        Array(i.toString), Array("GT", "DP"), Array(s"0/1:$i", s"1/1:${i * 2}")))).coalesce(1),
      dicts, s"$bcfDir/shard-000.bcf", granularity = 50)
    writeFile(fqDir, "part-00000.fastq", 0 until 3000)

    val formats: Seq[(String, String, CaseInsensitiveStringMap => SupportsRead)] = Seq(
      (bamDir, "shard-000.bam", new v2.BamTable(_)),
      (bcfDir, "shard-000.bcf", new v2.BcfTable(_)),
      (fqDir, "part-00000.fastq", new v2.FastqTable(_)))
    formats.foreach { case (dir, name, table) =>
      val stream = scan(table, dir).toMicroBatchStream(tmpDir("plan_ckpt"))
      val streamed = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      // the stream logs the listed (qualified) path: plan the batch scan on the same string
      val file = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
        .makeQualified(new org.apache.hadoop.fs.Path(s"$dir/$name")).toString
      val batch = scan(table, file).toBatch.planInputPartitions()
      assert(batch.length > 1, s"$name: fixture too small to split")
      assert(streamed.map(canon).toSeq === batch.map(canon).toSeq, name)
    }
  }
}
