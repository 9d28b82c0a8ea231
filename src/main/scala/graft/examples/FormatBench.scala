package graft.examples

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.model.{SamHeader, SamRecord, SamRef}
import graft.sources.BamIO

/** Format-layer throughput probe: write N records as a sharded BAM
  * (parallel BGZF deflate + driver merge + splitting index), read them
  * back through the splittable scan, and through a bounded-traversal
  * window.  Prints records/sec per phase — the single-node numbers the
  * 100 TB posture extrapolates from (every phase is embarrassingly
  * parallel across executors; the driver does O(bytes) concat and
  * O(chunks) planning only).
  *
  *   sbt "runMain graft.examples.FormatBench [nRecords] [outDir]"
  *
  * Besides the printed lines, every metric lands in one JSON artifact
  * (SPARK_GRAFT_FORMATBENCH_OUT, default formatbench_out.json) so
  * format-layer throughput is machine-comparable round over round.
  */
object FormatBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000000
    val dir = if (args.length > 1) args(1) else "/tmp/graft_format_bench"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val contigLen = 200000000
    val header = SamHeader(
      s"@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:$contigLen",
      Array(SamRef("chr1", contigLen)))
    val seq = "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"
    val qual = "I" * 60

    // deterministic, pre-sorted by construction (pos strictly grows)
    val ds = spark.range(0, n.toLong, 1, cpus * 4).map { i =>
      SamRecord(s"r$i", if (i % 2 == 0) 99 else 147, "chr1",
        (1L + i * (contigLen - 100).toLong / n).toInt, 60, "60M", "=",
        (1L + i * (contigLen - 100).toLong / n).toInt + 100, 160, seq, qual,
        Array(s"NM:i:${i % 4}"))
    }

    val file = s"$dir/bench.bam"
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()

    // the same self-diagnosis discipline as graft.Bench (r8/r9): a
    // fixed-work CPU probe before every phase localizes sandbox
    // contention to the phases it actually touched, and per-phase GC
    // deltas expose JVM-internal stalls (a long-lived bench JVM
    // accumulates heap pressure phase over phase)
    def probe(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 25000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) println("")
      (System.nanoTime() - t0) / 1e9
    }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def record(label: String, sec: Double, rate: Double): Unit = {
      metrics(s"${label}_sec") = sec
      if (rate > 0) metrics(s"${label}_rec_per_sec") = rate
    }
    def timed[T](label: String)(body: => T): T = {
      // isolate phases from each other's heap debris: without this a
      // late phase pays tens of seconds of old-gen collection caused
      // by earlier phases (observed 7.6s -> 30.5s on cram_read_graft)
      System.gc()
      metrics(s"${label}_probe_sec") = probe()
      val g0 = gcMs()
      val t0 = System.nanoTime()
      val r = body
      val t = (System.nanoTime() - t0) / 1e9
      metrics(s"${label}_gc_ms") = (gcMs() - g0).toDouble
      println(f"FORMATBENCH $label%-18s $t%7.2fs  ${n / t / 1e6}%6.2f Mrec/s")
      record(label, t, n / t)
      r
    }
    // read phases re-run cheaply: report the median of three so one
    // contention spike cannot masquerade as a format-layer regression
    def timedRead(label: String, perRun: Long)(body: => Long): Double = {
      System.gc()
      metrics(s"${label}_probe_sec") = probe()
      val g0 = gcMs()
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val c = body
        require(c == perRun, s"$label read $c of $perRun")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      metrics(s"${label}_gc_ms") = (gcMs() - g0).toDouble
      metrics(s"${label}_min_sec") = ts.head
      val t = ts(1)
      println(f"FORMATBENCH $label%-18s $t%7.2fs  ${perRun / t / 1e6}%6.2f Mrec/s (median of 3)")
      record(label, t, perRun / t)
      t
    }

    timed("bam_write")(BamIO.writeSorted(ds, header, file))
    // size splits to the machine: highly repetitive synthetic data
    // compresses ~10×, so the default 64 MB splits under-parallelize
    val len = java.nio.file.Files.size(java.nio.file.Paths.get(file))
    val split = math.max(1L << 20, len / (cpus * 2))
    println(s"FORMATBENCH file_bytes $len split $split")
    timedRead("bam_read", n.toLong)(BamIO.read(spark, file, splitSize = split).count())
    // bounded traversal: middle 1% of the contig via the sidecar index
    val lo = contigLen / 2
    val hi = lo + contigLen / 100
    val c2 = BamIO.read(spark, file, intervals = Seq(("chr1", lo, hi))).count()
    timedRead("bam_interval_read", c2)(
      BamIO.read(spark, file, intervals = Seq(("chr1", lo, hi))).count())
    println(s"FORMATBENCH interval_rows $c2 (~${100.0 * c2 / n}%)")
    timedRead("bam_dsv2_read", (n + 1) / 2)(
      spark.read.format("bam").option("splitsize", split.toString)
        .load(file).where("flag = 99").count())
    metrics("bam_file_bytes") = len.toDouble

    // ---- lazy decode on tag-heavy records (LazyBAMRecordFactory
    // analog): same bytes, full decode vs a (qname, rname, pos) field
    // mask — the mask skips cigar/seq/qual/tag string building at the
    // byte level, which is most of the per-record CPU here
    val nt = n / 4
    val heavy = spark.range(0, nt.toLong, 1, cpus * 4).map { i =>
      SamRecord(s"t$i", 0, "chr1",
        (1L + i * (contigLen - 100).toLong / nt).toInt, 60, "60M", "*", 0, 0,
        seq, qual, Array(
          s"NM:i:${i % 4}", s"AS:i:${(i % 97).toInt}", s"XS:i:${(i % 89).toInt}",
          s"MD:Z:60", s"RG:Z:rg${i % 8}", s"BC:Z:ACGT${i % 13}",
          s"XA:Z:chr1,+${i % 1000},60M,0;", s"SA:Z:chr1,${i % 1000},+,60M,60,0;"))
    }
    val tagFile = s"$dir/bench_tags.bam"
    timed("tagbam_write")(BamIO.writeSorted(heavy, header, tagFile))
    val tlen = java.nio.file.Files.size(java.nio.file.Paths.get(tagFile))
    val tsplit = math.max(1L << 20, tlen / (cpus * 2))
    def readN(label: String, cols: Seq[String]): Double =
      timedRead(label, nt.toLong)(
        BamIO.read(spark, tagFile, splitSize = tsplit, columns = cols).count())
    val tFull = readN("tagbam_full", Nil)
    val tPruned = readN("tagbam_pruned", Seq("qname", "rname", "pos"))
    println(f"FORMATBENCH pruned_speedup ${tFull / tPruned}%.2fx")
    metrics("tagbam_pruned_speedup") = tFull / tPruned

    // ---- CRAM, both profiles: graft (BAM-codec payloads, fast path)
    // vs spec (real data-series containers, foreign-readable; reads
    // back through the CramForeign decoder)
    import graft.sources.CramIO
    val cg = s"$dir/bench_graft.cram"
    val cspec = s"$dir/bench_spec.cram"
    val cspec31 = s"$dir/bench_spec31.cram"
    val cfqz = s"$dir/bench_spec31fqz.cram"
    timed("cram_write_graft")(CramIO.write(heavy, header, cg))
    timed("cram_write_spec")(CramIO.write(heavy, header, cspec, profile = "spec"))
    timed("cram_write_spec31")(CramIO.write(heavy, header, cspec31, profile = "spec31"))
    timed("cram_write_spec31fqz")(CramIO.write(heavy, header, cfqz, profile = "spec31-fqz"))
    // size splits to the machine, exactly as the BAM phases do: the
    // default 64 MB split exceeds the whole ~21 MB bench file, so
    // without this the foreign decode ran as ONE task and the phase
    // measured single-thread throughput (r9: 8.9s -> parallel)
    def creadN(label: String, f: String): Unit = {
      val clen = java.nio.file.Files.size(java.nio.file.Paths.get(f))
      val csplit = math.max(256L << 10, clen / (cpus * 2))
      timedRead(label, nt.toLong)(
        CramIO.read(spark, f, splitSize = csplit).count())
      ()
    }
    creadN("cram_read_graft", cg)
    creadN("cram_read_spec", cspec)
    creadN("cram_read_spec31", cspec31)
    creadN("cram_read_spec31fqz", cfqz)
    println("FORMATBENCH cram_bytes graft=" +
      java.nio.file.Files.size(java.nio.file.Paths.get(cg)) + " spec=" +
      java.nio.file.Files.size(java.nio.file.Paths.get(cspec)) + " spec31=" +
      java.nio.file.Files.size(java.nio.file.Paths.get(cspec31)) + " spec31fqz=" +
      java.nio.file.Files.size(java.nio.file.Paths.get(cfqz)))
    metrics("cram_bytes_graft") = java.nio.file.Files.size(java.nio.file.Paths.get(cg)).toDouble
    metrics("cram_bytes_spec") = java.nio.file.Files.size(java.nio.file.Paths.get(cspec)).toDouble
    metrics("cram_bytes_spec31") = java.nio.file.Files.size(java.nio.file.Paths.get(cspec31)).toDouble
    metrics("cram_bytes_spec31fqz") = java.nio.file.Files.size(java.nio.file.Paths.get(cfqz)).toDouble

    // ---- lazy VCF/BCF genotype decode (LazyVCFGenotypesContext /
    // LazyBCFGenotypesContext analog): a many-sample cohort file read
    // site-only vs full.  The genotype matrix dominates the bytes, so
    // the site-only read should win big — for BCF it never even reads
    // those bytes off the decompressed stream.
    import graft.model.VcfVariant
    import graft.sources.{BcfIO, Vcf}
    val nSam = 500
    val nSite = n / 100
    val gtNames = (0 until nSam).map(i => s"s$i")
    val vcfFile = s"$dir/bench_cohort.vcf"
    val vcfHeader = Seq(
      "##fileformat=VCFv4.3",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"g\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
      "##contig=<ID=chr1,length=200000000>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +
        gtNames.map("\t" + _).mkString)
    timed("vcf_cohort_write") {
      val w = new java.io.BufferedWriter(new java.io.FileWriter(vcfFile), 1 << 20)
      vcfHeader.foreach { l => w.write(l); w.write('\n') }
      var i = 0
      while (i < nSite) {
        w.write(s"chr1\t${100 + i * 37}\tv$i\tA\tG\t50\tPASS\tDP=${i % 90}\tGT:DP")
        var s2 = 0
        while (s2 < nSam) { w.write(s"\t${s2 % 2}/${(s2 + i) % 2}:${s2 % 60}"); s2 += 1 }
        w.write('\n')
        i += 1
      }
      w.close()
    }
    val vlen = java.nio.file.Files.size(java.nio.file.Paths.get(vcfFile))
    val vsplit = math.max(1L << 20, vlen / (cpus * 2))
    def vreadN(label: String, cols: Seq[String]): Double =
      timedRead(label, nSite.toLong)(
        Vcf.read(spark, vcfFile, splitSize = vsplit, columns = cols).count())
    val vFull = vreadN("vcf_cohort_full", Nil)
    val vSite = vreadN("vcf_cohort_site", Seq("chrom", "pos", "id", "infoKeys"))
    println(f"FORMATBENCH vcf_site_speedup ${vFull / vSite}%.2fx")
    metrics("vcf_site_speedup") = vFull / vSite

    val bcfFile = s"$dir/bench_cohort.bcf"
    val dicts = BcfIO.Dicts(Array("chr1"), Array("PASS"), Array("DP"),
      Array("GT", "DP"))
    timed("bcf_cohort_write") {
      BcfIO.write(Vcf.read(spark, vcfFile, splitSize = vsplit)
        .repartition(1).sortWithinPartitions("pos"), dicts, bcfFile)
    }
    def breadN(label: String, cols: Seq[String]): Double =
      timedRead(label, nSite.toLong)(
        BcfIO.read(spark, bcfFile, columns = cols).count())
    val bFull = breadN("bcf_cohort_full", Nil)
    // r16 (the §6.r15 bimodality watch item, settled by an in-situ
    // code-cache A/B): fresh JVMs converge to ~35-45k rec/s by rep 3
    // (plain JIT warm-up, BCFMODEPROBE_r16), but THIS
    // long-lived bench JVM stays at ~9k even after six reads
    // (bcf_full_warmup 1.00x) — the default ReservedCodeCacheSize is
    // exhausted by ~25 earlier codegen-heavy phases, so the BCF decode
    // loop never gets compiled; re-running this whole bench with
    // -XX:ReservedCodeCacheSize=1g restores 2.7x in situ
    // (FORMATBENCH_CC_r16).  The warm twin phase below is the in-situ
    // witness: if it ever diverges from the cold metric again, the JVM
    // reached compilation, i.e. the mode flipped.
    val bFullWarm = breadN("bcf_cohort_full_warm", Nil)
    println(f"FORMATBENCH bcf_full_warmup ${bFull / bFullWarm}%.2fx")
    metrics("bcf_full_warmup") = bFull / bFullWarm
    val bSite = breadN("bcf_cohort_site", Seq("chrom", "pos", "id", "infoKeys"))
    println(f"FORMATBENCH bcf_site_speedup ${bFull / bSite}%.2fx")
    metrics("bcf_site_speedup") = bFull / bSite

    // ---- pixel layer (P11, r13): real PNG decode + integer average
    // pool, the q_thumbnail kernel at format-bench scale.  Encode once
    // to parquet (real bytes through a real scan), then decode+pool
    // three times — the Mpx/s number SURVEY quotes for the pixel path.
    {
      import graft.queries.Multimodal
      val nImg = math.max(2000, n / 100)
      val (iw, ih) = (256, 192)
      val totalPx = nImg.toLong * iw * ih
      val imgFile = s"$dir/bench_imgs.parquet"
      System.gc()
      metrics("img_encode_probe_sec") = probe()
      var g0 = gcMs()
      var t0 = System.nanoTime()
      spark.range(0, nImg.toLong, 1, cpus * 4)
        .map(id => Multimodal.MediaIn(id, Multimodal.encodePngGray(iw, ih,
          Array.tabulate(iw * ih)(i => Multimodal.pixFormula(i % iw, i / iw, id, 0)))))
        .write.mode("overwrite").parquet(imgFile)
      val tEnc = (System.nanoTime() - t0) / 1e9
      metrics("img_encode_gc_ms") = (gcMs() - g0).toDouble
      metrics("img_encode_sec") = tEnc
      metrics("img_encode_mpx_per_sec") = totalPx / tEnc / 1e6
      println(f"FORMATBENCH img_encode       $tEnc%7.2fs  ${totalPx / tEnc / 1e6}%6.2f Mpx/s ($nImg imgs)")
      System.gc()
      metrics("img_decode_pool_probe_sec") = probe()
      g0 = gcMs()
      val ts = (0 until 3).map { _ =>
        t0 = System.nanoTime()
        val sig = spark.read.parquet(imgFile).as[Multimodal.MediaIn]
          .mapPartitions(_.map { m =>
            val (w, h, pix) = Multimodal.decodeGray(m.payload)
            val pooled = Multimodal.poolGray(w, h, pix, 16, 12)
            var s = 0L; var i = 0
            while (i < pooled.length) { s += pooled(i).toLong * (i + 1); i += 1 }
            s
          }).reduce(_ + _)
        require(sig != 0, "pixel checksum degenerate")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      metrics("img_decode_pool_gc_ms") = (gcMs() - g0).toDouble
      metrics("img_decode_pool_min_sec") = ts.head
      metrics("img_decode_pool_sec") = ts(1)
      metrics("img_decode_pool_mpx_per_sec") = totalPx / ts(1) / 1e6
      println(f"FORMATBENCH img_decode_pool  ${ts(1)}%7.2fs  ${totalPx / ts(1) / 1e6}%6.2f Mpx/s (median of 3)")

      // color twin (r14): truecolor PNG at 3 bytes/px through the same
      // arc — encode once to parquet, decode+pool per channel 3 times
      val rgbFile = s"$dir/bench_imgs_rgb.parquet"
      System.gc()
      metrics("img_encode_rgb_probe_sec") = probe()
      g0 = gcMs()
      t0 = System.nanoTime()
      spark.range(0, nImg.toLong, 1, cpus * 4)
        .map(id => Multimodal.MediaIn(id, Multimodal.encodePngRgb(iw, ih,
          Array.tabulate(iw * ih) { i =>
            val (x, y) = (i % iw, i / iw)
            (Multimodal.pixFormula(x, y, id, 0) << 16) |
              (Multimodal.pixFormula(x, y, id, 1) << 8) |
              Multimodal.pixFormula(x, y, id, 2)
          })))
        .write.mode("overwrite").parquet(rgbFile)
      val tEncRgb = (System.nanoTime() - t0) / 1e9
      metrics("img_encode_rgb_gc_ms") = (gcMs() - g0).toDouble
      metrics("img_encode_rgb_sec") = tEncRgb
      metrics("img_encode_rgb_mpx_per_sec") = totalPx / tEncRgb / 1e6
      println(f"FORMATBENCH img_encode_rgb   $tEncRgb%7.2fs  ${totalPx / tEncRgb / 1e6}%6.2f Mpx/s ($nImg imgs, 3 B/px)")
      System.gc()
      metrics("img_decode_pool_rgb_probe_sec") = probe()
      g0 = gcMs()
      val tsRgb = (0 until 3).map { _ =>
        t0 = System.nanoTime()
        val sig = spark.read.parquet(rgbFile).as[Multimodal.MediaIn]
          .mapPartitions(_.map { m =>
            val (w, h, rgb) = Multimodal.decodeRgb(m.payload)
            val pooled = Multimodal.poolRgb(w, h, rgb, 16, 12)
            var s = 0L; var i = 0
            while (i < pooled.length) { s += pooled(i).toLong * (i + 1); i += 1 }
            s
          }).reduce(_ + _)
        require(sig != 0, "rgb pixel checksum degenerate")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      metrics("img_decode_pool_rgb_gc_ms") = (gcMs() - g0).toDouble
      metrics("img_decode_pool_rgb_min_sec") = tsRgb.head
      metrics("img_decode_pool_rgb_sec") = tsRgb(1)
      metrics("img_decode_pool_rgb_mpx_per_sec") = totalPx / tsRgb(1) / 1e6
      println(f"FORMATBENCH img_decode_pool_rgb ${tsRgb(1)}%7.2fs  ${totalPx / tsRgb(1) / 1e6}%6.2f Mpx/s (median of 3, 3 B/px)")

      // audio leg (r14): real WAV encode → javax.sound decode + the
      // integer framed-energy kernel, in Msamples/s
      import graft.queries.Audio
      val nClip = math.max(2000, n / 100)
      val sampPerClip = 8192
      val totalSamp = nClip.toLong * sampPerClip
      val wavFile = s"$dir/bench_wavs.parquet"
      System.gc()
      metrics("wav_encode_probe_sec") = probe()
      g0 = gcMs()
      t0 = System.nanoTime()
      spark.range(0, nClip.toLong, 1, cpus * 4)
        .map(id => Audio.AudioIn(id, Audio.buildWav(16000,
          Array.tabulate(sampPerClip)(j => Audio.sampleFormula(j, id)))))
        .write.mode("overwrite").parquet(wavFile)
      val tEncWav = (System.nanoTime() - t0) / 1e9
      metrics("wav_encode_gc_ms") = (gcMs() - g0).toDouble
      metrics("wav_encode_sec") = tEncWav
      metrics("wav_encode_msamp_per_sec") = totalSamp / tEncWav / 1e6
      println(f"FORMATBENCH wav_encode       $tEncWav%7.2fs  ${totalSamp / tEncWav / 1e6}%6.2f Msamp/s ($nClip clips)")
      System.gc()
      metrics("wav_decode_energy_probe_sec") = probe()
      g0 = gcMs()
      val tsWav = (0 until 3).map { _ =>
        t0 = System.nanoTime()
        val sig = spark.read.parquet(wavFile).as[Audio.AudioIn]
          .mapPartitions(_.map { a =>
            val (_, _, samples) = Audio.decodeWav(a.payload)
            var s = 0L; var i = 0
            while (i < samples.length) { s += math.abs(samples(i)).toLong; i += 1 }
            s
          }).reduce(_ + _)
        require(sig != 0, "audio checksum degenerate")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      metrics("wav_decode_energy_gc_ms") = (gcMs() - g0).toDouble
      metrics("wav_decode_energy_min_sec") = tsWav.head
      metrics("wav_decode_energy_sec") = tsWav(1)
      metrics("wav_decode_energy_msamp_per_sec") = totalSamp / tsWav(1) / 1e6
      println(f"FORMATBENCH wav_decode_energy ${tsWav(1)}%7.2fs  ${totalSamp / tsWav(1) / 1e6}%6.2f Msamp/s (median of 3)")
    }

    // one machine-readable artifact per run (BENCH-style), so the
    // format-layer numbers quoted in SURVEY are checkable round over
    // round instead of living only in prose
    metrics("n_records") = n.toDouble
    metrics("cpus") = cpus.toDouble
    // run-level probe summary: phases whose probe exceeded 1.5x the
    // median ran under contention — discount them when comparing
    val probes = metrics.collect { case (k, v) if k.endsWith("_probe_sec") => (k, v) }
    val pmed = { val ps = probes.values.toSeq.sorted; if (ps.isEmpty) 0.0 else ps(ps.size / 2) }
    metrics("probe_median_sec") = pmed
    probes.foreach { case (k, v) =>
      if (pmed > 0 && v > 1.5 * pmed)
        println(s"FORMATBENCH suspect_phase ${k.stripSuffix("_probe_sec")} " +
          f"probe ${v / pmed}%.1fx median")
    }
    val json = (metrics.map { case (k, v) =>
      val vs = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
               else f"$v%.6f"
      s""""$k":$vs"""
    } ++ Seq(s""""git_sha":"${graft.Bench.gitSha()}"""")) // jar↔artifact lineage (r14)
      .mkString("{", ",", "}")
    val out = sys.env.getOrElse("SPARK_GRAFT_FORMATBENCH_OUT", "formatbench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"FORMATBENCH artifact $out")
    spark.stop()
  }
}
