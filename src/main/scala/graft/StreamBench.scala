package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming._

/** Streaming benchmark main (VERDICT r10 item 6): per-operator
  * throughput and state-size evidence for the streaming layer, with
  * the same self-diagnosis discipline as [[Bench]]/FormatBench.
  *
  * Method: each operator replays a corpus/event slice from
  * SPARK_GRAFT_SF_DIR through a MemoryStream in event-time order,
  * split into fixed micro-batches with `processAllAvailable()` after
  * each (so watermark advancement and state eviction happen
  * mid-stream, as in production, not in one giant batch), then one
  * far-future watermark mover flushes the finalization tail.  The
  * sink is the streaming noop sink — rows are materialized, nothing
  * is buffered driver-side.  Reported per operator:
  *   - in_rows / sec / rows_per_sec (mover excluded from in_rows),
  *   - out_rows (sink-reported across all progress events),
  *   - state_rows_max / state_bytes_max: the PEAK of the state-store
  *     totals across micro-batches — the number that bounds executor
  *     memory at scale (watermark-finalized operators drop state at
  *     emission, so the END state understates the requirement),
  *   - batches, and the per-operator 25M-step CPU probe.
  * Run-level trust: start/end 200M-step probes, per-operator probes
  * vs run median (suspect_queries / partially_suspect), loadavg, GC
  * totals — the graft bench protocol.
  */
object StreamBench {

  private final case class Res(name: String, inRows: Long, sec: Double,
                               outRows: Long, stateRows: Long, stateBytes: Long,
                               batches: Int, probe: Double, err: Option[String])

  /** Feed `data` in `nBatches` event-time-ordered micro-batches, then
    * `movers`, through `build`, into the streaming noop sink. */
  private def drive[A](spark: SparkSession, name: String, data: Seq[A],
                       movers: Seq[A], nBatches: Int,
                       build: Dataset[A] => DataFrame)(
                       implicit enc: Encoder[A]): Res = {
    val probe = Bench.calibrate(25000000)
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory(s"sb_$name").toString
    try {
      val mem = MemoryStream[A]
      val out = build(mem.toDS())
      val query = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append").queryName(s"sb_$name").start()
      try {
        val slice = math.max(1, (data.size + nBatches - 1) / nBatches)
        val t0 = System.nanoTime()
        data.grouped(slice).foreach { b =>
          mem.addData(b: _*)
          query.processAllAvailable()
        }
        if (movers.nonEmpty) {
          mem.addData(movers: _*)
          query.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val progs = query.recentProgress
        val outRows = progs.map(p => math.max(0L, p.sink.numOutputRows)).sum
        val stateRows = progs
          .map(_.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max)
        val stateBytes = progs
          .map(_.stateOperators.map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max)
        Res(name, data.size.toLong, sec, outRows, stateRows, stateBytes,
          progs.length, probe, None)
      } finally query.stop()
    } catch {
      case e: Throwable =>
        Res(name, data.size.toLong, -1.0, -1L, -1L, -1L, 0, probe,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
    } finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }

  /** Input row for the z-order ingest case (top-level in the object so
    * Spark can derive its encoder). */
  final case class ZRow(doc_id: Long, n_chars: Long, n_tok: Long)

  /** The z-order sink writes parquet per micro-batch (foreachBatch),
    * not the noop sink, so it gets its own drive: same batch feeding
    * and probe, out_rows = rows actually readable back from the
    * written table, no streaming state by construction. */
  private def driveZorder(spark: SparkSession, name: String,
                          data: Seq[ZRow], nBatches: Int): Res = {
    val probe = Bench.calibrate(25000000)
    val sq = spark
    import sq.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(s"sb_$name")
    val path = dir.resolve("table").toString
    val ckpt = dir.resolve("ckpt").toString
    try {
      val mem = MemoryStream[ZRow]
      val query = graft.operators.Zorder
        .zOrderedSink(mem.toDS().toDF(), Seq("n_chars", "n_tok"), path,
          filesPerBatch = 2, blockKiB = 128)
        .option("checkpointLocation", ckpt)
        .queryName(s"sb_$name").start()
      try {
        val slice = math.max(1, (data.size + nBatches - 1) / nBatches)
        val t0 = System.nanoTime()
        data.grouped(slice).foreach { b =>
          mem.addData(b: _*)
          query.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val outRows = spark.read.parquet(path).count()
        Res(name, data.size.toLong, sec, outRows, 0L, 0L,
          query.recentProgress.length, probe, None)
      } finally query.stop()
    } catch {
      case e: Throwable =>
        Res(name, data.size.toLong, -1.0, -1L, -1L, -1L, 0, probe,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
    } finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }

  /** SPARK_GRAFT_STREAM_SHUFFLE_PARTS: unset means the session
    * default; anything but a positive integer fails the run rather
    * than silently running the default regime under the wrong label. */
  private[graft] def parseStreamParts(v: Option[String]): Option[Int] =
    v.map { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_SHUFFLE_PARTS must be a positive integer, got '$s'"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "16").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r20 (VERDICT r19 item 9): the state-store partition count is
    // pinned to spark.sql.shuffle.partitions at each query's FIRST
    // micro-batch, so 32-core sessions run 32 state partitions per
    // stateful operator — ~0.75 s/batch of fixed task machinery across
    // 20 ops is the micro-regime's floor.  An EXPLICIT protocol knob
    // (never silent): SPARK_GRAFT_STREAM_SHUFFLE_PARTS overrides the
    // session default for the streaming suite, the regime label gains
    // a "_pN" suffix so anchor lookups never cross-compare regimes,
    // and the output line records shuffle_partitions either way.
    val streamParts = parseStreamParts(sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTS"))
    val probeGate = Bench.parseProbeGate(sys.env.get("SPARK_GRAFT_PROBE_GATE"))
    streamParts.foreach(p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    val shufflePartsNow = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // out_rows / state peaks are read from query.recentProgress, which
    // Spark caps (default 100 entries) — raise the retention above the
    // batch count (+ movers batch + slack) so no early batch silently
    // drops from the totals (ADVICE r11)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(100, nBatches + 8).toString)
    import spark.implicits._

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    val loadStart = Bench.loadavg()
    val probeStart = Bench.calibrate()
    val probeParStart = Bench.calibratePar(cpus)
    val fsyncStart = Bench.fsyncProbe()

    // Par-probe pre-gate (the Bench r15 discipline, extended here —
    // stream regimes are 8-minute suites and the suspect protocol
    // would reject a >gate window's artifact anyway): with
    // SPARK_GRAFT_PROBE_GATE set, abort in seconds when the start-of-
    // run parallel probe is already that far above the prior round's
    // STREAMBENCH anchor.
    // THIS run's regime label — shared by the output line, both anchor
    // lookups and the fsync comparison, so a multi-regime anchor file's
    // probes are always read off the matching regime's line (ADVICE
    // r16: prevProbeAnchor parsed the first line regardless)
    val regimeNow = sys.env.getOrElse("SPARK_GRAFT_STREAM_REGIME",
      s"batches$nBatches" + streamParts.map(p => s"_p$p").getOrElse(""))
    val regimeLine: Option[String => Boolean] =
      Some(_.contains(s""""regime":"${esc(regimeNow)}""""))

    probeGate.foreach { gate =>
        for {
          (file, _, _, prevParOpt) <- Bench.prevProbeAnchor(
            """STREAMBENCH.*_r(\d+)\.json""", "SPARK_GRAFT_PREV_STREAMBENCH",
            lineFilter = regimeLine)
          prevPar <- prevParOpt
          ratio = probeParStart / prevPar
          if ratio > gate
        } {
          val msg = f"parallel probe $probeParStart%.3fs is $ratio%.2fx the " +
            f"anchor ($prevPar%.3fs in $file), over gate $gate%.2f -- aborting " +
            "before the suite runs"
          val aj = s"""{"aborted":true,"reason":"${esc(msg)}",""" +
            s""""probe_par_sec":$probeParStart,"anchor_par_sec":$prevPar,""" +
            s""""ratio":$ratio,"gate":$gate,"git_sha":"${esc(Bench.gitSha())}"}"""
          println(aj)
          // SIDECAR, not the target path (ADVICE r15): the retry-train
          // scenario points SPARK_GRAFT_BENCH_OUT at a multi-regime
          // artifact — a truncating stub write would erase the other
          // regime's committed line
          val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "streambench_out.json")
          try java.nio.file.Files.write(java.nio.file.Paths.get(out + ".aborted"),
            (aj + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          catch { case _: Throwable => () }
          spark.stop()
          sys.exit(3)
        }
      }

    // ---- inputs, all in event-time order ------------------------------
    val min_ = 60L * 1000000L
    val base = 1700000000000000L // µs
    // documents: one doc per second of synthetic event time (the
    // tables carry no timestamp; 1 doc/s makes a 10-min window ≈ 600
    // docs and a 10-min horizon a meaningful state bound)
    val docRows = Tables.documents(spark, sfDir)
      .orderBy("doc_id").select("doc_id", "lang", "text")
      .collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getString(1), r.getString(2),
        base + i * 1000000L) }
    val docMaxTs = if (docRows.isEmpty) base else docRows.last._4
    val farDoc = docMaxTs + 1000L * min_
    val horizonUs = 10L * min_

    val fEvents = StreamFunnel.funnelInput(spark, sfDir)
      .orderBy("ts_us", "user_id").collect().toSeq
    val dayEvents = StreamRetention.dayInput(spark, sfDir)
      .orderBy("ts", "user_id").collect().toSeq
    val sessEvents = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("value").cast("double").as("value"))
      .orderBy("ts_us", "user_id").as[Sessionize.Event].collect().toSeq
    val tagged = Sessionize
      .purchasesAndClicks(Sessionize.eventsAsStreamInput(spark, sfDir))
      .orderBy("ts_us", "event_id").collect().toSeq
    val evMaxUs = if (sessEvents.isEmpty) base else sessEvents.last.ts_us
    val farEv = evMaxUs + 10000L * min_
    def tsOf(us: Long) = new java.sql.Timestamp(us / 1000L)

    val cases = Seq[(String, () => Res)](
      "stream_dedup" -> (() => drive[StreamDedup.Doc](spark, "stream_dedup",
        docRows.toSeq.map(d => StreamDedup.Doc(d._1, d._3, d._4)),
        Seq(StreamDedup.Doc(999999901L, "mover", farDoc)), nBatches,
        (ds: Dataset[StreamDedup.Doc]) =>
          StreamDedup.firstSeen(ds, horizonUs / 1000L).toDF())),
      "stream_near_dedup" -> (() => drive[StreamNearDedup.Doc](spark, "stream_near_dedup",
        docRows.toSeq.map(d => StreamNearDedup.Doc(d._1, d._3, d._4)),
        Seq(StreamNearDedup.Doc(999999902L, "mover", farDoc)), nBatches,
        (ds: Dataset[StreamNearDedup.Doc]) =>
          StreamNearDedup.bandMatches(ds, horizonUs).toDF())),
      // the r16 image face of the near-dup matrix: the P71 cross-codec
      // corpus (PNG base / brightness-shifted BMP twin) streamed one
      // image per second — decode + dHash scan-side, 16-bit band state
      "stream_image_near_dedup" -> (() => drive[StreamNearDedup.MediaDoc](spark, "stream_image_near_dedup",
        docRows.toSeq.map { d =>
          val g = d._1 / 2
          val w = (g % 64 + 24).toInt
          val h = (g % 48 + 18).toInt
          import graft.queries.{ImageDedup, Multimodal}
          val pix =
            if (d._1 % 2 == 0)
              Array.tabulate(w * h)(i => ImageDedup.basePix(i % w, i / w, g))
            else Array.tabulate(w * h)(i => ImageDedup.twinPix(i % w, i / w, g))
          StreamNearDedup.MediaDoc(d._1,
            if (d._1 % 2 == 0) Multimodal.encodePngGray(w, h, pix)
            else Multimodal.encodeBmpGray(w, h, pix),
            d._4)
        },
        Seq(StreamNearDedup.MediaDoc(999999919L,
          graft.queries.Multimodal.encodePngGray(9, 8, Array.fill(72)(0)),
          farDoc)),
        nBatches,
        (ds: Dataset[StreamNearDedup.MediaDoc]) =>
          StreamNearDedup.imageBandMatches(ds, horizonUs).toDF())),
      "stream_quality_gate" -> (() => drive[StreamQualityGate.DocEvent](spark, "stream_quality_gate",
        docRows.toSeq.map(d => StreamQualityGate.DocEvent(d._1, d._2, d._3, d._4)),
        Seq(StreamQualityGate.DocEvent(999999903L, "zz", "mover", farDoc)), nBatches,
        (ds: Dataset[StreamQualityGate.DocEvent]) =>
          StreamQualityGate.keepReport(ds, "10 minutes"))),
      "stream_pii_scan" -> (() => drive[StreamPiiScan.DocEvent](spark, "stream_pii_scan",
        docRows.toSeq.map(d => StreamPiiScan.DocEvent(d._1, d._2, d._3, d._4)),
        Seq(StreamPiiScan.DocEvent(999999904L, "zz", "mover", farDoc)), nBatches,
        (ds: Dataset[StreamPiiScan.DocEvent]) =>
          StreamPiiScan.counts(ds, "10 minutes"))),
      "stream_quality_hist" -> (() => drive[StreamPiiScan.DocEvent](spark, "stream_quality_hist",
        docRows.toSeq.map(d => StreamPiiScan.DocEvent(d._1, d._2, d._3, d._4)),
        Seq(StreamPiiScan.DocEvent(999999905L, "zz", "mover", farDoc)), nBatches,
        (ds: Dataset[StreamPiiScan.DocEvent]) =>
          StreamPiiScan.qualityHist(ds, "10 minutes"))),
      "stream_release_filter" -> (() => drive[StreamReleaseFilter.DocEvent](spark, "stream_release_filter",
        docRows.toSeq.map(d => StreamReleaseFilter.DocEvent(d._1, d._3, d._4)),
        Seq(StreamReleaseFilter.DocEvent(999999906L, "mover", farDoc)), nBatches,
        (ds: Dataset[StreamReleaseFilter.DocEvent]) =>
          StreamReleaseFilter.decisions(ds, horizonUs / 1000L).toDF())),
      "stream_token_budget" -> (() => drive[StreamTokenBudget.Doc](spark, "stream_token_budget",
        docRows.toSeq.map(d => StreamTokenBudget.Doc(d._1, d._2, d._3, d._4)),
        Seq(StreamTokenBudget.Doc(999999907L, "zz", "mover", farDoc)), nBatches,
        (ds: Dataset[StreamTokenBudget.Doc]) =>
          StreamTokenBudget.assignments(ds, 20000L).toDF())),
      "stream_funnel" -> (() => drive[StreamFunnel.FEvent](spark, "stream_funnel",
        fEvents,
        Seq(StreamFunnel.FEvent(999999908L, farEv, 1, tsOf(farEv))), nBatches,
        (ds: Dataset[StreamFunnel.FEvent]) =>
          StreamFunnel.completedFunnels(ds).toDF())),
      "stream_retention" -> (() => drive[StreamRetention.DayEvent](spark, "stream_retention",
        dayEvents,
        Seq(StreamRetention.DayEvent(999999909L, farEv / 86400000000L,
          tsOf(farEv))), nBatches,
        (ds: Dataset[StreamRetention.DayEvent]) =>
          StreamRetention.activity(ds).toDF())),
      // the DAU/WAU fan-out (activeUsers) is the stateless BATCH tail
      // over the emitted history — the streaming operator is the
      // exactly-once (user, day) finalization itself
      "stream_active_users" -> (() => drive[StreamRetention.DayEvent](spark, "stream_active_users",
        dayEvents,
        Seq(StreamRetention.DayEvent(999999910L, farEv / 86400000000L,
          tsOf(farEv))), nBatches,
        (ds: Dataset[StreamRetention.DayEvent]) =>
          StreamActiveUsers.userDays(ds).toDF())),
      "stream_sessionize" -> (() => drive[Sessionize.Event](spark, "stream_sessionize",
        sessEvents,
        Seq(Sessionize.Event(999999911L, farEv, 0.0)), nBatches,
        (ds: Dataset[Sessionize.Event]) =>
          Sessionize.sessions(ds, 1800L).toDF())),
      "stream_windowed_counts" -> (() => drive[Sessionize.Event](spark, "stream_windowed_counts",
        sessEvents,
        Seq(Sessionize.Event(999999912L, farEv, 0.0)), nBatches,
        (ds: Dataset[Sessionize.Event]) =>
          Sessionize.windowedCounts(ds.toDF()
            .withColumn("event_type", lit("all"))))),
      "stream_asof_enrich" -> (() => drive[Sessionize.Tagged](spark, "stream_asof_enrich",
        tagged,
        Seq(Sessionize.Tagged(999999913L, farEv, 999999913L, false,
          tsOf(farEv))), nBatches,
        (ds: Dataset[Sessionize.Tagged]) =>
          Sessionize.enrichAsOf(ds).toDF())),
      "stream_heavy_hitters" -> (() => drive[StreamHeavyHitters.DocEvent](spark, "stream_heavy_hitters",
        docRows.toSeq.map(d => StreamHeavyHitters.DocEvent(d._1, d._2, d._3, d._4)),
        Seq(StreamHeavyHitters.DocEvent(999999914L, "zz", "mover", farDoc)), nBatches,
        (ds: Dataset[StreamHeavyHitters.DocEvent]) =>
          StreamHeavyHitters.candidates(ds, "10 minutes"))),
      "stream_weighted_sample" -> (() => drive[StreamWeightedSample.DocEvent](spark, "stream_weighted_sample",
        docRows.toSeq.map(d => StreamWeightedSample.DocEvent(d._1, d._2, d._3,
          d._3.length.toLong, d._4)),
        Seq(StreamWeightedSample.DocEvent(999999915L, "zz", "mover", 5L, farDoc)), nBatches,
        (ds: Dataset[StreamWeightedSample.DocEvent]) =>
          StreamWeightedSample.sample(ds, "10 minutes"))),
      "stream_thumbnail" -> (() => drive[StreamThumbnail.MediaEvent](spark, "stream_thumbnail",
        docRows.toSeq.map { d =>
          // real PNG payloads, dims doc_id-derived (≤45×29 keeps the
          // driver-side fixture build cheap; the DECODE side is the
          // measured work)
          val w = (d._1 % 37 + 9).toInt
          val h = (d._1 % 23 + 7).toInt
          StreamThumbnail.MediaEvent(d._1,
            graft.queries.Multimodal.encodePngGray(w, h,
              Array.tabulate(w * h)(p =>
                graft.queries.Multimodal.pixFormula(p % w, p / w, d._1, 0))),
            d._4)
        },
        Seq(StreamThumbnail.MediaEvent(999999916L,
          graft.queries.Multimodal.encodePngGray(1, 1, Array(0)), farDoc)),
        nBatches,
        (ds: Dataset[StreamThumbnail.MediaEvent]) =>
          StreamThumbnail.audit(ds, "10 minutes"))),
      "stream_thumbnail_rgb" -> (() => drive[StreamThumbnail.MediaEvent](spark, "stream_thumbnail_rgb",
        docRows.toSeq.map { d =>
          // truecolor payloads, per-channel pixFormula(.., c) — the
          // 3-byte/px decode+pool kernel is the measured work
          val w = (d._1 % 37 + 9).toInt
          val h = (d._1 % 23 + 7).toInt
          StreamThumbnail.MediaEvent(d._1,
            graft.queries.Multimodal.encodePngRgb(w, h,
              Array.tabulate(w * h) { p =>
                val (x, y) = (p % w, p / w)
                (graft.queries.Multimodal.pixFormula(x, y, d._1, 0) << 16) |
                  (graft.queries.Multimodal.pixFormula(x, y, d._1, 1) << 8) |
                  graft.queries.Multimodal.pixFormula(x, y, d._1, 2)
              }),
            d._4)
        },
        Seq(StreamThumbnail.MediaEvent(999999917L,
          graft.queries.Multimodal.encodePngRgb(1, 1, Array(0)), farDoc)),
        nBatches,
        (ds: Dataset[StreamThumbnail.MediaEvent]) =>
          StreamThumbnail.thumbsRgb(ds))),
      "stream_audio_energy" -> (() => drive[graft.streaming.StreamAudioEnergy.AudioEvent](
        spark, "stream_audio_energy",
        docRows.toSeq.map { d =>
          // real WAV payloads; the PCM decode + integer framing is the
          // measured work
          val n = (d._1 % 1500 + 200).toInt
          graft.streaming.StreamAudioEnergy.AudioEvent(d._1,
            graft.queries.Audio.buildWav((8000 + (d._1 % 3) * 4000).toInt,
              Array.tabulate(n)(j => graft.queries.Audio.sampleFormula(j, d._1))),
            d._4)
        },
        Seq(graft.streaming.StreamAudioEnergy.AudioEvent(999999918L,
          graft.queries.Audio.buildWav(8000, Array(0)), farDoc)),
        nBatches,
        (ds: Dataset[graft.streaming.StreamAudioEnergy.AudioEvent]) =>
          graft.streaming.StreamAudioEnergy.audit(ds, "10 minutes"))),
      "stream_zorder_sink" -> (() => driveZorder(spark, "stream_zorder_sink",
        docRows.toSeq.map(d => ZRow(d._1, d._3.length.toLong,
          d._3.split(' ').count(_.nonEmpty).toLong)), nBatches)))

    val selected =
      if (args.isEmpty) cases
      else cases.filter { case (n, _) => args.contains(n) }
    val results = selected.map(_._2())

    // LATE-TWIN witness (VERDICT r16 item 5, the BCFMODEPROBE
    // discipline brought to streaming): with SPARK_GRAFT_STREAM_TWINS
    // = "op1,op2", re-run those operators in THIS same aged JVM after
    // the whole suite and record both values.  late ≫ first means the
    // long-lived multi-op JVM itself (JIT/profile/code-cache aging)
    // inflates late operators; late ≈ first points at the host window.
    // A solo fresh-JVM run of the same op (args = [op]) is the third
    // leg of the comparison.
    val twinOps = sys.env.get("SPARK_GRAFT_STREAM_TWINS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val twins: Seq[(String, Double, Double, Double)] =
      cases.filter { case (n, _) => twinOps(n) }.map { case (n, f) =>
        val first = results.find(_.name == n).map(_.sec).getOrElse(-1.0)
        val probeBefore = Bench.calibrate(25000000)
        val late = f().sec
        (n, first, late, probeBefore)
      }

    val probeEnd = Bench.calibrate()
    val probeParEnd = Bench.calibratePar(cpus)
    val probePar = math.min(probeParStart, probeParEnd)
    val fsyncEnd = Bench.fsyncProbe()
    val loadEnd = Bench.loadavg()
    val (gcCount, gcMs) = Bench.gcTotals()

    val probeMedian = {
      val ps = results.map(_.probe).sorted
      if (ps.isEmpty) 0.0 else ps(ps.length / 2)
    }
    val suspectQueries = results.filter(r =>
      probeMedian > 0 && r.probe > 1.5 * probeMedian)
    val probeDrift = math.abs(probeEnd - probeStart) / math.max(probeStart, 1e-9)
    val reasons = scala.collection.mutable.ArrayBuffer[String]()
    if (probeDrift > 0.25)
      reasons += f"CPU calibration probe drifted ${probeDrift * 100}%.0f%% ($probeStart%.2fs -> $probeEnd%.2fs)"
    if (Bench.load1(loadStart) > cpus)
      reasons += s"loadavg already ${Bench.load1(loadStart)} at start with $cpus cores"
    if (suspectQueries.length > math.max(2, results.size / 10))
      reasons += s"${suspectQueries.length} operators probed >1.5x the median " +
        f"probe ($probeMedian%.3fs)"
    // cross-round absolute anchor against the prior STREAMBENCH
    // artifact (single-thread + parallel), same discipline as Bench
    val prevAnchor = Bench.prevProbeAnchor(
      """STREAMBENCH.*_r(\d+)\.json""", "SPARK_GRAFT_PREV_STREAMBENCH",
      lineFilter = regimeLine)
    val probeVsPrev = prevAnchor.map { case (_, prevMed, _, _) => probeMedian / prevMed }
    val probeParVsPrev = prevAnchor.flatMap { case (_, _, _, prevPar) =>
      prevPar.map(probePar / _)
    }
    prevAnchor.foreach { case (file, prevMed, prevSusp, prevPar) =>
      val suffix = if (prevSusp) ", itself suspect" else ""
      probeVsPrev.foreach { ratio =>
        if (math.abs(ratio - 1.0) > 0.25)
          reasons += f"probe median $probeMedian%.3fs is $ratio%.2fx the prior " +
            f"round's ($prevMed%.3fs in $file$suffix)"
      }
      (probeParVsPrev, prevPar) match {
        case (Some(ratio), Some(pp)) if math.abs(ratio - 1.0) > 0.25 =>
          reasons += f"parallel probe $probePar%.3fs is $ratio%.2fx the prior " +
            f"round's ($pp%.3fs in $file$suffix)"
        case _ =>
      }
    }
    // Disk-latency anchor (the r15 blind spot: micro-batch totals pay
    // per-batch checkpoint fsyncs, so host I/O latency inflates every
    // operator uniformly while the CPU probes stay flat — micro16 ran
    // 1.4x r14 across ALL operators at CPU-probe parity with nothing
    // in the artifact to say why).  Arms only once the chosen anchor
    // line carries fsync_ms_run — the committed STREAMBENCH_r15 lines
    // predate the probe, so the first armed comparison is r17 vs r16
    // (ADVICE r15: the original comment here overstated when it fires).
    val fsyncRun =
      if (fsyncStart > 0 && fsyncEnd > 0) math.min(fsyncStart, fsyncEnd)
      else math.max(fsyncStart, fsyncEnd)
    prevAnchor.foreach { case (file, _, _, _) =>
      val prevFsync = try {
        // a STREAMBENCH artifact carries one JSON line PER REGIME:
        // compare against the line matching THIS run's regime (the two
        // regimes run at different dirs/batch counts, and ADVICE r15
        // noted findFirstMatchIn silently always read the first line)
        val lines = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(file)), "UTF-8").linesIterator.toSeq
        val line = lines.find(
            _.contains(s""""regime":"${esc(regimeNow)}""""))
          .orElse(if (lines.size == 1) lines.headOption else None)
        line.flatMap(
          """"fsync_ms_run"\s*:\s*([0-9.eE+-]+)""".r
            .findFirstMatchIn(_).map(_.group(1).toDouble).filter(_ > 0))
      } catch { case _: Throwable => None }
      prevFsync.foreach { pf =>
        val ratio = fsyncRun / pf
        if (fsyncRun > 0 && ratio > 2.5)
          reasons += f"disk fsync probe $fsyncRun%.1fms is $ratio%.1fx the " +
            f"prior round's ($pf%.1fms in $file) -- micro-batches pay " +
            "checkpoint fsyncs per batch"
      }
    }
    val suspect = reasons.nonEmpty
    val partiallySuspect = suspectQueries.nonEmpty

    val ops = results.map { r =>
      val rps = if (r.sec > 0) r.inRows / r.sec else -1.0
      s""""${esc(r.name)}":{"in_rows":${r.inRows},"sec":${r.sec},""" +
        s""""rows_per_sec":$rps,"out_rows":${r.outRows},""" +
        s""""state_rows_max":${r.stateRows},"state_bytes_max":${r.stateBytes},""" +
        s""""batches":${r.batches},"probe":${r.probe}}"""
    }.mkString("{", ",", "}")
    val es = results.flatMap(r => r.err.map(e =>
      s""""${esc(r.name)}":"${esc(e)}"""")).mkString("{", ",", "}")
    val sq = suspectQueries
      .map(r => s""""${esc(r.name)}":${r.probe / probeMedian}""")
      .mkString("{", ",", "}")
    val rs = reasons.map(r => s""""${esc(r)}"""").mkString("[", ",", "]")
    val total = results.map(_.sec).filter(_ >= 0).sum
    val pvp = (prevAnchor, probeVsPrev) match {
      case (Some((file, prevMed, prevSusp, prevPar)), Some(ratio)) =>
        val par = (prevPar, probeParVsPrev) match {
          case (Some(pp), Some(pr)) =>
            s""","prev_probe_par_sec":$pp,"par_ratio":$pr"""
          case _ => ""
        }
        s""""probe_vs_prev":{"prev_file":"${esc(file)}",""" +
          s""""prev_probe_median_sec":$prevMed,"prev_suspect":$prevSusp,""" +
          s""""ratio":$ratio$par},"""
      case _ => s""""probe_vs_prev":null,"""
    }
    val env = s"""{"load_start":"${esc(loadStart)}","load_end":"${esc(loadEnd)}",""" +
      s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
      s""""probe_median_sec":$probeMedian,""" +
      s""""probe_par_start_sec":$probeParStart,"probe_par_end_sec":$probeParEnd,""" +
      s""""probe_par_sec":$probePar,""" +
      s""""fsync_ms_start":$fsyncStart,"fsync_ms_end":$fsyncEnd,""" +
      s""""fsync_ms_run":$fsyncRun,""" + pvp +
      s""""gc_count":$gcCount,"gc_ms":$gcMs,"cpus":$cpus,""" +
      Bench.codeCacheJson() + "," +
      s""""git_sha":"${esc(Bench.gitSha())}","micro_batches":$nBatches,""" +
      s""""shuffle_partitions":$shufflePartsNow}"""
    // regime label: "micro16"-style fixed-round-dominated runs vs
    // "bulk"-batch throughput runs (VERDICT r11 item 4 — the
    // STREAMBENCH artifact carries BOTH, one JSON line each)
    val json = s"""{"metric":"stream_total","value":$total,"unit":"sec",""" +
      s""""regime":"${esc(regimeNow)}",""" +
      (if (twins.isEmpty) "" else twins.map { case (n, first, late, pb) =>
        s""""${esc(n)}":{"first":$first,"late":$late,"probe_before_late":$pb}"""
      }.mkString("\"twins\":{", ",", "},")) +
      s""""operators":$ops,"suspect":$suspect,""" +
      s""""partially_suspect":$partiallySuspect,"suspect_queries":$sq,""" +
      s""""suspect_reasons":$rs,"env":$env,"errors":$es,"sf":"${esc(sfDir)}"}"""
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "streambench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"streambench_out write failed: ${e.getMessage}") }
    spark.stop()
  }
}
