package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming._

/** The test tables' documents, in a seed-permuted arrival order, and
  * events replayed through `MemoryStream` in event-time order, in fixed micro-batches with `processAllAvailable()`
  * after each, through four streaming operators: exact dedup, simhash
  * near-dedup, sessionization and the z-ordered parquet sink. Each
  * operator's output is compared with its batch form (or a brute-force
  * oracle where its module has none) after the timed section. */
final class StreamReplay(seed: Long, tables: String, work: String) {
  /** Data batches per operator without a watermark mover. Operators that
    * need one take a single data batch and the mover batch, so state
    * still crosses a batch commit; the run's time budget allows no more. */
  private val nBatches = 2
  private val min_ = 60L * 1000000L
  private val base = 1700000000000000L
  private var docs: Seq[(Long, String, Long)] = _
  private var events: Seq[Sessionize.Event] = _
  private var qid = 0
  /** Client-side wall time of every micro-batch (addData +
    * processAllAvailable), with the round that ran it. */
  private val batchMs = mutable.ArrayBuffer[(Int, Double)]()
  /** Reference answers, computed once: every round feeds the same inputs. */
  private val wants = mutable.Map[String, Any]()
  private def want[T](key: String)(answer: => T): T = wants.getOrElseUpdate(key, answer).asInstanceOf[T]

  def inputSizes: Seq[(String, Long)] = Seq("documents" -> docs.size.toLong,
    "events" -> events.size.toLong,
    "batches_per_operator" -> nBatches.toLong)

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    // one document per second of event time, in a seeded order
    val byId = graft.Tables.documents(spark, tables).orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    docs = Main.shuffler(seed).shuffle(byId).zipWithIndex
      .map { case ((id, t), i) => (id, t, base + i * 1000000L) }
    events = graft.Tables.events(spark, tables)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"), col("value").cast("double").as("value"))
      .orderBy("ts_us", "user_id").as[Sessionize.Event].collect().toSeq
  }

  /** Feed `data` in micro-batches then `movers` (one batch each),
    * timing each batch as a span carrying its progress. */
  private def drive[A: Encoder](spark: SparkSession, rec: Recorder, data: Seq[A], movers: Seq[A])(
      start: Dataset[A] => StreamingQuery): Unit = {
    val batches = if (movers.isEmpty) nBatches else 1
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[A]
    val q = start(mem.toDS())
    if (rec.tracer.on) rec.tracer.alias(q.runId.toString, rec.tracer.currentSpan)
    try {
      val slice = math.max(1, (data.size + batches - 1) / batches)
      (data.grouped(slice).toSeq ++ movers.map(Seq(_))).foreach { b =>
        val seen = q.recentProgress.length
        val t0 = System.nanoTime()
        rec.span("batch") {
          mem.addData(b: _*)
          q.processAllAvailable()
          val ps = q.recentProgress.drop(seen)
          def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
          rec.tracer.attr("rows", b.size)
          rec.tracer.attr("plan_ms", d("queryPlanning"))
          rec.tracer.attr("commit_ms", d("walCommit") + d("commitOffsets"))
          rec.tracer.attr("exec_ms", d("addBatch"))
          rec.tracer.attr("state_rows", ps.map(_.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max))
          rec.tracer.attr("state_mb",
            ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max) / 1048576.0)
        }
        batchMs += rec.round -> (System.nanoTime() - t0) / 1e6
      }
    } finally q.stop()
  }

  /** Start `df` into a fresh in-memory table; returns the table name. */
  private def memorySink(df: DataFrame, table: String): StreamingQuery =
    df.writeStream.format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", s"$work/ckpt/$table").start()

  def round(spark: SparkSession, rec: Recorder): Unit = {
    import spark.implicits._
    val farDoc = docs.last._3 + 1000L * min_
    val farEv = events.last.ts_us + 10000L * min_
    def sink(name: String) = { qid += 1; s"${name}_$qid" }

    // exact dedup: keep-list equals the batch exact-dedup oracle
    val dedupIn = docs.map(d => StreamDedup.Doc(d._1, d._2, d._3))
    rec.op("streaming.stream_dedup", dedupIn.size) {
      val t = sink("dedup")
      drive(spark, rec, dedupIn, Nil)(ds => memorySink(StreamDedup.firstSeen(ds, 1L << 40).toDF(), t))
      t
    } { t =>
      rec.same(spark.table(t).as[StreamDedup.DedupOut].collect().filter(_.kind == "first")
        .map(o => (o.h, o.doc_id)).sorted.toSeq,
        want("dedup")(StreamDedup.batchFirsts(spark.createDataset(dedupIn)).collect()
          .map(o => (o.h, o.doc_id)).sorted.toSeq))
    }

    // near-dup: global assignments equal a brute-force simhash oracle
    val nearIn = docs.map(d => StreamNearDedup.Doc(d._1, d._2, d._3))
    val horizon = 30 * min_
    rec.op("streaming.stream_near_dedup", nearIn.size) {
      val t = sink("near")
      drive(spark, rec, nearIn, Seq(StreamNearDedup.Doc(999999901L, "mover one", farDoc)))(
        ds => memorySink(StreamNearDedup.bandMatches(ds, horizon).toDF(), t))
      t
    } { t =>
      rec.same(StreamNearDedup.assignments(spark.table(t)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap,
        want("near")(Oracles.nearDup(spark, nearIn, horizon)))
    }

    // sessions: brute-force gap split per user over the same events
    val gapSec = 1800L
    rec.op("streaming.stream_sessionize", events.size) {
      val t = sink("sess")
      drive(spark, rec, events,
        Seq(Sessionize.Event(999999911L, farEv, 0.0)))(
        ds => memorySink(Sessionize.sessions(ds, gapSec).toDF(), t))
      t
    } { t =>
      rec.same(spark.table(t).as[Sessionize.Session].collect().filter(_.user_id != 999999911L).toSeq
        .sortBy(s => (s.user_id, s.session_start_us)), want("sessions")(Oracles.sessions(events, gapSec)))
    }

    // z-ordered parquet sink: the rows read back are the rows written
    val zIn = docs.map(d => Oracles.ZRow(d._1, d._2.length.toLong, d._2.split(' ').count(_.nonEmpty).toLong))
    rec.op("streaming.stream_zorder_sink", zIn.size) {
      val t = sink("zorder")
      drive(spark, rec, zIn, Nil)(ds =>
        graft.operators.Zorder.zOrderedSink(ds.toDF(), Seq("n_chars", "n_tok"), s"$work/$t",
          filesPerBatch = 2, blockKiB = 128)
          .option("checkpointLocation", s"$work/ckpt/$t").start())
      t
    } { t =>
      val key = (r: Oracles.ZRow) => (r.doc_id, r.n_chars, r.n_tok)
      rec.same(spark.read.parquet(s"$work/$t").as[Oracles.ZRow].collect().sortBy(key).toSeq, zIn.sortBy(key))
    }
  }

  def opLatenciesMs(rec: Recorder): Seq[Double] =
    Main.bestOf(batchMs.toSeq.filter(b => rec.measured(b._1)))(identity)

  def extraJson: String = s""""batch_ms":${batchMs.map(_._2).mkString("[", ",", "]")}"""

  def throughput(rec: Recorder): Double = {
    val ops = rec.best.filter(o => o.ok && o.name.startsWith("streaming."))
    val t = ops.map(_.sec).sum
    if (t > 0) ops.map(_.n).sum / t else 0.0
  }

  def figures(rec: Recorder): Seq[(String, Double, String)] = {
    val ms = opLatenciesMs(rec)
    Seq(("stream_rec_per_s", throughput(rec), "rec/s"),
      ("batch_p50_ms", Main.quantile(ms, 0.5), "ms"),
      ("batch_p90_ms", Main.quantile(ms, 0.9), "ms"))
  }

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    import SpanMath._
    val batches = spans.filter(_.name == "batch")
    def med(k: String) = Main.median(batches.flatMap(_.attrs.get(k)))
    val perOp = StreamReplay.Ops.map { op =>
      val ss = ops(spans, s"streaming.$op")
      val rate = ss.map(_.attrs.getOrElse("n", 0.0)).sum / math.max(1e-9, ss.map(sec).sum)
      (s"streaming.$op.rec_per_s", rate, "rec/s")
    }
    Seq(
      ("streaming.plan_ms", med("plan_ms"), "ms"),
      ("streaming.commit_ms", med("commit_ms"), "ms"),
      ("streaming.exec_ms", med("exec_ms"), "ms"),
      ("streaming.state_rows_max", batches.flatMap(_.attrs.get("state_rows")).foldLeft(0.0)(math.max), "rows"),
      ("streaming.state_mb_max", batches.flatMap(_.attrs.get("state_mb")).foldLeft(0.0)(math.max), "MB"),
      ("streaming.batches", batches.size.toDouble / math.max(1, ops(spans, "streaming.stream_dedup").size),
        "count")) ++ perOp ++ SparkTotals(spans)
  }
}

object StreamReplay {
  val Ops = Seq("stream_dedup", "stream_near_dedup", "stream_sessionize", "stream_zorder_sink")
}
