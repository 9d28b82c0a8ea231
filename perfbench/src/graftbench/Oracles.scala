package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

import graft.streaming.{Sessionize, StreamNearDedup}

/** Brute-force reference answers for stream operators whose module has
  * no batch form. */
object Oracles {
  /** Row of the z-order sink input (top level so Spark derives its encoder). */
  final case class ZRow(doc_id: Long, n_chars: Long, n_tok: Long)

  /** Earliest (ts, doc_id) neighbor at simhash hamming distance <= 2
    * within the horizon, per doc, from the operator's own signature
    * expression. */
  def nearDup(spark: SparkSession, docs: Seq[StreamNearDedup.Doc],
              horizonUs: Long): Map[Long, (Long, Int)] = {
    import spark.implicits._
    val sigs = docs.toDF("doc_id", "text", "ts_us")
      .withColumn("sig", expr(graft.BenchAccess.simhashExpr))
      .select("doc_id", "ts_us", "sig").as[(Long, Long, Long)].collect()
      .sortBy(r => (r._2, r._1))
    sigs.zipWithIndex.flatMap { case ((id, ts, sig), i) =>
      var best: (Long, Long, Long) = null
      var j = i - 1
      while (j >= 0 && sigs(j)._2 >= ts - horizonUs) {
        val c = sigs(j)
        if (java.lang.Long.bitCount(c._3 ^ sig) <= 2 &&
          (best == null || c._2 < best._2 || (c._2 == best._2 && c._1 < best._1))) best = c
        j -= 1
      }
      Option(best).map(b => id -> (b._1, java.lang.Long.bitCount(b._3 ^ sig)))
    }.toMap
  }

  /** Sessions split where the gap between a user's consecutive events
    * exceeds `gapSec`, accumulated in (ts, value) order. */
  def sessions(events: Seq[Sessionize.Event], gapSec: Long): Seq[Sessionize.Session] = {
    val gapUs = gapSec * 1000000L
    events.groupBy(_.user_id).toSeq.flatMap { case (user, evs) =>
      val sorted = evs.sortBy(e => (e.ts_us, e.value))
      val out = scala.collection.mutable.ArrayBuffer[Sessionize.Session]()
      var start = sorted.head.ts_us
      var end = start
      var n = 1L
      var total = sorted.head.value
      sorted.tail.foreach { e =>
        if (e.ts_us - end > gapUs) {
          out += Sessionize.Session(user, start, end, n, total)
          start = e.ts_us; end = e.ts_us; n = 1; total = e.value
        } else { end = math.max(end, e.ts_us); n += 1; total += e.value }
      }
      out += Sessionize.Session(user, start, end, n, total)
      out
    }.sortBy(s => (s.user_id, s.session_start_us))
  }
}
