package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries._

/** One fixed key from each of eight `SparkEntry` query modules, in a
  * seed-permuted order, into the `noop` sink, once per round; every
  * execution runs in a fresh session, which is what a batch job pays.
  * A pass over the whole catalog (122 keys) takes minutes on a 4-core
  * host, far beyond one run's share of the benchmark's time budget, so
  * the run takes cheap relational, genomic, event and text keys plus two
  * media-dedup pipelines for the tail. Each key's execution in the last measured
  * round writes its result as parquet, untimed, for the DuckDB compare
  * against `SparkEntry.oracleSql` that run.py makes (warm by then, so
  * the extra execution costs the run least). */
final class QueryCatalog(seed: Long, tables: String, work: String) {
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame], String)] = Seq(
    ("Relational", Relational.queries, "q_groupby_key"), ("Genomic", Genomic.queries, "q_interval_filter"),
    ("Pipeline", Pipeline.queries, "q_dedup_exact"), ("Events", Events.queries, "q_session_stats"),
    ("Corpus", Corpus.queries, "q_repetition"), ("Quality", Quality.queries, "q_char_entropy"),
    ("ImageDedup", ImageDedup.queries, "q_image_dedup"), ("AudioDedup", AudioDedup.queries, "q_audio_dedup"))
  private val moduleOf = modules.map { case (m, _, k) => k -> m }.toMap
  private val fns = modules.map { case (_, qs, k) => k -> qs(k) }.toMap
  val order: Seq[String] = Main.shuffler(seed).shuffle(modules.map(_._3))
  /** Executions per key; one of each has its result on disk. */
  private val runs = mutable.LinkedHashMap[String, Int]()
  /** Query executions the listener saw, by the exec span that ran them. */
  private val execs = mutable.Map[Int, mutable.ArrayBuffer[QueryExecution]]()

  def inputSizes: Seq[(String, Long)] = Seq("keys" -> order.size.toLong) ++
    Seq("lineitem", "orders", "events", "documents", "embeddings").map { t =>
      s"$t.parquet_bytes" -> java.nio.file.Files.size(java.nio.file.Paths.get(tables, s"$t.parquet"))
    }

  def prepare(spark: SparkSession): Unit = {
    val sql = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "oracle_sql.json"),
      Json.obj(sql).getBytes("UTF-8"))
  }

  /** One fixed key. The JIT keeps speeding the keys up over several
    * passes; the first round pays most of that and is hardly ever a
    * key's fastest. */
  def warmup(spark: SparkSession): Unit =
    fns(modules.head._3)(spark.newSession(), tables).write.format("noop").mode("overwrite").save()

  def round(spark: SparkSession, rec: Recorder): Unit = order.foreach { key =>
    val s = spark.newSession()
    // the listener bus delivers these after the fact; each session runs
    // one key, so its buffer belongs to this key's exec span
    val seen = mutable.ArrayBuffer[QueryExecution]()
    if (rec.tracer.on) s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val capture = rec.round == Main.Rounds - 1
    runs(key) = runs.getOrElse(key, 0) + 1
    rec.op(s"queries.${moduleOf(key)}", 1L) {
      val df = rec.span("build")(fns(key)(s, tables))
      rec.span("exec") {
        if (rec.tracer.on) execs(rec.tracer.currentSpan) = seen
        df.write.format("noop").mode("overwrite").save()
      }
      df
    } { df =>
      if (capture) df.write.mode("overwrite").parquet(s"$work/results/$key")
      true
    }
    s.catalog.clearCache()
  }

  def extraJson: String =
    s""""checked":${runs.keys.map(Json.str).mkString("[", ",", "]")},""" +
      s""""key_ops":${runs.map { case (k, n) => s"${Json.str(k)}:$n" }.mkString("{", ",", "}")}"""

  def opLatenciesMs(rec: Recorder): Seq[Double] =
    rec.best.filter(o => o.ok && o.name.startsWith("queries.")).map(_.sec * 1e3)

  def figures(rec: Recorder): Seq[(String, Double, String)] = {
    val t = opLatenciesMs(rec).map(_ / 1e3)
    Seq(("query_p50_s", Main.quantile(t, 0.5), "s"), ("query_p90_s", Main.quantile(t, 0.9), "s"))
  }

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    import SpanMath._
    val kids = children(spans)
    // planning phases and exchange count of the one noop (V2) write
    // each exec span ran, attached to that span
    spans.filter(_.name == "exec").foreach { e =>
      execs.get(e.id).map(_.toSeq.filter(_.logical.isInstanceOf[V2WriteCommand])).foreach { qes =>
        e.attrs("plan_ms") = qes.map { qe =>
          val p = qe.tracker.phases
          Seq("analysis", "optimization", "planning").flatMap(p.get).map(_.durationMs).sum.toDouble
        }.sum
        e.attrs("exchanges") = qes.map(Exchanges.count).sum.toDouble
      }
    }
    val roots = spans.filter(s => s.parent == -1 && s.name.startsWith("queries."))
    def under(name: String) = roots.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == name))
    def jobs(s: Span) = kids.getOrElse(s.id, Nil).filter(_.name == "job")
    val build = under("build")
    val exec = under("exec")
    Seq(
      ("queries.build_ms", Main.median(build.map(sec)) * 1e3, "ms"),
      ("queries.build_jobs", build.map(jobs(_).size.toDouble).sum / math.max(1, build.size), "count"),
      ("queries.plan_ms", Main.median(exec.flatMap(_.attrs.get("plan_ms"))), "ms"),
      ("queries.driver_s", Main.median(exec.map(e => selfNs(e, jobs(e)) / 1e9)), "s"),
      ("queries.exec_s", Main.median(exec.map(sec)), "s"),
      ("queries.exchanges", Main.median(exec.flatMap(_.attrs.get("exchanges"))), "count")) ++
      modules.map { case (m, _, _) => (s"queries.$m.wall_s", medianS(spans, s"queries.$m"), "s") } ++
      SparkTotals(spans)
  }
}

object Exchanges extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
}
