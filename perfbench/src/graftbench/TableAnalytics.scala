package graftbench

import org.apache.spark.sql.SparkSession

/** graft's table side in one JVM: each round runs the query catalog's
  * keys, then the stream replays, over the same test tables. Both share
  * the session, the table loading and the Spark SQL warm-up, which as
  * two workloads each run paid for again. The unit op a user waits on is
  * a query or a micro-batch. */
final class TableAnalytics(queries: QueryCatalog, streams: StreamReplay) extends Workload {
  def prepare(spark: SparkSession): Unit = { queries.prepare(spark); streams.prepare(spark) }
  def warmup(spark: SparkSession): Unit = queries.warmup(spark)
  def round(spark: SparkSession, rec: Recorder): Unit = { queries.round(spark, rec); streams.round(spark, rec) }

  def opLatenciesMs(rec: Recorder): Seq[Double] = queries.opLatenciesMs(rec) ++ streams.opLatenciesMs(rec)

  /** Queries and micro-batches completed per second of their time. */
  def throughput(rec: Recorder): Double = {
    val ms = opLatenciesMs(rec)
    if (ms.nonEmpty) ms.size / (ms.sum / 1e3) else 0.0
  }

  def figures(rec: Recorder): Seq[(String, Double, String)] = queries.figures(rec) ++ streams.figures(rec)
  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = queries.layers(spans) ++ streams.layers(spans)
  def inputSizes: Seq[(String, Long)] = queries.inputSizes ++ streams.inputSizes
  override def extraJson: String = queries.extraJson + "," + streams.extraJson
}
