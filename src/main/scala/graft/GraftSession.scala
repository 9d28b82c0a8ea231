package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * Spark-first analog of the reference's job wiring
  * (ref: examples/TestBAM.java:70-90 configures a Hadoop Job; here the
  * equivalent "engine setup" is a SparkSession with the graft Catalyst
  * extensions installed and scale-appropriate shuffle defaults).
  */
object GraftSession {

  /** Build a local session. `cpus` drives both parallelism and the
    * shuffle-partition count (a 1000-executor cluster would instead set
    * spark.sql.shuffle.partitions ~ 2-3x total cores and lean on AQE
    * coalescing, which is enabled here for exactly that reason).
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()

  /** `local`'s settings on any builder.  Besides the SQL defaults it
    * installs graft's `file:` file system (`sources.GraftLocalFs`:
    * Hadoop's local file system with `chmod` and `readlink` done
    * in-process) on both Hadoop APIs; other schemes are untouched. */
  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder = b
    .appName("graft")
    .config(sources.GraftLocalFs.Settings.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.parquet.compression.codec", "zstd")
    // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
    // type for; surface it as BIGINT nanoseconds (time math then runs in
    // exact integer µs/ns — see Relational.qSessionize).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .withExtensions(new GraftExtensions)

  /** Attach graft's SQL functions to an EXISTING session (tests,
    * notebooks).  NOTE the asymmetry (ADVICE r1): Catalyst optimizer
    * rules (plans.RangeJoinRule) cannot be injected into an
    * already-built session — naive overlap joins will run unrewritten
    * here.  Build via [[local]]/[[configure]] (or
    * `--conf spark.sql.extensions=graft.GraftExtensions`) to get the
    * full engine; a warning is logged to make the difference visible.
    */
  def register(spark: SparkSession): SparkSession = {
    functions.GraftFunctions.registerAll(spark)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      "graft: register() adds SQL functions only; optimizer rules " +
        "(RangeJoinRule) require GraftSession.local()/configure or " +
        "spark.sql.extensions=graft.GraftExtensions")
    spark
  }
}

/** Loaders for the shared benchmark tables. One parquet dir per table;
  * at 100 TB these would be partitioned directories — the loader is the
  * single place that changes.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** The events table's `ts` has shipped as both TIMESTAMP(NANOS)
    * (surfaced as BIGINT nanos via nanosAsLong) and timestamp[us]
    * (surfaced as TIMESTAMP_NTZ). Normalize to BIGINT epoch NANOS here
    * — every consumer does exact integer time math (`ts DIV 1000` →
    * µs), and the DuckDB oracles' `epoch_us(ts)` agrees with
    * `ts_nanos DIV 1000` regardless of session timezone: the NTZ path
    * uses timestampdiff from the NTZ epoch (timezone-free by
    * construction — ADVICE r9), and the LTZ path uses unix_micros
    * (instant-based, timezone-free). Any other physical type is schema
    * drift and fails loudly instead of being silently misread. One
    * load-boundary cast; scans still prune columns and the cast is
    * codegen'd scan-local. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType => df.withColumn(
        "ts", expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) * 1000L"))
      case TimestampType => df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case other => throw new IllegalArgumentException(
        s"events.ts: expected BIGINT nanos, TIMESTAMP or TIMESTAMP_NTZ, got $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
