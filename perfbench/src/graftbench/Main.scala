package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One finished benchmark operation of round `round`. `n` is the
  * records it handled; `ok` is false when it threw or its output check
  * failed. */
final case class OpResult(name: String, round: Int, startNs: Long, endNs: Long,
                          n: Long, ok: Boolean, err: String) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** Times operations and runs their output checks outside the timed
  * section. A thrown exception or a failed check is a failed op. */
final class Recorder(val tracer: Tracer, spark: SparkSession, corrupt: Boolean) {
  val ops = mutable.ArrayBuffer[OpResult]()
  /** Time spent in output checks; excluded from measured time. */
  var checkNs = 0L
  /** The round running now, and the rounds the metrics are taken from
    * (a traced round is not one of them). */
  var round = 0
  val measured = mutable.Set[Int]()

  /** Each op of a round at its fastest over the measured rounds. */
  def best: Seq[OpResult] = Main.bestOf(ops.toSeq.filter(o => measured(o.round)).map(o => o.round -> o))(_.sec)

  def op[T](name: String, n: Long = 0L)(timed: => T)(check: T => Boolean): Unit = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val res = try Right(tracer.op(sc, name)(timed)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    System.err.println(f"op $name%-32s ${(t1 - t0) / 1e9}%8.3f s ${if (res.isLeft) "FAILED" else ""}")
    res match {
      case Right(v) =>
        val c0 = System.nanoTime()
        val ok = try check(v) catch { case _: Throwable => false }
        checkNs += System.nanoTime() - c0
        tracer.opAttr("n", n.toDouble)
        tracer.opAttr("ok", if (ok) 1.0 else 0.0)
        ops += OpResult(name, round, t0, t1, n, ok, if (ok) "" else "wrong result")
      case Left(e) =>
        tracer.opAttr("ok", 0.0)
        ops += OpResult(name, round, t0, t1, n, ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    }
  }

  /** A span inside the current op (build/plan/exec, one batch). */
  def span[T](name: String)(body: => T): T = tracer.span(spark.sparkContext, name)(body)

  /** The output check. In the self-test's corrupt mode the program's
    * output is damaged first, so a check that cannot tell shows. */
  def same[T](got: T, want: T): Boolean = (if (corrupt) Corrupt(got) else got) == want
}

/** Damages a result the way a lost record would: one element fewer, or
  * a checksum off by one. */
object Corrupt {
  def apply[T](x: T): T = (x match {
    case (n: Long, s: Long) => (n, s + 1)
    case n: Long => n + 1
    case m: Map[_, _] => m.drop(1)
    case s: Seq[_] => s.drop(1)
    case other => other
  }).asInstanceOf[T]
}

/** A workload: inputs made from the seed, a warm-up, and a fixed
  * round of operations, run the same way in every round. */
trait Workload {
  /** Input generation inside the JVM (part of set-up). */
  def prepare(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def round(spark: SparkSession, rec: Recorder): Unit
  /** Latencies (ms) of the workload's unit operation, the one a user
    * waits on: a region read, a query, a micro-batch; each at its
    * fastest over the measured rounds. */
  def opLatenciesMs(rec: Recorder): Seq[Double]
  /** Work units (records, or queries) per second of op time, from the
    * ops at their best (`rec.best`). */
  def throughput(rec: Recorder): Double
  /** Workload-level figures, reported beside the per-layer metrics. */
  def figures(rec: Recorder): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced round's spans. */
  def layers(spans: Seq[Span]): Seq[(String, Double, String)]
  /** Sizes of the generated inputs, recorded as run context. */
  def inputSizes: Seq[(String, Long)]
  /** Workload-specific result fields (JSON members, may be empty). */
  def extraJson: String = ""
}

object Main {
  /** Measured rounds per run. The first one runs cold and is hardly
    * ever an op's fastest; the other two give each op a second chance
    * when a burst of load from other tenants of the host hits one. */
  val Rounds = 3

  /** Rounds run the same samples in the same order, so a sample is
    * known by its position in its round: each position at its fastest
    * over the rounds given. */
  def bestOf[T](samples: Seq[(Int, T)])(time: T => Double): Seq[T] =
    samples.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)).transpose.map(_.minBy(time))

  /** A shuffle source for `seed`. java.util.Random's first draws barely
    * differ between nearby seeds, so the seed is mixed first. */
  def shuffler(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val tiny = a.get("scale").contains("tiny")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmBootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl: Workload = workload match {
      case "genomics_io" => new GenomicsIO(seed, work, cpus, tiny)
      case "table_analytics" =>
        new TableAnalytics(new QueryCatalog(seed, a("inputs"), work), new StreamReplay(seed, a("inputs"), work))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, once and cold, as a batch job pays it: session start,
    // input generation and the workload's warm-up
    val setup0 = System.nanoTime()
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setup1 = System.nanoTime()
    wl.prepare(spark)
    val setup2 = System.nanoTime()
    wl.warmup(spark)
    val setup3 = System.nanoTime()
    val sessionS = (setup3 - setup0) / 1e9

    val tracer = new Tracer(traced)
    tracer.install(spark.sparkContext)
    val rec = new Recorder(tracer, spark, a.get("corrupt").contains("1"))
    val gc0 = gcMs()
    // a fixed number of rounds, so that faster code measures the same
    // work. A traced run adds a traced round and an untraced one after
    // them: the JIT still speeds rounds up, so the tracing overhead is
    // the traced round against the mean of the untraced rounds around it
    val roundWalls = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val rounds = if (traced) Rounds + 2 else Rounds
    (0 until rounds).foreach { i =>
      tracer.on = traced && i == Rounds
      if (i < Rounds) rec.measured += i
      rec.round = i
      val r0 = System.nanoTime()
      val c0 = rec.checkNs
      wl.round(spark, rec)
      (if (tracer.on) tracedWalls else roundWalls) +=
        (System.nanoTime() - r0 - (rec.checkNs - c0)) / 1e9
    }
    tracer.on = traced
    val gcTotal = gcMs() - gc0
    tracer.collectJobs(spark.sparkContext)

    val attempted = rec.ops.size
    val failed = rec.ops.count(!_.ok)
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    out("setup_s") = (jvmBootS + sessionS, "s")
    out("wall_s") = (rec.best.map(_.sec).sum, "s")
    out("peak_rss_mb") = (peakRssMb(), "MB")
    out("ok_frac") = ((attempted - failed).toDouble / math.max(1, attempted), "frac")
    val lat = wl.opLatenciesMs(rec)
    out("op_p50_ms") = (quantile(lat, 0.5), "ms")
    out("op_p90_ms") = (quantile(lat, 0.9), "ms")
    out("throughput_per_s") = (wl.throughput(rec), "1/s")

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    wl.figures(rec).foreach { case (k, v, u) => layers(k) = (v, u) }
    if (traced) {
      wl.layers(tracer.all).foreach { case (k, v, u) => layers(k) = (v, u) }
      val cc = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        .map(_.getUsage.getUsed).sum
      val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      layers("trace.overhead_s") = (tracedWalls.head - (roundWalls(Rounds - 1) + roundWalls(Rounds)) / 2, "s")
      layers("jvm.gc_ms") = (gcTotal.toDouble / rounds, "ms")
      layers("jvm.code_cache_mb") = (cc / 1048576.0, "MB")
      layers("jvm.heap_after_gc_mb") = (heapAfterGc / 1048576.0, "MB")
    }

    val failures = rec.ops.filterNot(_.ok).groupBy(_.name).map { case (k, v) =>
      k -> v.head.err }
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""attempted":$attempted,"failed":$failed,"""
    json ++= s""""round_walls_s":${roundWalls.mkString("[", ",", "]")},"""
    json ++= s""""best_ops":${rec.best.map(o => s"[${Json.str(o.name)},${o.sec}]").mkString("[", ",", "]")},"""
    json ++= s""""traced_round_walls_s":${tracedWalls.mkString("[", ",", "]")},"""
    json ++= s""""seconds":$seconds,"session_setup_s":$sessionS,"""
    json ++= s""""jvm_boot_s":$jvmBootS,"check_s":${rec.checkNs / 1e9},"""
    json ++= s""""setup_parts_s":{"session":${(setup1 - setup0) / 1e9},""" +
      s""""prepare":${(setup2 - setup1) / 1e9},"warmup":${(setup3 - setup2) / 1e9}},"""
    json ++= s""""metrics":${Json.metrics(out)},"layers":${Json.metrics(layers)},"""
    json ++= s""""failures":${Json.obj(failures.toSeq)},"""
    json ++= s""""inputs":${Json.obj(wl.inputSizes.map { case (k, v) => k -> v.toString })},"""
    json ++= s""""context":${Json.obj(Seq(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" "),
      "cpus" -> cpus.toString,
      "process_cpu_s" -> (ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9).toString))}"""
    if (wl.extraJson.nonEmpty) json ++= "," + wl.extraJson
    if (traced) json ++= s""","span_summary":${Json.summary(SpanMath.summary(tracer.all))},""" +
      s""""spans":${Json.spans(tracer.all)}"""
    json ++= "}"
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "result.json"),
      json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")

  def summary(m: Seq[(String, Int, Double, Double)]): String = m.map { case (name, n, total, self) =>
    s"""${str(name)}:{"count":$n,"total_s":${num(total)},"self_s":${num(self)}}"""
  }.mkString("{", ",", "}")

  def spans(ss: Seq[Span]): String = ss.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"op":${s.op},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"attrs":$attrs}"""
  }.mkString("[", ",", "]")
}
