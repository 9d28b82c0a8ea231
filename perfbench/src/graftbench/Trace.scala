package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is -1 for a root; `op` groups every span
  * that one benchmark operation caused. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      start: Long, end: Long,
                      attrs: mutable.LinkedHashMap[String, Double])

/** In-memory span recorder. Spans are opened only around calls into a
  * layer; Spark jobs and stages become child spans once the listener
  * bus has drained. While `on` is false every call is a plain
  * invocation and nothing is recorded; a traced run toggles it per
  * round so that traced and untraced rounds share one JVM. */
final class Tracer(val enabled: Boolean) {
  var on: Boolean = enabled
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, mutable.LinkedHashMap[String, Double])]()
  private var nextId = 0
  private var curOp = -1
  private val listener = new JobListener

  def all: Seq[Span] = spans.toSeq

  def install(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Run `body` as operation `name`; also the root span of the op. */
  def op[T](sc: SparkContext, name: String)(body: => T): T = {
    curOp = nextId
    span(sc, name)(body)
  }

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top._1
    val attrs = mutable.LinkedHashMap[String, Double]()
    stack.push((id, attrs))
    sc.setJobGroup(id.toString, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      if (stack.nonEmpty) sc.setJobGroup(stack.top._1.toString, name) else sc.clearJobGroup()
      spans += Span(id, parent, name, curOp, t0, t1, attrs)
    }
  }

  /** Attach a count or measurement to the innermost open span. */
  def attr(key: String, value: => Double): Unit = if (on && stack.nonEmpty) stack.top._2(key) = value

  /** Attach to the root span of the most recent op (after it closed). */
  def opAttr(key: String, value: Double): Unit =
    if (on) spans.find(_.id == curOp).foreach(_.attrs(key) = value)

  /** A span whose interval was measured elsewhere (a Spark job or stage). */
  def record(name: String, parent: Int, start: Long, end: Long,
             attrs: Map[String, Double] = Map.empty, op: Int = curOp): Int = {
    if (!on) return -1
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, op, start, end, mutable.LinkedHashMap(attrs.toSeq: _*))
    id
  }

  def currentSpan: Int = if (stack.isEmpty) -1 else stack.top._1

  /** Route jobs whose group is `group` (a streaming run id) to `spanId`. */
  def alias(group: String, spanId: Int): Unit = listener.aliases(group) = spanId

  /** Wait for the listener bus, then turn the jobs and stages it saw
    * into child spans of the span that started them. */
  def collectJobs(sc: SparkContext): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    listener.jobs.values.toSeq.sortBy(_.start).foreach { j =>
      val parent = j.group.flatMap(g => listener.aliases.get(g)
        .orElse(scala.util.Try(g.toInt).toOption)).flatMap(byId.get)
      parent.foreach { p =>
        val jobSpan = record("job", p.id, j.start, j.end, op = p.op)
        j.stages.flatMap(listener.stages.get).foreach { m =>
          record("stage", jobSpan, m.start, m.end, m.attrs, p.op)
        }
      }
    }
    listener.jobs.clear()
    listener.stages.clear()
  }
}

/** Job and stage bookkeeping fed by the listener bus thread. Wall
  * clock times are converted to the `nanoTime` base of the spans. */
final class JobListener extends SparkListener {
  final case class Job(group: Option[String], start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(start: Long, end: Long, attrs: Map[String, Double])

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val aliases = mutable.Map[String, Int]()
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(group, toNano(e.time), toNano(e.time), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = toNano(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val attrs = Map(
      "tasks" -> i.numTasks.toDouble,
      "run_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
      "cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
      "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
      "shuffle_read_mb" -> (if (m == null) 0.0 else
        (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead) / 1048576.0),
      "shuffle_write_mb" -> (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / 1048576.0),
      "spill_mb" -> (if (m == null) 0.0 else
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0))
    val start = i.submissionTime.getOrElse(0L)
    val end = i.completionTime.getOrElse(start)
    stages(i.stageId) = Stage(toNano(start), toNano(end), attrs)
  }
}

/** Self time and per-layer roll-ups over a finished span list. */
object SpanMath {
  /** Length of the union of `[s, e)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
    (span.end - span.start) - covered(clipped)
  }

  def children(spans: Seq[Span]): Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Per span name: count, total and self seconds. */
  def summary(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val kids = children(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.size, ss.map(sec).sum, ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil)) / 1e9).sum)
    }
  }

  def sec(s: Span): Double = (s.end - s.start) / 1e9

  /** Root spans of the ops named `name`. */
  def ops(spans: Seq[Span], name: String): Seq[Span] =
    spans.filter(s => s.parent == -1 && s.name == name)

  /** Median duration in seconds of the ops named `name`. */
  def medianS(spans: Seq[Span], name: String): Double = Main.median(ops(spans, name).map(sec))

  /** The children named `child` of the ops named `op`. */
  def inner(spans: Seq[Span], op: String, child: String): Seq[Span] = {
    val ids = ops(spans, op).map(_.id).toSet
    spans.filter(s => ids(s.parent) && s.name == child)
  }

  /** Every span under `root` (inclusive). */
  def subtree(root: Span, kids: Map[Int, Seq[Span]]): Seq[Span] =
    root +: kids.getOrElse(root.id, Nil).flatMap(subtree(_, kids))
}

/** Spark job, stage and task totals per traced op. */
object SparkTotals {
  def apply(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val stages = spans.filter(_.name == "stage")
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val roots = spans.filter(_.parent == -1)
    val n = math.max(1, roots.size).toDouble
    val wall = roots.map(SpanMath.sec).sum
    val cpus = Runtime.getRuntime.availableProcessors()
    Seq(
      ("spark.jobs", spans.count(_.name == "job") / n, "count"),
      ("spark.stages", stages.size / n, "count"),
      ("spark.tasks", sum("tasks") / n, "count"),
      ("spark.task_cpu_s", sum("cpu_s") / n, "s"),
      ("spark.task_run_s", sum("run_s") / n, "s"),
      ("spark.cores_busy_frac", if (wall > 0) sum("run_s") / (wall * cpus) else 0.0, "frac"),
      ("spark.shuffle_read_mb", sum("shuffle_read_mb") / n, "MB"),
      ("spark.shuffle_write_mb", sum("shuffle_write_mb") / n, "MB"),
      ("spark.spill_mb", sum("spill_mb") / n, "MB"))
  }
}
