package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** One timed interval of benchmark code around a public call or an action.
  * `unit` is the iteration or batch it belongs to (-1: not measured). */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
    val unit: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Wall-clock (epoch ms) intervals of the Spark jobs submitted under this span. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = counters(k) = math.max(counters.getOrElse(k, 0.0), v)
}

/** Spans recorded by the benchmark around its calls into each layer, with
  * Spark's listener counters attributed to the innermost span. Disabled, a
  * span only runs its body: no listener is installed and nothing is timed. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val DescriptionProp = "spark.job.description"
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** The unit that spans opened from now on belong to. */
  var unit: Int = -1

  private def current: Option[Span] = lock.synchronized(open.headOption)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = lock.synchronized {
        val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, layer,
          unit, System.nanoTime(), System.currentTimeMillis())
        spans += s
        open = s :: open
        s
      }
      val prevSpan = sc.getLocalProperty(SpanProp)
      val prevDesc = sc.getLocalProperty(DescriptionProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      sc.setJobDescription(s"$name #${s.unit}")
      try body
      finally {
        s.endNs = System.nanoTime()
        // events this span caused are attributed before it closes
        org.apache.spark.perfbench.Bus.drain(sc)
        lock.synchronized { open = open.tail }
        sc.setLocalProperty(SpanProp, prevSpan)
        sc.setLocalProperty(DescriptionProp, prevDesc)
      }
    }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(id => lock.synchronized(spans(id.toInt)))

  private final class Listener extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Span]
    private val jobStart = mutable.Map.empty[Int, (Span, Long)]
    private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      lock.synchronized {
        jobStart(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
        s.add("jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => s.jobs += ((t0, e.time)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.add("tasks", 1)
        if (e.reason != org.apache.spark.Success) s.add("failed_tasks", 1)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.add("job_task_s", m.executorRunTime / 1e3)
          s.add("executor_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val id = e.stageInfo.stageId
      for (s <- stageSpan.get(id); ts <- taskTimes.remove(id) if ts.nonEmpty) {
        val sorted = ts.sorted
        val median = math.max(sorted(sorted.length / 2), 1L)
        s.max("task_skew", sorted.last.toDouble / median)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val stored = b.storageLevel.isValid && (b.blockId match {
        case _: RDDBlockId | _: BroadcastBlockId => true
        case _ => false
      })
      if (stored) current.foreach(s =>
        lock.synchronized(s.add("block_bytes_stored", (b.memSize + b.diskSize).toDouble)))
    }
  }

  private final class QueryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = current.foreach { s =>
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
      lock.synchronized {
        s.add("actions", 1)
        s.add("planning_s", planningMs / 1e3)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(new Listener)
    spark.listenerManager.register(new QueryListener)
  }

  /** Wall time of `s` not covered by its children. */
  private def selfSeconds(s: Span, children: Map[Int, Seq[Span]]): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Per-layer metrics: for each measured unit, the sum over its spans,
    * reported as the median over units. `names` maps a metric to the span
    * name whose durations it sums. */
  def layerMetrics(names: Map[String, String]): Map[String, Double] = lock.synchronized {
    val measured = spans.filter(s => s.unit >= 0 && s.endNs > 0)
    val children = measured.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val byUnit = measured.groupBy(_.unit)
    def perUnit(f: Seq[Span] => Double): Double =
      if (byUnit.isEmpty) 0.0 else Stats.median(byUnit.values.map(ss => f(ss.toSeq)).toSeq)
    def counter(k: String)(ss: Seq[Span]) = ss.map(_.counters.getOrElse(k, 0.0)).sum
    def calls(name: String)(ss: Seq[Span]) = ss.filter(_.name == name).map(_.seconds).sum
    def driverOnly(ss: Seq[Span]): Double = ss.filter(_.parent < 0).map { root =>
      val ivs = ss.flatMap(_.jobs)
        .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      for ((a, b) <- ivs) {
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      root.seconds - covered / 1e3
    }.sum
    def selfOf(layer: String)(ss: Seq[Span]) =
      ss.filter(_.layer == layer).map(selfSeconds(_, children)).sum
    val spark = Seq("actions", "jobs", "tasks", "planning_s", "executor_cpu_s", "gc_s",
      "shuffle_bytes", "fetch_wait_s", "spill_bytes", "input_bytes", "block_bytes_stored",
      "failed_tasks").map(k => s"spark.$k" -> perUnit(counter(k))).toMap ++ Map(
      "spark.job_s" -> perUnit(counter("job_task_s")),
      "spark.driver_only_s" -> perUnit(driverOnly),
      "spark.task_skew" -> perUnit(ss => ss.map(_.counters.getOrElse("task_skew", 0.0))
        .foldLeft(0.0)(math.max)))
    val timed = names.map { case (metric, spanName) => metric -> perUnit(calls(spanName)) }
    val selfs = measured.map(_.layer).distinct.map(l => s"$l.self_s" -> perUnit(selfOf(l)))
    spark ++ timed ++ selfs
  }

  /** Writes every span as one JSON object per line. */
  def writeJsonLines(file: File): Unit = lock.synchronized {
    file.getParentFile.mkdirs()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val children = spans.filter(_.endNs > 0).groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val out = new PrintWriter(file, "UTF-8")
    try spans.filter(_.endNs > 0).foreach { s =>
      out.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "unit" -> s.unit, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> selfSeconds(s, children),
        "counters" -> s.counters.toSeq.sortBy(_._1))))
    } finally out.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for flat results and span records. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      d.toString
    case kvs: Seq[_] => obj(kvs.asInstanceOf[Seq[(String, Any)]])
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
