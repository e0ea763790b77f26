package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result file (numbers, strings,
  * sequences and maps; nothing else is ever written). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** One traced interval. `parent` and `req` link it to the operation it
  * belongs to; times are epoch milliseconds with sub-ms precision. */
final case class Span(id: String, name: String, startMs: Double, endMs: Double,
                      parent: String, req: String)

/** Span recorder. Spans stay in memory and are written once, at exit.
  * With tracing off every call is a no-op apart from running `body`. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def newId(prefix: String): String = s"$prefix#${ids.incrementAndGet()}"

  def record(name: String, startMs: Double, endMs: Double,
             parent: String = null, req: String = null, id: String = null): Unit =
    if (enabled) spans.add(Span(Option(id).getOrElse(newId(name)), name,
      startMs, endMs, parent, req))

  /** Time `body` as span `name`; the span id is passed to `body` so
    * callers can hang child spans (or Spark jobs) under it. */
  def span[T](name: String, parent: String = null, req: String = null)
             (body: String => T): T = {
    val id = newId(name)
    val t0 = Tracer.nowMs
    try body(id) finally record(name, t0, Tracer.nowMs, parent, req, id)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s =>
      w.write(Json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "req" -> s.req)))
      w.write('\n')
    } finally w.close()
  }
}

object Tracer {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  /** Wall clock with nanoTime resolution (currentTimeMillis granularity
    * would quantise sub-ms dashboard calls). */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Local property naming the span under which a thread's Spark jobs
    * run; the task listener keys job cost by it. */
  val SpanProp = "perfbench.span"

  def underSpan[T](sc: SparkContext, spanId: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, spanId)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }
}

/** Executor-side cost per tag, from Spark's public listener events.
  * A job's tag is its `perfbench.span` local property (else its job
  * group, else "untagged"); tags are reduced to a key by `keyOf` (e.g.
  * "export" for every export batch). Registered in traced runs only. */
final class TaskCost(tracer: Tracer, keyOf: String => String) extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
    val runMs = new AtomicLong(); val mapRunMs = new AtomicLong(); val resultRunMs = new AtomicLong()
    val gcMs = new AtomicLong(); val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
    val recordsWritten = new AtomicLong()
    val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()
  }
  val byKey = new ConcurrentHashMap[String, Acc]()
  private def acc(k: String) = byKey.computeIfAbsent(k, _ => new Acc)
  private val stageKey = new ConcurrentHashMap[Integer, String]()
  private val jobStart = new ConcurrentHashMap[Integer, (Double, String)]()
  val total = new Acc

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanProp))
      .orElse(Option(pp.getProperty("spark.jobGroup.id"))))
      .getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    val k = keyOf(tag)
    acc(k).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
    jobStart.put(e.jobId, (Tracer.nowMs, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, tag) =>
      tracer.record("scheduler.job", t0, Tracer.nowMs, parent = tag, req = tag)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageKey.get(e.stageInfo.stageId)).foreach(k => acc(k).stages.incrementAndGet())
    total.stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val k = Option(stageKey.get(e.stageId)).getOrElse("untagged")
    val isMap = e.taskType == "ShuffleMapTask"
    Seq(acc(k), total).foreach { a =>
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      (if (isMap) a.mapRunMs else a.resultRunMs).addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
    acc(k).taskMs.add(e.taskInfo.duration)
  }

  def summary(a: Acc): Map[String, Any] = {
    val ts = a.taskMs.asScala.map(_.longValue).toSeq.sorted
    val skew =
      if (ts.size < 2) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    Map("jobs" -> a.jobs.get, "stages" -> a.stages.get, "tasks" -> a.tasks.get,
      "run_ms" -> a.runMs.get, "map_run_ms" -> a.mapRunMs.get,
      "result_run_ms" -> a.resultRunMs.get, "gc_ms" -> a.gcMs.get,
      "shuffle_write_bytes" -> a.shuffleWrite.get, "spill_bytes" -> a.spill.get,
      "records_written" -> a.recordsWritten.get, "task_skew" -> skew)
  }

  def summaries: Map[String, Map[String, Any]] =
    byKey.asScala.map { case (k, a) => k -> summary(a) }.toMap
}
