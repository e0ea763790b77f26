package perfbench

import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** What a workload run hands back: named raw series and scalars for
  * `metrics.py` to reduce, plus the failures it counted. */
final class Result {
  private val values = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private val errors = new ConcurrentLinkedQueue[String]()
  @volatile var attempted: Long = 0L

  def put(k: String, v: Any): Unit = values.put(k, v)
  def fail(cause: String): Unit = { errors.add(cause); System.err.println(s"[perfbench] FAILED: $cause") }
  def failures: Seq[String] = errors.asScala.toSeq

  def json(extra: Map[String, Any]): String =
    Json(values.asScala.toMap ++ extra ++ Map(
      "attempted" -> attempted, "failed" -> errors.size, "errors" -> failures))
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, nproc: Int,
                     tracer: Tracer, tmp: java.io.File, data: java.io.File, res: Result) {
  @volatile var firstOpMs: Double = -1.0
  /** Marks the first timed operation: set-up ends here. */
  def startTimed(): Double = { val t = Tracer.nowMs; firstOpMs = t; t }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --out DIR --data DIR`. Writes DIR/result.json (and
  * DIR/spans.jsonl when tracing); exits non-zero only when the harness
  * itself broke. `--data` holds fixed generated inputs kept across runs. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "live_clickstream" -> Live.run,
    "batch_registry" -> Registry.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val out = new java.io.File(opts("out"))
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(opts.getOrElse("trace", "0") == "1")
    val steal0 = graft.BoxLoad.stealSnap()
    val load0 = graft.BoxLoad.loadavg1m()

    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", new java.io.File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getPath)
    workload match {
      // the registry runs with the program's planner extensions, as the
      // registry bench does
      case "batch_registry" => b.config("spark.sql.extensions", "graft.GraftExtensions")
      // the integrated demo's scheduler: one internally FAIR pool, so a
      // dashboard render need not queue behind a whole refresh
      case "live_clickstream" => b.config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", fairPool(tmp).getPath)
      case _ =>
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val res = new Result
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, nproc, tracer, tmp,
      new java.io.File(opts("data")), res)
    try run(ctx)
    catch { case e: Throwable => res.fail(s"harness: $e"); e.printStackTrace() }
    spark.stop()

    // teardown check: the workload stopped its queries, server and
    // threads, and spark.stop() ended the state-store maintenance, so
    // no benchmark or Spark thread may still run and the run's temp
    // trees can go
    val live = Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.isAlive && t != Thread.currentThread() && !t.isDaemon &&
        !Set("DestroyJavaVM", "process reaper").exists(t.getName.startsWith))
    if (live.nonEmpty) res.fail(s"teardown: live threads ${live.map(_.getName).mkString(",")}")
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach(graft.sources.VersionedStore.deleteRecursive)
    val left = Option(tmp.listFiles()).map(_.length).getOrElse(0)
    if (left > 0) res.fail(s"teardown: $left temp entries left")

    if (tracer.enabled) tracer.write(new java.io.File(out, "spans.jsonl").toPath)
    val extra = Map[String, Any](
      "workload" -> workload, "nproc" -> nproc, "traced" -> tracer.enabled,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "first_op_ms" -> ctx.firstOpMs, "rss_peak_kb" -> rssPeakKb,
      "steal_pct" -> graft.BoxLoad.stealPctSince(steal0),
      "loadavg_1m" -> Seq(load0, graft.BoxLoad.loadavg1m()))
    java.nio.file.Files.write(new java.io.File(out, "result.json").toPath,
      res.json(extra).getBytes("UTF-8"))
    System.exit(0)
  }

  private def fairPool(dir: java.io.File): java.io.File = {
    val f = new java.io.File(dir, "fair-pool.xml")
    java.nio.file.Files.write(f.toPath,
      ("""<?xml version="1.0"?><allocations><pool name="default">""" +
        "<schedulingMode>FAIR</schedulingMode><weight>1</weight><minShare>0</minShare>" +
        "</pool></allocations>").getBytes("UTF-8"))
    f
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  private def rssPeakKb: Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }
}
