package perfbench

import graft.server.QueryServer
import graft.streaming.{Retention, StreamingViews}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

/** live_clickstream: every leg of the reference's `run.sh` mode at
  * once, open loop. A feeder lands one reference-second of traffic per
  * wall-second; the hot path exports session openers; a second query
  * appends every event to a minute-partitioned events store, which is
  * the serving tier's data directory; the per-second view query runs;
  * retention trims the store to 180 s; `nproc` dashboards poll the
  * reference's six calls at 1 Hz over HTTP while a refresher rebuilds
  * the serving generation back to back. */
object Live {
  val EventsPerSec = 1000
  val HistorySec = 180
  /** Seconds of history pre-filled in set-up: a minute more than
    * retention keeps, so the store starts at its steady-state size (180
    * to 240 s) and the pass at the window start has a whole aged-out
    * minute to drop. */
  val PrefillSec = HistorySec + 60
  val WarmSec = 10
  val RetentionEverySec = 30
  val MaxFilesPerTrigger = 16
  val RefreshGroup = "perfbench-refresh"

  /** The dashboard's 1 Hz call set and the rows each answer must carry
    * (min, max): top-10 lists are full at this rate, every scored event
    * lands in one of the 20 clusters, and @Statistics lists the five
    * procedures. */
  val Calls: Seq[(String, String, Int, Int)] = Seq(
    ("GetTopUsers", "[60,10]", 10, 10),
    ("GetTopDests", "[60,10]", 10, 10),
    ("GetTopSources", "[10]", 10, 10),
    ("GetTopSrcDests", "[10]", 10, 10),
    ("GetEventsByCluster", "[60]", 1, 20),
    ("@Statistics", "[\"PROCEDUREPROFILE\"]", 5, 5))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val res = ctx.res
    val tracer = ctx.tracer
    val base = new File(ctx.tmp, "live")
    val drop = new File(base, "drop"); drop.mkdirs()
    val store = new File(base, "store")
    val storeEvents = new File(store, "events.parquet")
    val exportSink = new File(base, "export")
    Feed.configure(spark, ctx.nproc)
    // a scan of the store may list a minute that retention then drops;
    // the scan skips it (the schema read of a refresh cannot: storeLock)
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")

    // ---- set-up: staged feed and 240 s of pre-filled history --------
    val nTranches = WarmSec + ctx.seconds + 4
    def storeRows(df: DataFrame): DataFrame =
      df.select(col("event_id"), col("ts"), col("src").cast("long").as("user_id"),
          col("dest").as("event_type"), col("value").cast("double").as("value"))
        .withColumn("date_min", date_format(col("ts"), "yyyy-MM-dd-HH-mm"))
    // the history and the live feed are generated side by side
    val history = scala.concurrent.Future(
      storeRows(Feed.frame(spark, PrefillSec, EventsPerSec, -PrefillSec, ctx.seed + 1))
        .write.partitionBy("date_min").parquet(new File(storeEvents, "batch=-1").getPath)
    )(scala.concurrent.ExecutionContext.global)
    val feed = new Feed(spark, base, EventsPerSec, nTranches, ctx.seed)
    scala.concurrent.Await.result(history, scala.concurrent.duration.Duration.Inf)

    val progress = new Progress(tracer)
    spark.streams.addListener(progress)
    val queryNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val cost = new TaskCost(tracer, keyOfTag(_, queryNames))
    if (tracer.enabled) sc.addSparkListener(cost)
    val exportWrites = new ConcurrentLinkedQueue[Seq[Double]]()
    val storeWrites = new ConcurrentLinkedQueue[Seq[Double]]()
    val queries = new ConcurrentLinkedQueue[StreamingQuery]()
    var srv: QueryServer = null
    val stop = new AtomicBoolean(false)
    val threads = new ConcurrentLinkedQueue[Thread]()
    def thread(name: String)(body: => Unit): Unit = {
      val t = new Thread(() => body, name); threads.add(t); t.start()
    }
    def sleepUntil(ms: Double): Unit =
      while (!stop.get() && Tracer.nowMs < ms)
        Thread.sleep(math.max(1L, math.min(200L, (ms - Tracer.nowMs).toLong)))

    try {
      val second = Trigger.ProcessingTime("1 second")
      def input() = Feed.stream(spark, feed.schema, drop, MaxFilesPerTrigger)
      queries.add(Feed.exportQuery(spark, "export", input(), exportSink,
        new File(base, "ckpt_export"), tracer, exportWrites).trigger(second).start())
      queries.add(storeRows(input()).writeStream.queryName("store")
        .option("checkpointLocation", new File(base, "ckpt_store").getPath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          Feed.timedWrite(b, id, "store", "sources.events_write", tracer, storeWrites) {
            b.write.mode("overwrite").partitionBy("date_min")
              .parquet(new File(storeEvents, s"batch=$id").getPath)
          }
        }.trigger(second).start())
      queries.add(StreamingViews.eventsBySecond(
          input().select(col("src").cast("long").as("user_id"), col("ts")))
        .writeStream.queryName("views")
        .option("checkpointLocation", new File(base, "ckpt_views").getPath)
        .format("parquet").option("path", new File(base, "views").getPath)
        .outputMode("append").trigger(second).start())
      queries.asScala.foreach(q => queryNames.put(q.runId.toString, q.name))

      srv = new QueryServer(spark, store.getPath) // first generation: the history
      val port = srv.start()

      // ---- feeder: tranche t is due at feedStart + t s ----------------
      val feedStart = Tracer.nowMs
      val tranches = new ConcurrentLinkedQueue[Seq[Double]]()
      val landedCount = new AtomicInteger(0)
      val backlog = new ConcurrentLinkedQueue[Seq[Double]]()
      thread("perfbench-feeder") {
        var t = 0
        while (!stop.get() && t < nTranches) {
          val due = feedStart + t * 1000.0
          sleepUntil(due)
          if (!stop.get()) {
            val t0 = Tracer.nowMs
            feed.land(t, drop)
            val t1 = Tracer.nowMs
            tracer.record("sources.land", t0, t1, req = s"tranche:$t")
            tranches.add(Seq(t.toDouble, due, t1))
            landedCount.set(t + 1)
            val processed = progress.rows("export").map(_(3)).sum
            backlog.add(Seq(t1, (t + 1).toDouble * EventsPerSec - processed))
            t += 1
          }
        }
      }

      // A refresh lists the store and reads the first file's footer for
      // its schema; that read does not honour ignoreMissingFiles, so a
      // retention pass deleting that file in between fails the refresh
      // (FileNotFoundException). Retention therefore runs between
      // refreshes: it waits for the one in flight, and the next waits
      // for it. The lock is fair, so neither leg starves the other.
      val storeLock = new java.util.concurrent.locks.ReentrantLock(true)
      def exclusive[T](body: => T): T = { storeLock.lock(); try body finally storeLock.unlock() }

      // ---- refresher: back to back, at most once per second -----------
      val refreshes = new ConcurrentLinkedQueue[Seq[Double]]()
      val server = srv
      thread("perfbench-refresher") {
        // its own job group, so teardown can cancel an in-flight refresh
        sc.setJobGroup(RefreshGroup, "serving refresh", interruptOnCancel = true)
        while (!stop.get()) {
          val t0 = Tracer.nowMs
          val ok = tracer.span("server.refresh") { id =>
            Tracer.underSpan(sc, id) {
              try { exclusive(server.refresh(prewarmHotKeys = true)); true }
              catch { case e: Exception => if (!stop.get()) res.fail(s"refresh: $e"); false }
            }
          }
          refreshes.add(Seq(t0, Tracer.nowMs, if (ok) 1.0 else 0.0))
          sleepUntil(t0 + 1000.0)
        }
      }

      // ---- dashboards: nproc clients, staggered within the second ------
      val calls = new ConcurrentLinkedQueue[Seq[Double]]()
      val dashStart = Tracer.nowMs + 200.0
      (0 until ctx.nproc).foreach { d =>
        thread(s"perfbench-dashboard-$d") {
          var tick = 0
          while (!stop.get()) {
            val due = dashStart + tick * 1000.0 + d * 1000.0 / ctx.nproc
            sleepUntil(due)
            if (!stop.get()) Calls.zipWithIndex.foreach { case ((proc, params, lo, hi), i) =>
              val req = s"dash$d:$tick:$proc"
              val sent = Tracer.nowMs
              val (code, body) = Http.get(port, proc, params)
              val done = Tracer.nowMs
              tracer.record("server.call", due, done, req = req, id = req)
              tracer.record("server.http", sent, done, parent = req, req = req)
              val rows = Http.rows(body)
              val ok = code == 200 && body.contains("\"status\":1") && rows >= lo && rows <= hi
              calls.add(Seq(d.toDouble, i.toDouble, due, sent, done, code.toDouble,
                if (ok) 1.0 else 0.0, rows.toDouble))
            }
            tick += 1
          }
        }
      }

      // ---- retention: at the window start, then every 30 s -------------
      val retention = new ConcurrentLinkedQueue[Seq[Double]]()
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm")
        .withZone(java.time.ZoneOffset.UTC)
      val windowStart = feedStart + WarmSec * 1000.0
      thread("perfbench-retention") {
        var next = windowStart
        while (!stop.get()) {
          sleepUntil(next)
          if (!stop.get()) exclusive {
            val newest = feed.trancheMicros(math.max(0, landedCount.get() - 1))
            val minKeep = fmt.format(java.time.Instant.ofEpochSecond(
              newest / 1000000L - HistorySec))
            val t0 = Tracer.nowMs
            val dropped = try Retention.dropOldPartitionsNested(storeEvents.getPath, minKeep).size
              catch { case e: Exception => res.fail(s"retention: $e"); -1 }
            val t1 = Tracer.nowMs
            tracer.record("sources.retention", t0, t1)
            retention.add(Seq(t0, t1, dropped.toDouble))
            next += RetentionEverySec * 1000.0
          }
        }
      }

      // ---- timed window ----------------------------------------------
      sleepUntil(windowStart)
      val cache0 = srv.cacheStats
      val cpu0 = Proc.cpuS
      val ws = ctx.startTimed()
      sleepUntil(ws + ctx.seconds * 1000.0)
      val we = Tracer.nowMs
      val cpuWindow = Proc.cpuS - cpu0
      val cache1 = srv.cacheStats
      val profile = srv.procedureProfile
      val storeFiles = Proc.countFiles(storeEvents, ".parquet")

      // ---- teardown: stop the clients, drain, stop every query --------
      stop.set(true)
      sc.cancelJobGroup(RefreshGroup)
      threads.asScala.foreach(_.join(120000))
      queries.asScala.find(_.name == "export").foreach(_.processAllAvailable())
      queries.asScala.foreach(Feed.stopAndAwait)
      srv.stop(); srv = null

      val expected = Feed.expectedExport(spark, drop)
      val exported = Feed.exportRows(spark, exportSink)
      if (exported != expected)
        res.fail(s"export rows $exported != gap-rule replay $expected")
      val badCalls = calls.asScala.filter(c => c(6) == 0.0 && c(2) >= ws && c(2) < we)
      badCalls.take(3).foreach(c => res.fail(
        s"dashboard ${Calls(c(1).toInt)._1} due at +${(c(2) - ws).round} ms: http ${c(5).toInt}, ${c(7).toInt} rows"))
      if (badCalls.size > 3) res.fail(s"${badCalls.size - 3} more dashboard failures")
      if (!retention.asScala.exists(r => r(0) < we && r(2) > 0))
        res.fail("retention: no pass in the window dropped an aged-out minute")
      res.attempted = 1L + tranches.size + calls.size + refreshes.size + retention.size

      res.put("window", Seq(ws, we))
      res.put("per_tranche", EventsPerSec)
      res.put("feed_start_ms", feedStart)
      res.put("tranches", tranches.asScala.toSeq)
      res.put("backlog", backlog.asScala.toSeq)
      res.put("export_batches", progress.rows("export"))
      res.put("store_batches", progress.rows("store"))
      res.put("views_batches", progress.rows("views"))
      res.put("export_writes", exportWrites.asScala.toSeq)
      res.put("store_writes", storeWrites.asScala.toSeq)
      res.put("refreshes", refreshes.asScala.toSeq)
      res.put("calls", calls.asScala.toSeq)
      res.put("call_names", Calls.map(_._1))
      res.put("retention", retention.asScala.toSeq)
      res.put("cache_hits_misses", Seq(Seq(cache0._1, cache0._2), Seq(cache1._1, cache1._2)))
      res.put("proc_profile", profile.map(p => Seq(p._1, p._2, p._3, p._4, p._5)))
      res.put("store_files", storeFiles)
      res.put("retained_rows", spark.read.parquet(storeEvents.getPath).count())
      res.put("export_rows", exported)
      res.put("expected_export_rows", expected)
      res.put("window_cpu_s", cpuWindow)
      if (tracer.enabled) {
        res.put("task_cost", cost.summaries)
        res.put("task_total", cost.summary(cost.total))
      }
    } finally {
      stop.set(true)
      threads.asScala.foreach(_.join(120000))
      queries.asScala.foreach(Feed.stopAndAwait)
      if (srv != null) srv.stop()
      spark.streams.removeListener(progress)
      sc.removeSparkListener(cost)
    }
  }

  /** Task-cost key of a job tag: the query or leg that caused it
    * (streaming queries tag their own jobs with their run id). */
  def keyOfTag(tag: String, queryNames: java.util.Map[String, String]): String =
    if (tag.startsWith("export:")) "export"
    else if (tag.startsWith("store:")) "store"
    else if (tag.startsWith("server.refresh")) "refresh"
    else queryNames.getOrDefault(tag, if (tag == "untagged") tag else "other")
}

/** Blocking HTTP calls for the dashboard clients (one connection per
  * call site thread, kept alive by the JDK; no client thread pools). */
object Http {
  def get(port: Int, proc: String, params: String): (Int, String) = {
    val url = new java.net.URL(s"http://127.0.0.1:$port/api/1.0/?Procedure=" +
      java.net.URLEncoder.encode(proc, "UTF-8") + "&Parameters=" +
      java.net.URLEncoder.encode(params, "UTF-8"))
    try {
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(10000); c.setReadTimeout(30000)
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (code, body)
    } catch { case e: Exception => (-1, e.toString) }
  }

  /** Result rows in a `{"status":1,"results":[{..},..]}` payload (the
    * rows are flat objects). */
  def rows(body: String): Int = {
    val i = body.indexOf("\"results\":[")
    if (i < 0) -1 else body.substring(i).count(_ == '{')
  }
}

/** Process-level readings. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def countFiles(dir: File, suffix: String): Int = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[File])
    kids.count(k => k.isFile && k.getName.endsWith(suffix)) +
      kids.filter(_.isDirectory).map(countFiles(_, suffix)).sum
  }
}
