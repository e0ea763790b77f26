package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** batch_registry: closed loop, one client. Runs a fixed list of
  * registry queries once each, in name order, the way the registry
  * bench does (`toRdd.count`, then unpersist between queries), over
  * generated tables, after an untimed pass over the same list. Tables,
  * list and order are the same on every run, whatever the seed, so each
  * query's row count is known in advance;
  * a seeded order measured which query paid the JVM's first use of an
  * operator, not the queries (p50 moved ±20% between seeds). */
object Registry {
  /** The clickstream queries of the paper's pipeline: the hot path as a
    * batch, the export gate and its session counts, the views, the
    * dashboard's top-k and cluster calls, retention, k-means scoring
    * and retraining. */
  val PaperCore: Seq[String] = Seq(
    "ingest_pipeline", "session_export", "session_counts", "ev_by_src", "ev_by_src_dest",
    "ev_sessions", "ev_by_second", "ev_dests_by_second", "ev_by_cluster", "get_top_users",
    "get_top_dests", "get_top_sources", "get_top_src_dests", "get_events_by_cluster",
    "ev_retention_count", "kmeans_assign", "kmeans_cluster_sizes", "kmeans_train_centers")
  /** Every query an open roadmap item names. */
  val RoadmapNamed: Seq[String] = Seq(
    "sparse_cosine_topk", "dedup_ngram_jaccard", "word_freq_topk", "percentiles_exact",
    "mad_outliers", "contamination_ngram_rate", "ann_pq", "doc_repetition")
  val Queries: Seq[String] = PaperCore ++ RoadmapNamed

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val res = ctx.res
    val tracer = ctx.tracer
    // generated by the build, outside the timed JVM
    if (!new java.io.File(ctx.data, RegistryData.Ready).exists())
      sys.error(s"no registry tables in ${ctx.data}")
    val dir = ctx.data.getPath
    val registry = graft.SparkEntry.queries
    val order = Queries.sorted
    // free what a query pinned, outside its timing (as the bench does)
    def release(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
    }
    // one untimed pass first: a single cold pass times the JVM's first
    // use of each operator (JIT, code generation) more than the query,
    // and moved a query's time by ±15% between runs. Its queries are
    // not timed, so one collection after the pass does for all of them.
    order.foreach { name =>
      try registry(name)(spark, dir).queryExecution.toRdd.count()
      catch { case e: Throwable => res.fail(s"$name (warm-up): ${e.getMessage}") }
      release()
    }
    System.gc()
    val cost = new TaskCost(tracer, _.stripPrefix("q:").takeWhile(_ != '/'))
    if (tracer.enabled) sc.addSparkListener(cost)
    val rows = new ConcurrentLinkedQueue[Seq[Any]]()
    try {
      val cpu0 = Proc.cpuS
      val ws = ctx.startTimed()
      order.foreach { name =>
        val root = s"q:$name"
        val t0 = Tracer.nowMs
        sc.setJobGroup(name, name)
        var t1 = t0
        val n = try {
          val df = Tracer.underSpan(sc, s"$root/cons")(registry(name)(spark, dir))
          Tracer.underSpan(sc, s"$root/cons")(df.queryExecution.executedPlan)
          t1 = Tracer.nowMs
          Tracer.underSpan(sc, s"$root/exec")(df.queryExecution.toRdd.count())
        } catch {
          case e: Throwable => res.fail(s"$name: ${e.getMessage}"); -1L
        } finally sc.clearJobGroup()
        val t2 = Tracer.nowMs
        // the retrain is the ml layer's; every other query the operators'
        val (layer, rootName) =
          if (name == "kmeans_train_centers") ("ml", "ml.train") else ("operators", "operators.query")
        tracer.record(rootName, t0, t2, req = root, id = root)
        tracer.record(s"$layer.cons", t0, t1, root, root, s"$root/cons")
        if (n >= 0) tracer.record(s"$layer.exec", t1, t2, root, root, s"$root/exec")
        rows.add(Seq(name, t1 - t0, t2 - t1, n, t0, t2))
        release()
        System.gc()
      }
      val we = Tracer.nowMs
      res.attempted = order.size.toLong
      res.put("window", Seq(ws, we))
      res.put("order", order)
      res.put("queries", rows.asScala.toSeq)
      res.put("window_cpu_s", Proc.cpuS - cpu0)
      if (tracer.enabled) {
        res.put("task_cost", cost.summaries)
        res.put("task_total", cost.summary(cost.total))
      }
    } finally sc.removeSparkListener(cost)
  }
}
