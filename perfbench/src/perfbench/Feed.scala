package perfbench

import graft.sources.EventGen
import graft.streaming.{IngestPipeline, SessionDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType
import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Generated clickstream feed of the live workload: seeded
  * [[EventGen]] traffic cut into tranches of one reference-second each,
  * staged as one parquet file per tranche so landing one is a rename. */
final class Feed(spark: SparkSession, dir: File, val perTranche: Int, val tranches: Int,
                 seed: Long) {
  private val stage = new File(dir, "stage")

  Feed.frame(spark, tranches, perTranche, 0, seed)
    .repartition(col("tranche"))
    .write.partitionBy("tranche").parquet(stage.getPath)

  val schema: StructType =
    spark.read.parquet(stage.getPath).drop("tranche").schema

  private def files(t: Int): Seq[File] =
    Option(new File(stage, s"tranche=$t").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).toSeq

  /** Move tranche `t` into `drop`. The file source orders by
    * modification time, so the file is stamped with its landing time
    * first: batches then take tranches in landing order. */
  def land(t: Int, drop: File): Unit =
    files(t).foreach { f =>
      f.setLastModified(System.currentTimeMillis())
      java.nio.file.Files.move(f.toPath, new File(drop, f"t$t%06d.parquet").toPath)
    }

  /** The event-time micros at the start of tranche `t`. */
  def trancheMicros(t: Int): Long = Feed.BaseMicros + t * 1000000L
}

object Feed {
  val BaseMicros: Long = 1700000000000000L // EventGen's default base

  /** `tranches` reference-seconds of seeded events starting at tranche
    * `first`: event time advances one second per tranche and spreads
    * its events evenly across that second. */
  def frame(spark: SparkSession, tranches: Int, perTranche: Int, first: Int,
            seed: Long): DataFrame = {
    val tsStep = math.max(1L, 1000000L / perTranche)
    EventGen.events(spark, tranches.toLong * perTranche, seed)
      .withColumn("tranche", expr(s"CAST(event_id DIV $perTranche AS INT) + $first"))
      .withColumn("event_id", col("event_id") + lit(first.toLong * perTranche))
      .withColumn("ts", expr(s"timestamp_micros(${BaseMicros}L + tranche * 1000000L + " +
        s"(event_id % $perTranche) * ${tsStep}L)"))
      .drop("ts_micros")
  }

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Streaming confs of the integrated demo: RocksDB state with
    * changelog checkpointing, one shuffle partition per core. */
  def configure(spark: SparkSession, nproc: Int): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", nproc.toString)
    spark.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  def stream(spark: SparkSession, schema: StructType, drop: File, maxFiles: Int): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles).parquet(drop.getPath)

  /** The hot path (enrich → score → 30-s session gate) writing
    * batch-keyed export parquet, exactly as the integrated demo does.
    * Each foreachBatch write is timed into `writes` and traced as
    * `sources.export_write` under the batch's span. */
  def exportQuery(spark: SparkSession, name: String, input: DataFrame, sink: File, ckpt: File,
                  tracer: Tracer, writes: ConcurrentLinkedQueue[Seq[Double]])
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    implicit val sp: SparkSession = spark
    IngestPipeline.hotPath(input).toDF()
      .withColumn("date_min", date_format(col("ts"), "yyyy-MM-dd-HH-mm"))
      .writeStream.queryName(name)
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (b: DataFrame, id: Long) =>
        timedWrite(b, id, name, "sources.export_write", tracer, writes) {
          b.write.mode("overwrite").partitionBy("date_min").parquet(s"$sink/batch=$id")
        }
      }
  }

  /** Run one foreachBatch write under span `name`, with the batch's
    * Spark jobs tagged by that span; records (batchId, start, end). */
  def timedWrite(b: DataFrame, id: Long, query: String, name: String, tracer: Tracer,
                 writes: ConcurrentLinkedQueue[Seq[Double]])(write: => Unit): Unit = {
    val spanId = s"$query:$id/write"
    val t0 = Tracer.nowMs
    try Tracer.underSpan(b.sparkSession.sparkContext, spanId)(write)
    finally {
      val t1 = Tracer.nowMs
      writes.add(Seq(id.toDouble, t0, t1))
      tracer.record(name, t0, t1, parent = s"$query:$id", req = s"$query:$id", id = spanId)
    }
  }

  /** Stop a query and wait until its execution thread has ended. */
  def stopAndAwait(q: StreamingQuery): Unit =
    if (q != null) {
      try q.stop() catch { case _: Exception => }
      try q.awaitTermination(60000) catch { case _: Exception => }
    }

  /** Exactly-once oracle: a batch replay of the 30-s gap rule over
    * every event in `landed`, with the same state machine and ordering
    * the streaming gate uses ([[SessionDedup.sessionStarts]]). */
  def expectedExport(spark: SparkSession, landed: File): Long = {
    import spark.implicits._
    spark.read.parquet(landed.getPath)
      .select(col("event_id"), col("src").cast("long"), col("dest"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(e => (e._2, e._3))
      .mapGroups { (_: (Long, String), it: Iterator[(Long, Long, String, java.sql.Timestamp)]) =>
        val ts = it.map(e => (SessionDedup.micros(e._4), e._1)).toSeq.sorted.map(_._1)
        SessionDedup.sessionStarts(None, ts)._1.count(identity).toLong
      }.reduce(_ + _)
  }

  def exportRows(spark: SparkSession, sink: File): Long =
    spark.read.parquet(sink.getPath).count()
}

/** Collects every progress event of the benchmark's streaming queries,
  * keyed by query name: the batch phases and state figures Spark
  * reports, stamped with the trigger's own start time. */
final class Progress(tracer: Tracer) extends StreamingQueryListener {
  /** name -> rows of [batchId, startMs, triggerMs, inputRows, latestOffset,
    * getBatch, queryPlanning, addBatch, walCommit, commitOffsets,
    * stateCommitMs, stateRows, stateMemBytes] */
  val batches = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Seq[Double]]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val name = Option(p.name).getOrElse("unnamed")
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trig = d("triggerExecution")
    val st = p.stateOperators
    batches.computeIfAbsent(name, _ => new ConcurrentLinkedQueue()).add(Seq(
      p.batchId.toDouble, start, trig, p.numInputRows.toDouble,
      d("latestOffset"), d("getBatch"), d("queryPlanning"), d("addBatch"),
      d("walCommit"), d("commitOffsets"),
      st.map(_.commitTimeMs).sum.toDouble, st.map(_.numRowsTotal).sum.toDouble,
      st.map(_.memoryUsedBytes).sum.toDouble))
    if (tracer.enabled && p.numInputRows > 0) {
      // the batch as a root span, with the engine's own phases laid
      // out in the order it runs them: source, planning, (addBatch,
      // whose foreachBatch write is traced by the benchmark), WAL
      val root = s"$name:${p.batchId}"
      val src = d("latestOffset") + d("getBatch")
      tracer.record("streaming.batch", start, start + trig, req = root, id = root)
      tracer.record("streaming.source", start, start + src, root, root)
      tracer.record("streaming.plan", start + src, start + src + d("queryPlanning"), root, root)
      val wal = d("walCommit") + d("commitOffsets")
      tracer.record("streaming.wal", start + trig - wal, start + trig, root, root)
    }
  }

  def rows(name: String): Seq[Seq[Double]] =
    Option(batches.get(name)).map(_.asScala.toSeq.sortBy(_.head)).getOrElse(Nil)
}
