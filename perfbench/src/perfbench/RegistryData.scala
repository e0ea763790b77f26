package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File

/** Deterministic generated tables in the shape of the shipped sf0.1
  * test data (same schemas and value distributions, smaller counts):
  * `events`, `documents`, `embeddings` and `lineitem`, the tables the
  * registry list reads. Every value is a pure function of its row id,
  * and only Spark is used to write them, so the tables depend on this
  * file alone. The build generates them once, in a JVM of their own:
  *
  *     perfbench.RegistryData DIR    # writes DIR/<table>.parquet, DIR/READY
  */
object RegistryData {
  val Ready = "READY"
  val Tables: Seq[String] = Seq("events", "documents", "embeddings", "lineitem")
  val NEvents = 25000
  val NDocs = 1500
  val NVecs = 800
  val NLineitems = 150000
  val Dim = 64

  private val Vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  private def u(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
  private def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  /** Document text: 10-100 vocabulary words; one document in twenty
    * repeats a nearby earlier one with a "dup" marker appended. */
  def text(id: Long): String = {
    val h = mix(id * 31 + 7)
    if (id > 0 && pick(h, 20) == 0) text(id - 1 - pick(h >>> 8, math.min(id, 50L).toInt)) + " dup"
    else {
      val n = 10 + pick(h >>> 16, 91)
      (0 until n).map(k => Vocab(pick(mix(id * 131 + k), Vocab.length))).mkString(" ")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", new File(sys.props("java.io.tmpdir"), "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(sys.props("java.io.tmpdir"), "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, dir.getPath) finally spark.stop()
    new File(dir, Ready).createNewFile()
  }

  /** SplitMix64 finaliser: the row-id hash every generated value draws on. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
    val stepMicros = 30L * 86400 * 1000000 / NEvents
    out(spark.range(NEvents).as[Long].map { i =>
      val h = mix(i + 0x1000)
      (i, t0Micros + i * stepMicros + pick(h, stepMicros.toInt), 1L + pick(h >>> 8, 1500),
        EventTypes(pick(h >>> 20, EventTypes.size)),
        math.rint(-50.0 * math.log(1.0 - u(mix(h))) * 100) / 100, s"""{"k": ${pick(h >>> 30, 100)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_micros(ts_us)").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")), "events")

    out(spark.range(NDocs).as[Long].map { i =>
      val h = mix(i + 0x2000)
      val t = text(i)
      (i, t, Langs(pick(h, Langs.size)), s"src${pick(h >>> 8, 20)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    out(spark.range(NVecs).as[Long].map { i =>
      val g = (0 until Dim).map { k =>
        val a = u(mix(i * 977 + 2 * k)); val b = u(mix(i * 977 + 2 * k + 1))
        math.sqrt(-2.0 * math.log(1.0 - a)) * math.cos(2 * math.Pi * b)
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      (i, g.map(x => (x / norm).toFloat).toArray, pick(mix(i + 0x3000), 10))
    }.toDF("vec_id", "embedding", "label"), "embeddings")

    out(spark.range(NLineitems).as[Long].map { i =>
      val h = mix(i + 0x4000)
      val q = 1 + pick(h, 50)
      (i / 4 + 1, 1L + pick(h >>> 8, 20000), 1L + pick(h >>> 24, 1000), (i % 4 + 1).toInt,
        q.toDouble, math.rint((900 + u(mix(h)) * 104100) * 100) / 100,
        pick(h >>> 40, 11) / 100.0, pick(h >>> 44, 9) / 100.0,
        Seq("A", "N", "R")(pick(h >>> 48, 3)), Seq("O", "F")(pick(h >>> 52, 2)),
        788918400000000L + pick(h >>> 12, 2499) * 86400000000L)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship_us")
      .withColumn("l_shipdate", expr("timestamp_micros(ship_us)")).drop("ship_us"), "lineitem")
  }
}
