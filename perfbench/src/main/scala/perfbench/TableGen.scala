package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the synthetic tables the battery rows read, in the
  * layout and physical types of the driver's test data (TESTDATA.md): one
  * parquet file per table at `<dir>/<name>.parquet`, timestamps without a
  * zone. Each table's size is its scale factor times its sf=1 row count.
  * Only the tables the benchmark's battery rows read can be made:
  * documents and events. */
object TableGen {

  private val Vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = IndexedSeq("en", "en", "en", "en", "es", "es", "zh", "zh",
    "de", "de", "fr", "fr")

  def generate(spark: SparkSession, dir: String, scales: Map[String, Double],
               seed: Long): Unit = {
    new File(dir).mkdirs()
    for ((table, sf) <- scales.toSeq.sortBy(_._1)) {
      val n = (base: Long) => math.max(1L, math.round(base * sf))
      val df = table match {
        case "documents" => documents(spark, n(50000).toInt, seed)
        case "events" => events(spark, n(1000000), n(15000), seed)
      }
      write(spark, df, dir, table)
    }
  }

  /** Space-separated lowercase tokens; 5% of the documents are a copy of
    * an earlier one with one token appended (the near-duplicates). */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val r = new java.util.SplittableRandom(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { id =>
      texts(id) =
        if (id > 0 && r.nextInt(20) == 0) texts(r.nextInt(id)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Row(id.toLong, texts(id), Langs(r.nextInt(Langs.size)), s"src${id % 20}",
        texts(id).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Uniform integer in [0, m) from the row id and a salt. */
  private def pick(seed: Long, salt: String, m: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))

  private def oneOf(seed: Long, salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pick(seed, salt, values.size) + 1).cast(IntegerType))

  private def cents(c: Column): Column = (c.cast(DoubleType) / 100.0).cast(DoubleType)

  /** A 30-day event stream in event-id order, microsecond timestamps. */
  def events(spark: SparkSession, n: Long, users: Long, seed: Long): DataFrame = {
    val spanUs = 30L * 24 * 3600 * 1000000
    val stepUs = spanUs / n
    val startUs = 1704067200L * 1000000 // 2024-01-01T00:00:00
    spark.range(0, n, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startUs) + col("id") * stepUs + pick(seed, "ts", stepUs))
        .cast(TimestampNTZType).as("ts"),
      pick(seed, "user", users).as("user_id"),
      oneOf(seed, "type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      cents(pick(seed, "value", 20000)).as("value"),
      concat(lit("{\"k\": "), pick(seed, "k", 100).cast(StringType), lit("}")).as("props"))
  }

  /** Writes `df` as the single file `<dir>/<name>.parquet`. */
  private def write(spark: SparkSession, df: DataFrame, dir: String, name: String): Unit = {
    val staging = new File(dir, s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val part = staging.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet file written for $name"))
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    graft.util.Fs.deleteTree(staging)
  }
}
