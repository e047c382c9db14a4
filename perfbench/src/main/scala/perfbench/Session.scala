package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `graft.Bench.session`'s settings (AQE,
  * the engine's extensions, UTC session zone, no UI) sized to this host —
  * `local[cores]` with `cores` shuffle partitions — and with every
  * directory Spark writes kept under the benchmark's work directory. */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drops every persistent RDD (the engine's local checkpoints outlive
    * their query), as `graft.Bench` does between queries. */
  def dropPersisted(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Driver heap still in use after a full collection, in MiB: what the
    * heap pools held when the collector last finished. Spark's context
    * cleaner frees unreferenced broadcast and shuffle state only after a
    * collection has found it unreachable, so the collection is repeated
    * until the figure settles. */
  def retainedHeapMb(spark: SparkSession): Double = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def afterGc(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }
    var last = afterGc()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      Thread.sleep(300)
      val now = afterGc()
      settled = math.abs(now - last) < 0.5
      last = now
      rounds += 1
    }
    last
  }
}
