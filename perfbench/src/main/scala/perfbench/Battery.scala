package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed set of battery rows from `SparkEntry.queries`, run over
  * generated tables. A pass runs every row once, in an order drawn from
  * the seed; a row's time is its query plus the `count()` that forces
  * it, as `graft.Bench` times it. `tables` gives the scale factor of each
  * table the rows read; they are generated from `dataSeed`, which does
  * not change with the workload seed. */
final class Battery(spark: SparkSession, work: String, seed: Long,
                    rows: Seq[String], tables: Map[String, Double], dataSeed: Long)
    extends Workload {
  val dataDir: String = new File(work, "data").getPath
  val dumpDir: String = new File(work, "oracle").getPath
  val order: Seq[String] = new scala.util.Random(seed).shuffle(rows)
  private var dumpBytes = 0L
  private var dumpRows = 0L
  private var written: Seq[Check] = Nil

  def generateInputs(): Unit = TableGen.generate(spark, dataDir, tables, dataSeed)

  private def runRow(name: String): Long =
    try SparkEntry.queries(name)(spark, dataDir).count()
    finally Session.dropPersisted(spark)

  def pass(t: Timer, tag: String): PassResult = PassResult(order.map { n =>
    val (outcome, secs) = t.op(s"queries.$n")(scala.util.Try(runRow(n)))
    OpResult(n, secs, outcome.getOrElse(0L),
      outcome.failed.toOption.map(e => s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}"))
  })

  def probes(t: Timer): Unit = ()

  def layerCounts(): Map[String, Double] = Map.empty

  /** The warm-up pass doubles as the correctness pass: it writes each
    * row's result once (as `graft.Verify` does), with the matching oracle
    * SQL, for the DuckDB compare made after the run. Each row works in its
    * own temporary tables, so its result does not depend on when it runs. */
  def warmUp(): Unit = {
    graft.util.Fs.deleteTree(new File(dumpDir))
    new File(dumpDir).mkdirs()
    written = order.map { n =>
      val out = new File(dumpDir, n)
      val result = scala.util.Try {
        val df = SparkEntry.queries(n)(spark, dataDir).coalesce(1)
        df.write.mode("overwrite").parquet(out.getPath)
        Session.dropPersisted(spark)
        spark.read.parquet(out.getPath).count()
      }
      result.foreach { rows =>
        dumpRows += rows
        dumpBytes += out.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      }
      Check(s"$n writes its result", result.isSuccess,
        result.failed.toOption.map(_.toString).getOrElse(""))
    }
    val sql = order.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ",\n", "}")
    Files.writeString(new File(dumpDir, "oracle_sql.json").toPath, sql)
  }

  def check(): Seq[Check] = written

  def storedBytesPerRow(): Double = dumpBytes.toDouble / math.max(1L, dumpRows)
}
