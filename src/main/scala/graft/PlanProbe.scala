package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore

/** Plan-capture for INTERNAL operator plans that the declared queries'
  * final frames do not show (a lifecycle gate returns a materialized
  * summary; the interesting plan ran during its setup). Builds a small
  * snapshot table in a temp dir and writes `.explain("formatted")` for:
  *
  *   - `changes_append`  — [[SnapshotStore.changesBetween]] over a pure
  *     APPEND version (the dominant commit shape at scale),
  *   - `changes_rewrite` — the same over a copy-on-write delete version
  *     (files on both sides of the manifest diff),
  *   - `format_mor_filtered` — a `spark.read.format("graft-snapshot")`
  *     read WITH a range filter while MoR tombstones are live (the
  *     resolved-relation path).
  *
  * Usage: `tools/run.sh graft.PlanProbe <outDir> <tag>` */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanProbe <outDir> <tag>")
    val outDir = Paths.get(args(0)); Files.createDirectories(outDir): Unit
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    def dump(name: String, df: DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      println(s"dumped $name")
    }
    graft.util.Fs.withTempDir("graft_planprobe_") { tmp =>
      val path = new java.io.File(tmp, "t").getAbsolutePath
      val docs = Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      SnapshotStore.create(spark, docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        path, statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      SnapshotStore.append(spark, docs.filter(pmod(col("doc_id"), lit(10)) === 0), path)
      dump("changes_append", SnapshotStore.changesBetween(spark, path, 1, 2))
      SnapshotStore.deleteWhere(spark, path, col("lang") === "de") // CoW: rewrite
      dump("changes_rewrite", SnapshotStore.changesBetween(spark, path, 2, 3))
      SnapshotStore.deleteWhereMoR(spark, path, col("lang") === "zh")
      dump("format_mor_filtered",
        spark.read.format("graft-snapshot").load(path)
          .filter(col("doc_id").between(100, 200) && col("lang") =!= "en"))
      // The INNER plan the PrunedFilteredScan buildScan executes for that
      // read (the outer explain shows only the opaque V1 scan node): the
      // resolved MoR read with the pushed predicates applied — this is
      // where PushedFilters must reach the parquet scans.
      dump("format_mor_inner",
        SnapshotStore.readVersion(spark, path,
            SnapshotStore.currentVersion(spark, path))
          .filter(col("doc_id").between(100, 200) && col("lang") =!= "en"))
    }
    spark.stop()
  }
}
