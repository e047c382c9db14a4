package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload; writes its record as JSON.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <recordFile>
  *
  * Set-up is the session start, the input generation (made three times;
  * the median counts) and the untimed warm-up. The timed region then runs
  * whole passes until `seconds` have elapsed (at least one). With trace 1
  * the run then makes one traced pass with the layer probes and one more
  * untraced pass, and records per-layer metrics and the tracing overhead. */
object Main {
  val DataSeed = 42L

  val TableLifecycle: Seq[String] = Seq("q147_mor_delete", "q153_cdc_source")
  val CorpusOperators: Seq[String] = Seq("x44_minhash_unbounded", "q126_evicting_join")

  def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "etl_daily" =>
        new EtlDaily(spark, work, seed, flaresPerDay = 100, days = 8, warmUpDays = 5)
      case "table_lifecycle" =>
        new Battery(spark, work, seed, TableLifecycle,
          tables = Map("documents" -> 0.01), DataSeed)
      case "corpus_operators" =>
        new Battery(spark, work, seed, CorpusOperators,
          tables = Map("documents" -> 0.05, "events" -> 0.02), DataSeed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Every battery row a workload can run, for the per-row layer metrics. */
  val AllRows: Seq[String] = TableLifecycle ++ CorpusOperators

  /** CPU seconds all threads of this process have used so far. Unlike
    * wall time it does not grow when the host withholds the CPU. */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, recordFile) = args
    val seed = seedS.toLong
    val budget = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Session.start(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w = workload(name, spark, work, seed)
    val generateS = (1 to 3).map(_ => seconds(w.generateInputs()))
    val warmUpS = seconds(w.warmUp())
    val setupS = sessionS + Stats.median(generateS) + warmUpS

    val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val passCpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val timedStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timedStart) / 1e9 < budget) {
      val cpu0 = processCpuS()
      passes += w.pass(Untraced, s"timed${passes.size}")
      passCpuS += processCpuS() - cpu0
    }

    val (layers, tracedOps) =
      if (traced) traceRun(spark, w, cores, passes.toSeq) else (Map.empty[String, Double], Nil)

    val checks = w.check()
    val heapMb = Session.retainedHeapMb(spark)
    val ops = passes.flatMap(_.ops).toSeq
    val samples = ops.map(_.seconds)
    val allOps = ops ++ tracedOps
    val tail = Stats.tail(samples)
    val wallS = Stats.median(passes.map(_.seconds).toSeq)
    val record = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> generateS,
        "warm_up_s" -> warmUpS),
      "passes" -> passes.map(_.ops.map(o => Map("name" -> o.name,
        "seconds" -> o.seconds, "records" -> o.records, "error" -> o.error))),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle_dump" -> (w match {
        case b: Battery => Some(Map("data" -> b.dataDir, "out" -> b.dumpDir, "rows" -> b.order))
        case _ => None
      }),
      "attempted" -> (allOps.size + checks.size),
      "failed" -> (allOps.count(_.error.nonEmpty) + checks.count(!_.ok)),
      "errors" -> (allOps.flatMap(_.error) ++ checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}")),
      "tail" -> Map("seconds" -> tail.map(_.value).getOrElse(samples.max),
        "percentile" -> tail.map(_.percentile), "samples" -> samples.size),
      "metrics" -> Map(
        "setup_s" -> setupS,
        "cpu_s" -> Stats.median(passCpuS.toSeq),
        "wall_s" -> wallS,
        "batch_p50_s" -> Stats.median(samples),
        "records_per_s" -> ops.map(_.records).sum / samples.sum,
        "stored_bytes_per_row" -> w.storedBytesPerRow(),
        "retained_heap_mb" -> heapMb),
      "layers" -> layers)
    Files.writeString(new File(recordFile).toPath, Json(record))
    spark.stop()
  }

  /** One traced pass and its probes, then one more untraced pass; the
    * tracing overhead is the traced pass's time minus the median of the
    * untraced passes around it. Returns the traced pass's layer metrics and
    * the operations of the two extra passes. */
  private def traceRun(spark: SparkSession, w: Workload, cores: Int,
                       untraced: Seq[PassResult]): (Map[String, Double], Seq[OpResult]) = {
    val trace = new Trace(spark, cores)
    trace.start()
    val tracedPass = w.pass(trace, "traced")
    w.probes(trace)
    trace.stop()
    val after = w.pass(Untraced, "untraced")
    val plain = Stats.median((untraced :+ after).map(_.seconds))
    val timedOps = (op: String) => !op.startsWith("probe.") && op != "untracked"
    val totals = trace.total(timedOps)
    val perRow = AllRows.flatMap { row =>
      val t = trace.total(_ == s"queries.$row")
      val s = tracedPass.ops.filter(_.name == row).map(_.seconds).sum
      Seq(s"queries.${row}_s" -> s,
        s"queries.${row}_jobs" -> t.getOrElse("spark.jobs", 0.0),
        s"queries.${row}_gap_s" -> (if (s > 0) t.getOrElse("driver.gap_s", 0.0) else 0.0))
    }
    val spans = Seq("operators.dedup_append_s", "operators.snapshot_append_s",
      "operators.snapshot_read_s", "sources.parquet_read_s", "ingest.parse_s")
      .map(n => n -> trace.spanSeconds(n))
    val probeS = trace.spans.filter(_.op.startsWith("probe.")).map(_.seconds).sum
    val tail = Stats.tail(tracedPass.ops.map(_.seconds))
    val parse = trace.total(_.startsWith("probe.parse"))
    val layers = totals ++ perRow ++ spans ++ w.layerCounts() ++ Map(
      "trace.untraced_wall_s" -> plain,
      "trace.traced_wall_s" -> tracedPass.seconds,
      "trace.probe_s" -> probeS,
      "trace.overhead_s" -> (tracedPass.seconds - plain),
      "ingest.parse_stages" -> parse.getOrElse("spark.stages", 0.0),
      "ingest.parse_tasks" -> parse.getOrElse("spark.tasks", 0.0),
      "ops.count" -> tracedPass.ops.size.toDouble,
      "ops.tail_s" -> tail.map(_.value).getOrElse(tracedPass.ops.map(_.seconds).max),
      "ops.tail_percentile" -> tail.map(_.percentile.toDouble).getOrElse(100.0))
    (layers, tracedPass.ops ++ after.ops)
  }
}
