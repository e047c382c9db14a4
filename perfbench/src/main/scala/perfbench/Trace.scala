package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `name` is the layer metric it feeds,
  * `op` the operation (a day, a battery row) it ran under. */
final case class Span(name: String, op: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** How a workload times its operations and its calls into layers. */
trait Timer {
  /** Runs `body` as one operation named `name`; returns it with its wall
    * seconds. */
  def op[A](name: String)(body: => A): (A, Double)

  /** Runs one call into a layer inside the current operation. */
  def span[A](name: String)(body: => A): A
}

/** The untraced timer: wall clock only, no listeners, no spans. */
object Untraced extends Timer {
  def op[A](name: String)(body: => A): (A, Double) = {
    val n0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - n0) / 1e9)
  }
  def span[A](name: String)(body: => A): A = body
}

/** Outside-in trace of one workload run: listeners registered from the
  * benchmark on the Spark, streaming and query-execution buses, plus spans
  * the benchmark records around its calls into the engine's modules.
  *
  * Attribution: [[op]] names the operation it runs and drains the
  * listener bus before and after it, so every event delivered in between
  * belongs to that operation. Counters accumulate per operation; [[total]]
  * sums them over a set of operations. */
final class Trace(spark: SparkSession, cores: Int) extends Timer {
  import Trace._
  private val sc = spark.sparkContext
  @volatile private var current: String = "untracked"
  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val opWindows = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private def add(key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(current, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = e.time
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { s =>
        jobIntervals.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += ((s, e.time))
        add("spark.job_s", (e.time - s) / 1000.0)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("spark.stages", 1)
      if (si.numTasks == 1) for (s <- si.submissionTime; c <- si.completionTime)
        add("spark.single_task_stage_s", (c - s) / 1000.0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (e.reason != Success) add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_s", m.executorRunTime / 1000.0)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_gc_s", m.jvmGCTime / 1000.0)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (b.blockId.isRDD && bytes > 0) {
        add("spark.checkpoint_blocks", 1)
        add("spark.checkpoint_bytes", bytes.toDouble)
      }
    }
  }

  private val streamingListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      val d = p.durationMs.asScala
      for ((k, metric) <- StreamingPhases) d.get(k).foreach(v => add(metric, v / 1000.0))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_s", s.commitTimeMs / 1000.0)
        add("streaming.state_rows", s.numRowsUpdated.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("plans.actions", 1)
      val phases = qe.tracker.phases
      for ((phase, metric) <- PlanPhases) phases.get(phase)
        .foreach(p => add(metric, p.durationMs / 1000.0))
    }
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamingListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def fsBytes(): (Long, Long) = {
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }

  /** Runs `body` as operation `name`; returns its result and wall seconds.
    * The bus is drained after the clock stops, outside the timing. */
  def op[A](name: String)(body: => A): (A, Double) = {
    PerfbenchBus.drain(sc)
    current = name
    val (r0, w0) = fsBytes()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = body
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val (r1, w1) = fsBytes()
    add("fs.bytes_read", (r1 - r0).toDouble)
    add("fs.bytes_written", (w1 - w0).toDouble)
    synchronized { opWindows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((t0, t1)) }
    current = "untracked"
    (a, secs)
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally synchronized { spans += Span(name, current, t0, System.currentTimeMillis()) }
  }

  /** Counter sums over the operations whose name satisfies `ops`, plus the
    * derived driver gap and core utilisation. */
  def total(ops: String => Boolean): Map[String, Double] = synchronized {
    val sums = mutable.Map.empty[String, Double]
    for ((op, m) <- counters if ops(op); (k, v) <- m) sums(k) = sums.getOrElse(k, 0.0) + v
    val gapMs = opWindows.collect { case (op, ws) if ops(op) =>
      val jobs = jobIntervals.getOrElse(op, Nil).toSeq
      ws.map(w => Stats.gap(w, jobs)).sum
    }.sum
    sums("driver.gap_s") = gapMs / 1000.0
    val jobS = sums.getOrElse("spark.job_s", 0.0)
    sums("spark.core_busy") =
      if (jobS > 0) sums.getOrElse("spark.task_run_s", 0.0) / (jobS * cores) else 0.0
    sums.toMap
  }

  def spanSeconds(name: String): Double = synchronized {
    spans.filter(_.name == name).map(_.seconds).sum
  }
}

object Trace {
  import org.apache.spark.sql.catalyst.QueryPlanningTracker

  /** Micro-batch phase (`StreamingQueryProgress.durationMs` key) → metric. */
  val StreamingPhases: Seq[(String, String)] = Seq(
    "getBatch" -> "streaming.get_batch_s",
    "latestOffset" -> "streaming.latest_offset_s",
    "walCommit" -> "streaming.wal_commit_s",
    "commitOffsets" -> "streaming.commit_offsets_s",
    "addBatch" -> "streaming.add_batch_s",
    "queryPlanning" -> "streaming.query_planning_s")

  /** Query-planning phase (`QueryExecution.tracker`) → metric. */
  val PlanPhases: Seq[(String, String)] = Seq(
    QueryPlanningTracker.ANALYSIS -> "plans.analysis_s",
    QueryPlanningTracker.OPTIMIZATION -> "plans.optimization_s",
    QueryPlanningTracker.PLANNING -> "plans.planning_s")
}
