package perfbench

/** One timed operation: a day of the ETL, or one run of a battery row.
  * `records` is the work it consumed or produced; `error` marks it failed. */
final case class OpResult(name: String, seconds: Double, records: Long, error: Option[String])

/** One pass of a workload: an ETL history or a sweep over the battery rows. */
final case class PassResult(ops: Seq[OpResult]) {
  def seconds: Double = ops.map(_.seconds).sum
}

/** One correctness check, made outside the timed passes. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Builds the workload's inputs from its seed (part of set-up). */
  def generateInputs(): Unit

  /** Runs the untimed warm-up (part of set-up). */
  def warmUp(): Unit

  /** Runs one timed pass; `tag` keeps the pass's files apart. */
  def pass(t: Timer, tag: String): PassResult

  /** Re-runs single layers in isolation (traced runs only). */
  def probes(t: Timer): Unit

  /** Counts read from the workload's own state after a traced pass. */
  def layerCounts(): Map[String, Double]

  /** On-disk bytes of the workload's stored output per stored row
    * (valid after [[check]]). */
  def storedBytesPerRow(): Double

  /** Output checks, made outside the timed passes; read after them. */
  def check(): Seq[Check]
}
