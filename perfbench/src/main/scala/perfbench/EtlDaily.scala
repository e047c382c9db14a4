package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.ingest.Donki
import graft.operators.{DedupAppend, SnapshotStore}

/** The paper's pipeline, run daily: each day's DONKI fetch is parsed
  * (`Donki.readJson`), projected to the 8 typed fields (`Donki.project`)
  * and appended with `ON CONFLICT (flr_id) DO NOTHING` semantics to two
  * sinks — the parquet table (`DedupAppend.append`) and the transactional
  * snapshot table (`SnapshotStore.appendDedup`) — then both are read back.
  *
  * A history loads the first fetch into fresh tables (the backfill,
  * untimed), then makes `days` consecutive daily runs, each re-fetching a
  * window that is ~97% stored already; the day's time is from the start of
  * its parse until both sinks show the day's rows. Every day's row counts are checked against the plain-Scala
  * [[FlareOracle]]; the last history's tables are compared with it row
  * for row, and re-delivering its final payload must change neither
  * table. */
final class EtlDaily(spark: SparkSession, work: String, seed: Long,
                     flaresPerDay: Int, days: Int, warmUpDays: Int) extends Workload {
  private val keys = Seq("flr_id")
  private val tie = Seq("class_type", "link")
  private val gen = new DonkiGen(seed, flaresPerDay)
  private var payloads: IndexedSeq[String] = IndexedSeq.empty
  private var records: IndexedSeq[Long] = IndexedSeq.empty
  private var expected: IndexedSeq[Int] = IndexedSeq.empty // table size after each fetch
  private var oracle: FlareOracle.Table = _
  private var histories = 0
  private var last: Option[(String, String)] = None
  private var storedPerRow = 0.0

  // Fetch 0 is the backfill, fetches 1..days the timed daily runs. They
  // are numbered from `windowDays` so the backfill is a full window.
  def generateInputs(): Unit = {
    val fetches = gen.fetches(gen.windowDays to gen.windowDays + days)
    payloads = fetches.map(DonkiGen.render)
    records = fetches.map(_.size.toLong)
    oracle = new FlareOracle.Table
    expected = fetches.map { f => oracle.append(f); oracle.size }
  }

  def warmUp(): Unit = {
    val (pq, snap) = freshTables("warmup")
    (0 to warmUpDays).foreach(d => runDay(Untraced, d, pq, snap))
    Session.dropPersisted(spark)
  }

  private def freshTables(tag: String): (String, String) = {
    val dir = new File(work, s"etl/$tag")
    graft.util.Fs.deleteTree(dir)
    dir.mkdirs()
    val snap = new File(dir, "snapshot").getPath
    // the snapshot table starts empty so every day takes the same path
    SnapshotStore.create(spark,
      Donki.project(Donki.readJson(spark, Seq("[]"))), snap)
    (new File(dir, "parquet").getPath, snap)
  }

  /** One daily run; returns the payload's record count and the rows the
    * two sinks hold afterwards. */
  private def runDay(t: Timer, d: Int, pq: String, snap: String): (Long, Long, Long) = {
    val projected = Donki.project(Donki.readJson(spark, Seq(payloads(d))))
    t.span("operators.dedup_append_s") {
      DedupAppend.append(spark, projected, pq, keys, tie)
    }
    t.span("operators.snapshot_append_s") {
      SnapshotStore.appendDedup(spark, projected, snap, keys, tie)
    }
    val pqRows = t.span("sources.parquet_read_s")(spark.read.parquet(pq).count())
    val snapRows = t.span("operators.snapshot_read_s")(SnapshotStore.read(spark, snap).count())
    Session.dropPersisted(spark)
    (records(d), pqRows, snapRows)
  }

  /** One history of `days` daily runs on fresh tables. */
  def pass(t: Timer, tag: String): PassResult = {
    histories += 1
    val (pq, snap) = freshTables(s"$tag-$histories")
    runDay(Untraced, 0, pq, snap)
    val ops = (1 to days).map { d =>
      val ((records, pqRows, snapRows), secs) = t.op(f"etl.day$d%02d")(runDay(t, d, pq, snap))
      val ok = pqRows == expected(d) && snapRows == expected(d)
      OpResult(f"day$d%02d", secs, records,
        if (ok) None else Some(s"day $d: parquet $pqRows, snapshot $snapRows rows, expected ${expected(d)}"))
    }
    last = Some((pq, snap))
    PassResult(ops)
  }

  /** The isolated parse probe: a noop write of the projected payload. */
  def probes(t: Timer): Unit = (1 to days).foreach { d =>
    t.op(f"probe.parse.day$d%02d") {
      t.span("ingest.parse_s") {
        Donki.project(Donki.readJson(spark, Seq(payloads(d))))
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  def layerCounts(): Map[String, Double] = {
    val (pq, snap) = last.get
    val offered = records.tail.sum.toDouble
    val fs = new org.apache.hadoop.fs.Path(pq)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pqFiles = fs.listStatus(new org.apache.hadoop.fs.Path(pq))
      .count(_.getPath.getName.endsWith(".parquet"))
    Map(
      "ingest.records" -> offered,
      "ingest.payload_bytes" -> payloads.tail.map(_.getBytes("UTF-8").length.toLong).sum.toDouble,
      "operators.accept_ratio" -> (expected.last - expected.head) / offered,
      "operators.parquet_files" -> pqFiles.toDouble,
      "operators.snapshot_files" ->
        SnapshotStore.entries(spark, snap, SnapshotStore.currentVersion(spark, snap)).size.toDouble,
      "operators.snapshot_versions" -> SnapshotStore.versions(spark, snap).size.toDouble)
  }

  def check(): Seq[Check] = {
    val (pq, snap) = last.get
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[FlareRow] =
      df.select(keys.head, "class_type", "begin_time", "peak_time", "end_time",
        "source_location", "active_region_num", "link").collect().map { r =>
        def ts(i: Int) = Option(r.getAs[java.time.LocalDateTime](i))
        FlareRow(r.getString(0), r.getString(1), ts(2), ts(3), ts(4),
          Option(r.getString(5)), Option(r.get(6)).map(_.asInstanceOf[Int]), r.getString(7))
      }.toSet
    val want = oracle.result
    val pqRows = rowsOf(spark.read.parquet(pq))
    val snapRows = rowsOf(SnapshotStore.read(spark, snap))
    def nullBegins(rows: Set[FlareRow]) = rows.count(_.beginTime.isEmpty)
    storedPerRow = (du(new File(pq)) + du(new File(snap))).toDouble / want.size
    val pqCount = spark.read.parquet(pq).count()
    val version = SnapshotStore.currentVersion(spark, snap)
    // re-delivering the final payload must be a no-op on both sinks
    val finalBatch = Donki.project(Donki.readJson(spark, Seq(payloads.last)))
    DedupAppend.append(spark, finalBatch, pq, keys, tie)
    SnapshotStore.appendDedup(spark, finalBatch, snap, keys, tie)
    val pqAfter = spark.read.parquet(pq).count()
    val versionAfter = SnapshotStore.currentVersion(spark, snap)
    Seq(
      Check("parquet sink equals the oracle",
        pqRows == want && nullBegins(pqRows) == oracle.nullBeginTimes,
        s"${pqRows.size} rows vs ${want.size}; ${(pqRows diff want).size} unexpected"),
      Check("snapshot sink equals the oracle",
        snapRows == want && nullBegins(snapRows) == oracle.nullBeginTimes,
        s"${snapRows.size} rows vs ${want.size}; ${(snapRows diff want).size} unexpected"),
      Check("sinks equal each other", pqRows == snapRows, "parquet and snapshot differ"),
      Check("re-delivery is a no-op", pqAfter == pqCount && versionAfter == version,
        s"parquet $pqAfter rows (was $pqCount), snapshot v$versionAfter (was v$version)"))
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  /** Bytes of both sinks per live row, measured before the re-delivery. */
  def storedBytesPerRow(): Double = storedPerRow
}
