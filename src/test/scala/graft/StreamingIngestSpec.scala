package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EventTime, Parity}
import graft.streaming.EventStreams

class StreamingIngestSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming ingest: landed batches dedup-append exactly once") {
    val root = Files.createTempDirectory("graft_stream_ingest_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val table = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString

    Files.writeString(landing.resolve("day1.json"), Parity.jsonBody(Parity.batchA))
    EventStreams.ingestFlares(spark, landing.toString, table, ckpt)
    assert(spark.read.parquet(table).count() == Parity.batchA.size)

    // land an overlapping second batch; restart resumes from checkpoint
    Files.writeString(landing.resolve("day2.json"), Parity.jsonBody(Parity.batchB))
    EventStreams.ingestFlares(spark, landing.toString, table, ckpt)
    val byKey = spark.read.parquet(table).collect()
      .map(r => r.getAs[String]("flr_id") -> r.getAs[String]("class_type")).toMap
    assert(byKey.size == 7)
    assert(byKey("2025-05-29T19:46:00-FLR-001") == "M3.1") // batch A won the conflict
  }

  test("streaming near-dup gate: streamed batches reproduce batch mining exactly") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_neardup_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val corpus = root.resolve("corpus").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Files.writeString(landing.resolve(name), df.toJSON.collect().mkString("\n"))
    // three arrival batches, each drained by its own AvailableNow run
    // (checkpoint resumes: only the newly landed file is processed)
    land("b1.json", docs.filter(col("doc_id") <= cut1))
    graft.streaming.EventStreams.mineNearDupsStream(
      spark, landing.toString, corpus, pairs, ckpt, 0.9)
    land("b2.json", docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2))
    graft.streaming.EventStreams.mineNearDupsStream(
      spark, landing.toString, corpus, pairs, ckpt, 0.9)
    land("b3.json", docs.filter(col("doc_id") > cut2))
    graft.streaming.EventStreams.mineNearDupsStream(
      spark, landing.toString, corpus, pairs, ckpt, 0.9)
    val streamed = spark.read.parquet(pairs).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val batch = graft.operators.TextDedup.minhashNearDups(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
    // the corpus table holds every doc exactly once
    assert(spark.read.parquet(corpus).count() == docs.count())
  }

  test("indexed streamed miner at vocab > 63: arrival-order batches reproduce batch mining") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_idx_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val idx = root.resolve("idx").toString
    val pairs = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    // vocab > 63 (lang-suffixed tokens): the mask streamed form refuses
    // here; the indexed service is the production path
    val docs = Tables.t(spark, sf, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("lang"))), " ").as("text"))
      .localCheckpoint(true)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Files.writeString(landing.resolve(name), df.toJSON.collect().mkString("\n"))
    // three arrival batches, each drained by its own AvailableNow run
    // (checkpoint resumes: only the newly landed file is processed)
    land("b1.json", docs.filter(col("doc_id") <= cut1))
    graft.streaming.EventStreams.mineNearDupsStreamIndexed(
      spark, landing.toString, idx, pairs, ckpt, 0.9)
    land("b2.json", docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2))
    graft.streaming.EventStreams.mineNearDupsStreamIndexed(
      spark, landing.toString, idx, pairs, ckpt, 0.9)
    land("b3.json", docs.filter(col("doc_id") > cut2))
    graft.streaming.EventStreams.mineNearDupsStreamIndexed(
      spark, landing.toString, idx, pairs, ckpt, 0.9)
    val streamed = spark.read.parquet(pairs).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val batch = graft.operators.TextDedup.minhashNearDupsUnbounded(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
    // the index holds every doc's set identity exactly once, and is fresh
    assert(spark.read.parquet(s"$idx/members").count() == docs.count())
    assert(graft.operators.LshIndex.verifyIndex(docs, idx))
  }

  test("indexed streamed miner: two landed files drain as two fold steps") {
    import org.apache.spark.sql.functions._
    graft.util.Fs.withTempDir("graft_idx_two_files_") { tmp =>
      val landing = new java.io.File(tmp, "landing"); landing.mkdirs()
      val ckpt = new java.io.File(tmp, "ckpt")
      val docs = Tables.t(spark, sf, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
      def land(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        Files.writeString(landing.toPath.resolve(name), df.toJSON.collect().mkString("\n"))
      land("b1.json", docs.filter(col("doc_id") < 30))
      land("b2.json", docs.filter(col("doc_id") >= 30))
      // both files are landed before ONE drain: the reader-side
      // maxFilesPerTrigger must still split them into bootstrap + append
      graft.streaming.EventStreams.mineNearDupsStreamIndexed(spark, landing.toString,
        new java.io.File(tmp, "idx").toString, new java.io.File(tmp, "pairs").toString,
        ckpt.toString, 0.9)
      val committed = new java.io.File(ckpt, "commits").list()
        .filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq
      assert(committed == Seq(0L, 1L), s"committed batch ids: $committed")
    }
  }

  test("streamed IVF maintenance: arrival batches fold to the batch index; idle drain is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val root = Files.createTempDirectory("graft_ivf_stream_")
    val landing = root.resolve("landing").toString
    val idx = root.resolve("idx").toString
    val ckpt = root.resolve("ckpt").toString
    val e = Tables.t(spark, sf, "embeddings")
    val slim = e.select(col("vec_id"), col("embedding"))
    // batch 1 bootstraps (trains centroids on itself); batches 2 and 3
    // fold in against the stored centroids; a final drain with nothing
    // landed must change nothing
    slim.filter(col("vec_id") % 3 === 0).coalesce(1).write.parquet(landing)
    graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
    slim.filter(col("vec_id") % 3 === 1).coalesce(1).write.mode("append").parquet(landing)
    graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
    slim.filter(col("vec_id") % 3 === 2).coalesce(1).write.mode("append").parquet(landing)
    graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
    def cellSet(path: String) = spark.read.parquet(path)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cellsAfter = cellSet(s"$idx/cells")
    graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
    val cellsIdle = cellSet(s"$idx/cells")
    assert(cellsIdle == cellsAfter, "idle drain must not mutate the index")
    // the streamed fold equals the batch lifecycle: build on batch 1,
    // append the rest — assignment against the SAME stored centroids
    val batchIdx = root.resolve("batch_idx").toString
    val b1 = e.filter(col("vec_id") % 3 === 0)
    Similarity.buildIvfIndexWith(b1, Similarity.kmeansCentroids(b1), batchIdx)
    Similarity.appendToIvfIndex(e.filter(col("vec_id") % 3 =!= 0), batchIdx)
    val batchCells = cellSet(s"$batchIdx/cells")
    assert(cellsAfter == batchCells)
    assert(Similarity.verifyIvfIndex(e, idx), "maintained index must verify fresh")
    graft.util.Fs.deleteTree(root.toFile)
  }

  test("streaming CDC gate: streamed latest-wins state equals batch compaction; re-delivery is a no-op") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_cdc_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val log = Tables.t(spark, sf, "events").selectExpr(
      "user_id", "event_type", "unix_micros(ts) as ts_us", "event_id",
      "cast(round(value * 100) as bigint) as cents")
    def land(name: String, pred: org.apache.spark.sql.Column): Unit =
      Files.writeString(landing.resolve(name),
        log.filter(pred).toJSON.collect().mkString("\n"))
    // three arrival slices keyed by event parity/thirds — NOT by time, so
    // per-key versions interleave across batches and order-independence of
    // the merge is actually exercised
    land("b1.json", col("event_id") % 3 === 0)
    EventStreams.cdcUpsertStream(spark, landing.toString, state, ckpt)
    land("b2.json", col("event_id") % 3 === 1)
    EventStreams.cdcUpsertStream(spark, landing.toString, state, ckpt)
    land("b3.json", col("event_id") % 3 === 2)
    EventStreams.cdcUpsertStream(spark, landing.toString, state, ckpt)
    def snapshot(): Set[(Long, String, Long, Long, Long)] =
      spark.read.parquet(state).collect().map(r =>
        (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"),
          r.getAs[Long]("cents"))).toSet
    val streamed = snapshot()
    val batch = graft.operators.UpsertState
      .compact(log, keys = Seq("user_id"), version = Seq("ts_us", "event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // re-deliver slice 1 under a new name: the merge must be a no-op
    land("b1_replay.json", col("event_id") % 3 === 0)
    EventStreams.cdcUpsertStream(spark, landing.toString, state, ckpt)
    assert(snapshot() == batch, "re-delivered batch must not change state")
    // live view drops tombstoned keys
    val live = graft.operators.UpsertState
      .current(spark.read.parquet(state), "event_type", "error")
    assert(live.count() == batch.count(_._2 != "error"))
    // crash window: the state swap died between renames, stranding the
    // state at the backup name — the next merge (via the shared TableSwap
    // recovery) must restore it, not bootstrap from empty
    assert(new java.io.File(state).renameTo(new java.io.File(state + "__premerge")))
    land("b1_replay2.json", col("event_id") % 3 === 0)
    EventStreams.cdcUpsertStream(spark, landing.toString, state, ckpt)
    assert(snapshot() == batch,
      "the stranded upsert state must be restored and the replay stay a no-op")
    assert(!new java.io.File(state + "__premerge").exists)
    assert(!new java.io.File(state + "__merging").exists)
  }

  test("streaming as-of gate: any event slicing folds to the batch enrichment") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_asof_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val ordersPath = root.resolve("orders").toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    Tables.t(spark, sf, "orders").selectExpr(
      "o_custkey as user_id", "unix_micros(cast(o_orderdate as timestamp)) as ts_us",
      "o_orderkey").write.parquet(ordersPath)
    val events = Tables.t(spark, sf, "events").selectExpr(
      "user_id", "unix_micros(ts) as ts_us", "event_id")
    def land(name: String, pred: org.apache.spark.sql.Column): Unit =
      Files.writeString(landing.resolve(name),
        events.filter(pred).toJSON.collect().mkString("\n"))
    // slices keyed by id parity — NOT time-ordered: per-event independence
    // (each answer reads only history, never sibling events) is the law
    land("e1.json", col("event_id") % 3 === 0)
    EventStreams.asofEnrichStream(spark, landing.toString, ordersPath, out, ckpt)
    land("e2.json", col("event_id") % 3 === 1)
    EventStreams.asofEnrichStream(spark, landing.toString, ordersPath, out, ckpt)
    land("e3.json", col("event_id") % 3 === 2)
    EventStreams.asofEnrichStream(spark, landing.toString, ordersPath, out, ckpt)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("asof_orderkey"), r.getAs[Long]("asof_ts_us"))).toSet
    val streamed = rows(spark.read.parquet(out))
    // DOUBLE DELIVERY: slice 1 re-lands under a new name (the checkpoint
    // sees a fresh file, so the batch genuinely re-runs) — foreachBatch is
    // at-least-once, and the DedupAppend sink keyed on event_id must make
    // the replay a row-level no-op (the q83 law, asserted on THIS sink)
    land("e1_replay.json", col("event_id") % 3 === 0)
    EventStreams.asofEnrichStream(spark, landing.toString, ordersPath, out, ckpt)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a re-delivered event batch must not append duplicate enriched rows")
    val batch = rows(EventStreams.asofEnrich(events,
      spark.read.parquet(ordersPath)))
    assert(streamed == batch && batch.nonEmpty)
    // the streamed answer also agrees with q19/q67's scored semantics:
    // same keys as the batch merge restricted to enriched events
    assert(streamed.map(_._1) == batch.map(_._1))
  }

  test("streaming rollup gate: streamed partials merge to the full recompute") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_rollup_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val rollup = root.resolve("rollup").toString
    val ckpt = root.resolve("ckpt").toString
    val log = Tables.t(spark, sf, "events").selectExpr(
      "event_type", "unix_micros(ts) as ts_us",
      "cast(round(value * 100) as bigint) as cents", "event_id")
    def land(name: String, pred: org.apache.spark.sql.Column): Unit =
      Files.writeString(landing.resolve(name),
        log.filter(pred).drop("event_id").toJSON.collect().mkString("\n"))
    // parity slices: the same (type, day) group receives rows from every
    // slice, so the merge is a genuine partial combine
    land("b1.json", col("event_id") % 3 === 0)
    EventStreams.rollupMaintainStream(spark, landing.toString, rollup, ckpt)
    land("b2.json", col("event_id") % 3 === 1)
    EventStreams.rollupMaintainStream(spark, landing.toString, rollup, ckpt)
    land("b3.json", col("event_id") % 3 === 2)
    EventStreams.rollupMaintainStream(spark, landing.toString, rollup, ckpt)
    def snapshot(): Set[(String, String, Long, Long, Long)] =
      spark.read.parquet(rollup).collect().map(r =>
        (r.getAs[String]("event_type"), r.getAs[String]("d"),
          r.getAs[Long]("n"), r.getAs[Long]("sum_cents"),
          r.getAs[Long]("max_cents"))).toSet
    val streamed = snapshot()
    val full = log.selectExpr("event_type",
        "date_format(timestamp_micros(ts_us), 'yyyy-MM-dd') as d", "cents")
      .groupBy(col("event_type"), col("d"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("cents")).as("sum_cents"),
        org.apache.spark.sql.functions.max(col("cents")).as("max_cents"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == full && full.nonEmpty)
    // a rerun with no new files must not change the table (checkpoint:
    // exactly-once per landed file — the guarantee sums depend on)
    EventStreams.rollupMaintainStream(spark, landing.toString, rollup, ckpt)
    assert(snapshot() == full)
  }

  test("streaming segment gate: streamed batches reproduce batch segment dedup") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_seg_stream_")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    val corpus = root.resolve("corpus").toString
    val stats = root.resolve("stats").toString
    val ckpt = root.resolve("ckpt").toString
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Files.writeString(landing.resolve(name), df.toJSON.collect().mkString("\n"))
    // doc_id-ordered arrival (the fold-law precondition), three batches
    land("b1.json", docs.filter(col("doc_id") < 50))
    graft.streaming.EventStreams.segmentGateStream(
      spark, landing.toString, corpus, stats, ckpt, 8)
    land("b2.json", docs.filter(col("doc_id") >= 50 && col("doc_id") < 100))
    graft.streaming.EventStreams.segmentGateStream(
      spark, landing.toString, corpus, stats, ckpt, 8)
    land("b3.json", docs.filter(col("doc_id") >= 100))
    graft.streaming.EventStreams.segmentGateStream(
      spark, landing.toString, corpus, stats, ckpt, 8)
    val streamed = spark.read.parquet(stats).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
                 r.getAs[Long]("n_dup_segs"), r.getAs[Long]("n_tokens_kept"))).toSet
    val batch = graft.operators.Curation.segmentDedup(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}; " +
        s"diff=${((batch -- streamed) ++ (streamed -- batch)).take(3)}")
    assert(batch.exists(_._3 > 0)) // the corpus genuinely has span dups
    assert(spark.read.parquet(corpus).count() == docs.count())
  }

  test("streaming shard deal: one batch from empty equals x68's batch deal; folds conserve and stay balanced") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    def land(dir: java.nio.file.Path, name: String, df: org.apache.spark.sql.DataFrame): Unit =
      Files.writeString(dir.resolve(name), df.toJSON.collect().mkString("\n"))
    def sheet(assignPath: String): Set[(Long, Long, Long)] =
      spark.read.parquet(assignPath).groupBy(col("shard"))
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum(col("n_tok")).as("total_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // one-shot from empty ≡ the batch deal (zero loads order shards by id)
    val r1 = Files.createTempDirectory("graft_shard_stream1_")
    val l1 = r1.resolve("landing"); Files.createDirectories(l1)
    land(l1, "all.json", docs)
    EventStreams.shardDealStream(spark, l1.toString,
      r1.resolve("assign").toString, r1.resolve("ckpt").toString, 8)
    val batchSheet = graft.operators.Curation.shardAssign(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sheet(r1.resolve("assign").toString) == batchSheet && batchSheet.size == 8)

    // three-slice fold: conservation + per-shard count spread ≤ #batches
    val r2 = Files.createTempDirectory("graft_shard_stream2_")
    val l2 = r2.resolve("landing"); Files.createDirectories(l2)
    val assign2 = r2.resolve("assign").toString
    val ckpt2 = r2.resolve("ckpt").toString
    land(l2, "b1.json", docs.filter(col("doc_id") % 3 === 0))
    EventStreams.shardDealStream(spark, l2.toString, assign2, ckpt2, 8)
    land(l2, "b2.json", docs.filter(col("doc_id") % 3 === 1))
    EventStreams.shardDealStream(spark, l2.toString, assign2, ckpt2, 8)
    land(l2, "b3.json", docs.filter(col("doc_id") % 3 === 2))
    EventStreams.shardDealStream(spark, l2.toString, assign2, ckpt2, 8)
    val assigned = spark.read.parquet(assign2)
    assert(assigned.select("doc_id").distinct().count() == docs.count(),
      "every doc assigned exactly once")
    assert(assigned.count() == docs.count())
    val counts = sheet(assign2).toSeq.map(_._2)
    assert(counts.size == 8 && counts.max - counts.min <= 3,
      s"per-shard doc counts must stay within one per dealt batch: $counts")
    // replay: re-land slice 1 under a new name — assignments unchanged
    val before = spark.read.parquet(assign2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    land(l2, "b1_replay.json", docs.filter(col("doc_id") % 3 === 0))
    EventStreams.shardDealStream(spark, l2.toString, assign2, ckpt2, 8)
    val after = spark.read.parquet(assign2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(after == before, "re-delivered batch must not reassign or duplicate")
  }

  test("stateful sessionization: closed sessions consistent with batch query") {
    val gapUs = 30L * 60L * 1000000L
    val streamed = EventStreams.sessionizeStateful(spark, sf, "sessions_out")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
      .toSet
    // Independently derive the expected CLOSED-session set: sessions close
    // in-stream either by a same-user >gap jump or by the event-time
    // timeout once the global watermark (max ts, 0s delay) passes
    // last+gap. Only sessions within one gap of the final watermark stay
    // open — an unbounded stream has no "end".
    val evs = Tables.t(spark, sf, "events")
      .select(org.apache.spark.sql.functions.col("user_id"),
              org.apache.spark.sql.functions.unix_micros(
                org.apache.spark.sql.functions.col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxTsUs = evs.map(_._2).max
    val expected = evs.groupBy(_._1).flatMap { case (user, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.tail.foldLeft(List((user, ts.head, ts.head, 1L))) {
        case ((u, s0, last, n) :: rest, t) =>
          if (t - last <= gapUs) (u, s0, t, n + 1) :: rest
          else (u, t, t, 1L) :: (u, s0, last, n) :: rest
        case (Nil, _) => Nil // unreachable: seeded with one session
      }
      // watermark is ms-truncated in Spark: timeout fires iff last+gap < wm
      sessions.filter { case (_, _, last, _) => last / 1000L + gapUs / 1000L < maxTsUs / 1000L }
    }.toSet
    assert(streamed == expected,
      s"closed-session sets differ: ${streamed.size} streamed vs ${expected.size} expected; " +
        s"missing=${(expected -- streamed).take(3)} extra=${(streamed -- expected).take(3)}")
    // batch q16 must count at least as many sessions per user as we closed
    val batch = EventTime.q16Sessionize(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
    streamed.groupBy(_._1).foreach { case (user, closed) =>
      assert(closed.size <= batch(user))
    }
  }
}
