package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EventTime
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming tumbling agg over the landing dir equals the batch query") {
    val streamed = EventStreams.runOnce(spark, sf, "stream_q15")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toInstant,
        r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    val batch = EventTime.q15TumblingAgg(spark, sf)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("window_start")
        .toInstant(java.time.ZoneOffset.UTC),
        r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    assert(streamed == batch)
  }

  test("tumblingAgg keeps event-time semantics: append output mode is accepted") {
    // grouping by window(...).getField("start") strips the event-time
    // metadata — append mode would throw at analysis and watermark state
    // eviction would never apply; grouping by the window column keeps both
    val q = EventStreams.tumblingAgg(EventStreams.readEvents(spark, sf))
      .writeStream.outputMode("append").format("memory").queryName("tumbling_append_ok")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    // bounded input: the final watermark closes all but the last window(s)
    assert(spark.table("tumbling_append_ok").count() > 0,
      "closed windows must emit under append mode")
  }

  test("scored q70 (maintained tumbling rollup via writeStream) equals batch q15 row for row") {
    val got = EventTime.q70StreamTumbling(spark, sf).collect().toSeq
    val want = EventTime.q15TumblingAgg(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("scored q74 (CDC state via writeStream) equals batch q56 row for row") {
    val got = graft.queries.ChangeData.q74StreamCdc(spark, sf).collect().toSeq
    val want = graft.queries.ChangeData.q56CdcMerge(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming sliding agg equals the batch sliding query") {
    val streamed = EventStreams.runOnceSliding(spark, sf, "stream_q23")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toInstant,
        r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    val batch = EventTime.q23SlidingAgg(spark, sf)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("window_start")
        .toInstant(java.time.ZoneOffset.UTC),
        r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    assert(streamed == batch)
  }

  test("curation gate runs unchanged over a stream: quality scores match batch") {
    val batchDocs = Tables.t(spark, sf, "documents")
    val streamDocs = spark.readStream.schema(batchDocs.schema)
      .option("pathGlobFilter", "documents.parquet") // the file source wants a dir
      .parquet(sf)
    val q = graft.operators.Curation.qualityScore(streamDocs)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_quality")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val batch = graft.operators.Curation.qualityScore(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("number scrubbing runs unchanged over a stream: masks match batch") {
    val batchDocs = Tables.t(spark, sf, "documents")
    val streamDocs = spark.readStream.schema(batchDocs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = graft.operators.Curation.scrubNumbers(
        streamDocs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_scrub")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_scrub").collect()
      .map(r => (r.getLong(0), r.getAs[String]("masked"), r.getAs[Long]("n_masked"))).toSet
    val batch = graft.operators.Curation.scrubNumbers(
        batchDocs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), "text")
      .collect()
      .map(r => (r.getLong(0), r.getAs[String]("masked"), r.getAs[Long]("n_masked"))).toSet
    assert(streamed == batch)
  }

  test("stream-stream full outer: matched rows = inner; each side's lonely rows = its outer complement") {
    import org.apache.spark.sql.functions._
    // bounded landing + far-future sentinel so both watermarks prove
    // every negative (q127's scored mechanics, checked row-level here)
    val tmp = java.nio.file.Files.createTempDirectory("graft_full_outer_law_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val e = Tables.t(spark, sf, "events").select(col("user_id"), col("event_id"), col("ts"))
      val maxTs = e.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"))
      e.unionByName(sentinel).write.parquet(landing)
      val stream = spark.readStream.schema(spark.read.parquet(landing).schema).parquet(landing)
      val q = EventStreams.pairWithinFull(stream)
        .writeStream.outputMode("append").format("memory").queryName("full_pairs").start()
      q.processAllAvailable(); q.stop()
      val rows = spark.table("full_pairs").filter(col("user_id") >= 0).collect()
        .map(r => (r.getAs[Long]("user_id"), Option(r.getAs[java.lang.Long]("a_id")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("b_id")).map(_.toLong)))
      val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      val b = e.select(col("user_id").as("b_user"), col("event_id").as("b_id"), col("ts").as("b_ts"))
      val inner = a.join(b,
          col("user_id") === col("b_user") && col("a_id") =!= col("b_id") &&
            col("b_ts") >= col("a_ts") &&
            col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("user_id"), col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), Some(r.getLong(1)): Option[Long], Some(r.getLong(2)): Option[Long])).toSet
      assert(rows.filter(r => r._2.nonEmpty && r._3.nonEmpty).toSet == inner)
      // left-lonely = a-ids with no inner match; right-lonely symmetric
      val allIds = e.select(col("user_id"), col("event_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lonelyLeft = rows.collect { case (u, Some(aId), None) => (u, aId) }.toSet
      val lonelyRight = rows.collect { case (u, None, Some(bId)) => (u, bId) }.toSet
      assert(lonelyLeft == (allIds -- inner.map(r => (r._1, r._2.get))))
      assert(lonelyRight == (allIds -- inner.map(r => (r._1, r._3.get))))
      assert(lonelyLeft.nonEmpty && lonelyRight.nonEmpty)
    } finally graft.util.Fs.deleteTree(tmp)
  }

  test("stream-stream join: pairs match the static self-join") {
    import org.apache.spark.sql.functions._
    val q = EventStreams.pairWithin(EventStreams.readEvents(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_pairs")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_pairs").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("a_id"),
        r.getAs[Long]("b_id"), r.getAs[Long]("gap_us"))).toSet
    val e = Tables.t(spark, sf, "events")
    val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = e.select(col("user_id").as("b_user"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    val batch = a.join(b,
        col("user_id") === col("b_user") && col("a_id") =!= col("b_id") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        unix_micros(col("b_ts")).minus(unix_micros(col("a_ts"))).as("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup: one survivor per event_id, state bounded by watermark") {
    val q = EventStreams.dedupStream(EventStreams.readEvents(spark, sf))
      .select(org.apache.spark.sql.functions.col("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup")
      .start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("stream_dedup").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "no duplicate event_ids may survive")
    val batchDistinct = Tables.t(spark, sf, "events")
      .select(org.apache.spark.sql.functions.col("event_id")).distinct().count()
    assert(ids.length == batchDistinct)
  }

  test("scored q83 (double-delivered stream dedup) equals the single-delivery batch rollup") {
    import org.apache.spark.sql.functions._
    val got = EventTime.q83StreamDedup(spark, sf).collect().toSeq
    val want = Tables.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        Tables.sumMoney2(col("value")).as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(got.nonEmpty && got == want)
    // every duplicate gone: n equals the distinct-id count per type
    got.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Long]("n_ids")))
  }

  test("scored q90 (streamed sliding windows + flush sentinel) equals batch q23 row for row") {
    val got = EventTime.q90StreamSliding(spark, sf).collect().toSeq
    val want = EventTime.q23SlidingAgg(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("state-store reader: dedup key state is inspectable and watermark-bounded") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_").toFile
    try {
      val out = new java.io.File(tmp, "out").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val q = EventStreams.dedupStream(EventStreams.readEvents(spark, sf))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the state DATA SOURCE reads the checkpoint's store directly — the
      // operational introspection surface (what is my stream remembering?)
      val state = spark.read.format("statestore").load(ckpt)
      val events = Tables.t(spark, sf, "events")
      val distinctIds = events.select(col("event_id")).distinct().count()
      val maxTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val withinWatermark = events
        .filter(unix_micros(col("ts")) >= maxTs - 3600L * 1000000L)
        .select(col("event_id")).distinct().count()
      val n = state.count()
      // every retained key is a real distinct id; eviction may or may not
      // have run its final no-data batch, so the floor is the
      // within-watermark set and the ceiling is all distinct keys
      assert(n >= withinWatermark && n <= distinctIds,
        s"state rows $n outside [$withinWatermark, $distinctIds]")
      assert(state.columns.contains("key"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  test("scored q93 (stream-static anti join) equals the batch anti-join rollup") {
    import org.apache.spark.sql.functions._
    val got = EventTime.q93StreamAnti(spark, sf).collect().toSeq
    val block = Tables.t(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("user_id")).distinct()
    val want = Tables.t(spark, sf, "events")
      .join(block, Seq("user_id"), "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Tables.sumMoney2(col("value")).as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("scored q88 (streamed session windows + flush sentinel) equals batch q34 row for row") {
    val got = EventTime.q88StreamSession(spark, sf).collect().toSeq
    val want = EventTime.q34SessionWindow(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("join-state eviction law: each side's recovered buffer is EXACTLY its retained suffix") {
    // q126's semantics, pinned: for pairWithin's condition
    // b_ts ∈ [a_ts, a_ts + W] with delay d, the final watermark
    // wm = max(ts) − d leaves the LEFT buffer holding exactly
    // {a_ts ≥ wm − W} (an older left row can no longer meet any future
    // right row, whose b_ts is ≥ wm) and the RIGHT buffer exactly
    // {b_ts ≥ wm} (an older right row can no longer meet any future left
    // row) — no ±1 ms adjustment on either side, asserted as set equality
    // in both directions so the law fails on under- OR over-eviction.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_jevict_law_")
    try {
      val landing = root.resolve("landing").toString
      val out = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      val ev = Tables.t(spark, sf, "events")
        .select(col("user_id"), col("event_id"), col("ts")).localCheckpoint(true)
      val cutTs = lit("2024-01-21").cast("timestamp")
      ev.filter(col("ts") < cutTs).coalesce(1).write.parquet(landing)
      ev.filter(col("ts") >= cutTs).coalesce(1).write.mode("append").parquet(landing)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      val q = graft.streaming.EventStreams
        .pairWithin(stream, windowMinutes = 10, watermark = "7 days")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      def side(s: String, idCol: String) =
        spark.read.format("statestore").option("joinSide", s).load(ckpt)
          .select(col(s"value.$idCol")).collect().map(_.getLong(0)).toSet
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val wm = maxTs.getTime - 7L * 24 * 3600 * 1000
      def retained(cutMs: Long) =
        ev.filter(col("ts") >= lit(new java.sql.Timestamp(cutMs)))
          .select(col("event_id")).collect().map(_.getLong(0)).toSet
      val lWant = retained(wm - 600000L); val rWant = retained(wm)
      assert(rWant.nonEmpty && lWant.size < ev.count(),
        "the fixture must genuinely evict on both sides")
      assert(side("left", "a_id") == lWant, "left buffer ≠ {a_ts ≥ wm − W}")
      assert(side("right", "b_id") == rWant, "right buffer ≠ {b_ts ≥ wm}")
    } finally graft.util.Fs.deleteTree(root.toFile)
  }

  test("eviction law: recovered state is EXACTLY the watermark-retained suffix") {
    // the q102/q118/q119 introspection gates use a no-evict watermark; this
    // law runs one where the watermark GENUINELY evicts. Semantics pinned
    // here (and relied on by q123): under Trigger.AvailableNow the run ends
    // with a no-data micro-batch that evicts with the FINAL watermark
    // max(ts) - delay, so the recovered dedup state is exactly the keys
    // with ts >= that cutoff — independent of how files were batched
    // (anything below the cutoff is either evicted by a watermark ≥ its
    // batch's, or dropped as late by a watermark below the final one; both
    // watermarks are ≤ the final cutoff, so the two fates partition the
    // sub-cutoff keys and nothing else). The law fails if eviction
    // under-fires (extra keys recovered) OR over-fires (retained keys
    // missing) — set equality in both directions.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_evict_law_")
    try {
      val landing = root.resolve("landing"); java.nio.file.Files.createDirectories(landing)
      val out = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      val ev = Tables.t(spark, sf, "events").select(col("event_id"), col("ts"))
        .localCheckpoint(true)
      def land(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.writeString(landing.resolve(name),
          df.toJSON.collect().mkString("\n"))
      // a time split (old file, tail file) so the mid-stream watermark also
      // evicts — the law must hold whatever the file batching did
      val cutTs = lit("2024-01-21").cast("timestamp")
      land("b1.json", ev.filter(col("ts") < cutTs))
      land("b2.json", ev.filter(col("ts") >= cutTs))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(landing.toString)
        .withWatermark("ts", "7 days")
        .dropDuplicates("event_id", "ts")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateKeys = spark.read.format("statestore").load(ckpt)
        .select(col("key.event_id")).collect().map(_.getLong(0)).toSet
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val cutoff = new java.sql.Timestamp(maxTs.getTime - 7L * 24 * 3600 * 1000)
      val retained = ev.filter(col("ts") >= lit(cutoff))
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      val all = ev.count()
      assert(retained.nonEmpty && retained.size < all,
        s"the fixture must genuinely evict: retained=${retained.size} of $all")
      assert(stateKeys == retained,
        s"under-evicted=${(stateKeys -- retained).take(3)} " +
          s"over-evicted=${(retained -- stateKeys).take(3)} " +
          s"sizes state=${stateKeys.size} retained=${retained.size}")
    } finally graft.util.Fs.deleteTree(root.toFile)
  }

  test("drain: a failing foreachBatch rethrows through the drain and leaves no active stream") {
    graft.util.Fs.withTempDir("graft_drain_fail_") { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      spark.range(3).write.json(landing)
      val boom = new IllegalStateException("batch failed")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        EventStreams.drain(spark.readStream.schema("id LONG").json(landing)
          .writeStream
          .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            throw boom
          }, new java.io.File(tmp, "ckpt").getAbsolutePath)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).contains(boom),
        s"the batch's own failure must be the cause: $e")
      assert(spark.streams.active.isEmpty, "a failed drain must not leave its query running")
    }
  }

  test("withTempDir deletes its tree when the body throws") {
    var seen: java.io.File = null
    val e = intercept[IllegalStateException] {
      graft.util.Fs.withTempDir("graft_tmp_law_") { tmp =>
        seen = tmp
        spark.range(3).write.parquet(new java.io.File(tmp, "t").getAbsolutePath)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen != null && !seen.exists(), s"$seen must be deleted")
  }
}
