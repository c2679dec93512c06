package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Drives the real readStream pipelines with MemoryStream and checks the
  * streaming results equal the batch-equivalent semantics in StreamOps. */
class StreamsSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def events = Seq(
    (1L, ts("2024-01-01 00:01:00"), 1L, "click", 1.0),
    (2L, ts("2024-01-01 00:02:00"), 1L, "click", 2.0),
    (3L, ts("2024-01-01 00:07:30"), 2L, "view", 3.0),
    (2L, ts("2024-01-01 00:02:00"), 1L, "click", 2.0), // duplicate event_id
    (4L, ts("2024-01-01 01:00:00"), 1L, "click", 4.0)) // new session for user 1

  test("streaming tumbling counts match batch window aggregation") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.tumblingCounts(df).writeStream
      .format("memory").queryName("tumbling").outputMode("complete").start()
    input.addData(events: _*)
    q.processAllAvailable()
    val got = sess.sql("SELECT win_start, n FROM tumbling ORDER BY win_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    q.stop()
    assert(got == Seq(
      ("2024-01-01 00:00:00.0", 3L), // 00:01, 00:02, 00:02-dup
      ("2024-01-01 00:05:00.0", 1L),
      ("2024-01-01 01:00:00.0", 1L)))
  }

  test("streaming sliding counts place each event in its 3 overlapping windows") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.slidingCounts(df).writeStream
      .format("memory").queryName("sliding").outputMode("complete").start()
    input.addData(events: _*)
    q.processAllAvailable()
    val got = sess.sql("SELECT win_start, n FROM sliding ORDER BY win_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    q.stop()
    // 15-min windows sliding every 5: events at 00:01/00:02/00:02dup fall in
    // [23:50, 23:55, 00:00]-started windows, 00:07:30 in [23:55, 00:00,
    // 00:05], 01:00 in [00:50, 00:55, 01:00]
    assert(got == Seq(
      ("2023-12-31 23:50:00.0", 3L),
      ("2023-12-31 23:55:00.0", 4L),
      ("2024-01-01 00:00:00.0", 4L),
      ("2024-01-01 00:05:00.0", 1L),
      ("2024-01-01 00:50:00.0", 1L),
      ("2024-01-01 00:55:00.0", 1L),
      ("2024-01-01 01:00:00.0", 1L)))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.dedupByEventId(df).writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    input.addData(events: _*)
    q.processAllAvailable()
    val ids = sess.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("streaming session windows close after the gap and match batch semantics") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.sessionCounts(df).writeStream
      .format("memory").queryName("sessions").outputMode("complete").start()
    input.addData(events: _*)
    q.processAllAvailable()
    val got = sess.sql("SELECT user_id, session_start, n_events FROM sessions ORDER BY user_id, session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
    q.stop()
    // user 1: one session 00:01-00:02 (3 events incl dup), one at 01:00;
    // user 2: one session at 00:07:30
    assert(got == Seq(
      (1L, "2024-01-01 00:01:00.0", 3L),
      (1L, "2024-01-01 01:00:00.0", 1L),
      (2L, "2024-01-01 00:07:30.0", 1L)))
  }

  test("stream-stream interval join matches activity to in-window signups only") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val signups = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val activity = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.signupActivityJoin(
        signups.toDF.toDF(cols: _*), activity.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("sa").outputMode("append").start()
    signups.addData((10L, ts("2024-01-01 00:00:00"), 1L, "signup", 0.0))
    activity.addData(
      (11L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0), // in window → match
      (12L, ts("2024-01-01 00:20:00"), 1L, "view", 2.0),  // past window → drop
      (13L, ts("2024-01-01 00:05:00"), 2L, "click", 3.0)) // no signup → drop
    q.processAllAvailable()
    val got = sess.sql("SELECT event_id, user_id, event_type FROM sa ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    q.stop()
    assert(got == Seq((11L, 1L, "click")))
  }

  test("stream_stream_join batch key equals the streaming twin on the sf events table") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = graft.streaming.StreamOps.streamStreamJoin(sess, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    // feed the same table through the real watermarked stream-stream join
    val events = graft.Tables.t(sess, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val signups = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val activity = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = Streams.signupActivityJoin(
        signups.toDF.toDF(cols: _*), activity.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("ssj_twin").outputMode("append").start()
    signups.addData(events.filter(_._4 == "signup"): _*)
    activity.addData(events.filter(_._4 != "signup"): _*)
    q.processAllAvailable()
    val streamed = sess.sql(
        "SELECT event_id, user_id, unix_micros(signup_ts), unix_micros(act_ts), event_type FROM ssj_twin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    q.stop()
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Streams.Ev]
    val q = Streams.runningUserTotals(input.toDS()).writeStream
      .format("memory").queryName("totals").outputMode("update").start()
    input.addData(Streams.Ev(1, ts("2024-01-01 00:00:01"), 7L, "click", 10.0))
    q.processAllAvailable()
    input.addData(Streams.Ev(2, ts("2024-01-01 00:00:02"), 7L, "click", 5.0))
    q.processAllAvailable()
    val rows = sess.sql("SELECT user_id, n, total FROM totals").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    // update mode emits one row per batch; the last reflects accumulated state
    assert(rows.contains((7L, 2L, 15.0)))
  }

  test("flatMapGroupsWithState emits only anomalous events, carrying state across batches") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Streams.Ev]
    val q = Streams.valueAnomalies(input.toDS()).writeStream
      .format("memory").queryName("anomalies").outputMode("append").start()
    input.addData(
      Streams.Ev(1, ts("2024-01-01 00:00:01"), 9L, "click", 10.0),
      Streams.Ev(2, ts("2024-01-01 00:00:02"), 9L, "click", 12.0))
    q.processAllAvailable()
    input.addData(Streams.Ev(3, ts("2024-01-01 00:00:03"), 9L, "click", 100.0)) // > 3*avg(11)
    q.processAllAvailable()
    input.addData(Streams.Ev(4, ts("2024-01-01 00:00:04"), 9L, "click", 20.0))  // avg now ~40.7, not anomalous
    q.processAllAvailable()
    val got = sess.sql("SELECT event_id FROM anomalies").collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(got == Seq(3L))
  }

  test("nearDupClaims: band owners persist across micro-batches and equal the batch claim fold") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // real corpus, arrival order = doc_id, split into 3 arrival chunks —
    // a doc in chunk 3 must be claimed against an owner admitted in chunk 1
    val docs = graft.Tables.t(sess, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDupClaims(input.toDS().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("ndclaims").outputMode("append").start()
    chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    val streamed = sess.sql("SELECT doc_id, cand FROM ndclaims").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    q.stop()
    val batch = StreamOps.bandClaims(graft.llm.Dedup.minhashSignatureIndex(
        sess, graft.Tables.t(sess, sf, "documents")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(streamed.nonEmpty, "corpus has planted near-dups; claims must exist")
    assert(streamed == batch)
    // cross-batch persistence really exercised: at least one claim pairs
    // docs from different arrival chunks
    def chunkOf(id: Long) = chunks.indexWhere(_.exists(_._1 == id))
    assert(streamed.exists { case (d, o) => chunkOf(d) != chunkOf(o) },
      "no cross-chunk claim — the split did not exercise persisted state")
  }

  test("tieredNearDupClaims: lake-tiered claims equal the GroupState fold across compaction boundaries; zero executor state; replayed batch is idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val root = graft.Tables.scratchDir("tiered_nd")
    val (indexDir, claimsDir, ckpt) = (s"$root/index", s"$root/claims", s"$root/ckpt")
    // real corpus, arrival order = doc_id, 6 arrival chunks with
    // compactEvery=2 → compaction fires at batch 2 and 4: claims must be
    // correct across BOTH compaction boundaries (batch 3 probes base_b2 +
    // delta b3's predecessors; batch 5 probes base_b4 + b5's)
    val docs = graft.Tables.t(sess, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 5) / 6).toSeq
    val input = MemoryStream[(Long, String)]
    val q = Streams.tieredNearDupClaims(
      input.toDS().toDF("doc_id", "text"), indexDir, claimsDir, ckpt, compactEvery = 2)
    chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    // zero executor state: no stateful operator anywhere in the query
    assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
      "tiered path must not register any state store operator")
    q.stop()
    val streamed = Streams.readTieredClaims(sess, claimsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val monolithic = StreamOps.bandClaims(graft.llm.Dedup.minhashSignatureIndex(
        sess, graft.Tables.t(sess, sf, "documents")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(streamed.nonEmpty, "corpus has planted near-dups; claims must exist")
    assert(streamed == monolithic) // exact multiset equality, duplicates included
    // cross-compaction persistence really exercised: some claim's owner was
    // admitted at least two chunks (one compaction) before the claimant
    def chunkOf(id: Long) = chunks.indexWhere(_.exists(_._1 == id))
    assert(streamed.exists { case (d, o) => chunkOf(d) - chunkOf(o) >= 2 },
      "no claim spans a compaction boundary — the split did not exercise the base tier")
    // index artifact count bounded by the cadence: after batch 5 (compaction
    // at 4, GC at 5) the index holds base_b4 + b5 only
    val arts = Option(new java.io.File(indexDir).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted
    assert(arts.size <= 3, s"index artifacts not bounded: $arts")
    assert(arts.exists(_.startsWith("base_")), s"no compacted base present: $arts")
    // replay idempotence: re-deliver the LAST batch (the only replayable one
    // in SS semantics) through the same per-batch core with the same batchId
    val lastId = (chunks.length - 1).toLong
    val replaySigs = graft.llm.Dedup.minhashSignatureIndex(
      sess, chunks.last.toSeq.toDF("doc_id", "text"))
    val replayClaims = StreamOps.tieredNearDupBatch(
      graft.llm.Dedup.bandsOf(replaySigs), indexDir, lastId, compactEvery = 2)
    replayClaims.write.mode("overwrite").parquet(s"$claimsDir/b$lastId")
    replayClaims.unpersist()
    val afterReplay = Streams.readTieredClaims(sess, claimsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(afterReplay == monolithic, "replayed batch changed the claims store")
  }

  test("file-source stream over real testdata equals the batch tumbling aggregation") {
    // the real events parquet driven through readStream: one micro-batch
    // consumes the file, and the streaming result must equal the batch twin
    val sess = spark
    sess.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file stream source needs a directory; stage the single-file table
    val dir = java.nio.file.Paths.get(Tables.scratchDir("stream_src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // testdata generations differ: ts is either TIMESTAMP(NANOS) (read as
    // long via the legacy conf, then truncated) or plain TIMESTAMP(MICROS);
    // probe the footer with a batch read and build the stream schema to match
    val tsIsLong = sess.read.parquet(dir.toString).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val raw0 = sess.readStream
      .schema(s"event_id LONG, ts ${if (tsIsLong) "LONG" else "TIMESTAMP"}, " +
        "user_id LONG, event_type STRING, value DOUBLE")
      .parquet(dir.toString)
    val raw = if (tsIsLong) raw0.withColumn("ts", expr("timestamp_micros(ts div 1000)")) else raw0
    val q = Streams.tumblingCounts(raw).writeStream
      .format("memory").queryName("file_tumbling").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = sess.sql("SELECT unix_micros(win_start) AS w, n FROM file_tumbling ORDER BY w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    val batch = StreamOps.tumblingAgg(sess, sf)
      .select("win_start_us", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("batch StreamOps session_window agrees with manual gaps-and-islands on testdata") {
    val out = StreamOps.sessionWindow(spark, sf)
    assert(out.count() > 0)
    // session starts are unique per user and non-overlapping within gap
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.distinct.length == rows.length)
  }

  test("foreachBatch upsert: update-mode batches merge by window; a replayed batch does not double-write") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val root = graft.Tables.scratchDir("fb_spec")
    val (store, audit) = (s"$root/store", s"$root/audit")

    // drive the real update-mode aggregation through foreachBatch, keeping
    // each delivered batch so one can be replayed afterwards
    val delivered = scala.collection.mutable.ArrayBuffer[(Long, Seq[(Long, Long)])]()
    val input = MemoryStream[(Long, Timestamp, Double)]
    val agg = input.toDF.toDF("event_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("n"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamOps.upsertWindowBatch(batch.withColumn("sum_value", col("n")), store, audit, batchId)
        delivered += batchId -> batch.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .start()
    input.addData((1L, ts("2024-01-01 00:01:00"), 1.0), (2L, ts("2024-01-01 00:02:00"), 2.0))
    q.processAllAvailable()
    input.addData((3L, ts("2024-01-01 00:03:00"), 3.0), (4L, ts("2024-01-01 00:07:00"), 4.0))
    q.processAllAvailable()
    q.stop()

    def storeState() = StreamOps.readWindowStore(sess, store)
      .select(col("win_start_us").cast("long"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // batch 2 updated the 00:00 window (n 2 → 3): the upsert REPLACED the
    // window's row rather than appending a second one
    val after = storeState()
    assert(after == Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000, 3L),
      (Timestamp.valueOf("2024-01-01 00:05:00").getTime * 1000, 1L)))

    // replay the last delivered batch verbatim (a failure-recovery
    // re-delivery): the store must be bit-identically unchanged
    val (lastId, lastRows) = delivered.last
    val replay = lastRows.toDF("win_start_us", "n").withColumn("sum_value", col("n"))
    StreamOps.upsertWindowBatch(replay, store, audit, lastId)
    assert(storeState() == after, "replayed batch double-wrote the store")
  }

  test("sessionTimers: event-time timers flush open sessions; session set equals the batch gap answer") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val prevProvider = sess.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapUs = 30L * 60 * 1000000
      val evs = graft.Tables.t(sess, sf, "events")
        .select(col("user_id"), col("ts").cast("timestamp"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        .sortBy(r => (r._3, r._1)) // global event-time order: nothing is late
      val maxTs = evs.map(_._3).max
      val chunks = evs.grouped((evs.length + 2) / 3).toSeq
      val input = MemoryStream[(Long, Timestamp)]
      val q = Streams.sessionTimers(input.toDS().toDF("user_id", "ts")).writeStream
        .format("memory").queryName("sesstimer").outputMode("append").start()
      chunks.foreach { c => input.addData(c.map(e => (e._1, e._2)).toSeq); q.processAllAvailable() }
      // two far-future sentinels: the first advances the watermark past
      // every session's gap horizon, the second closes a batch so the
      // armed timers actually fire
      Seq(10L, 20L).foreach { d =>
        input.addData(Seq((-1L, new Timestamp(maxTs / 1000 + d * 86400L * 1000))))
        q.processAllAvailable()
      }
      val streamed = sess.sql(
          "SELECT user_id, session_start_us, session_end_us, n_events FROM sesstimer WHERE user_id >= 0")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      q.stop()
      // driver mirror of win_session_gap's boundaries (strict 30-min gap)
      val expected = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
        val uss = rows.map(_._3).sorted
        val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        uss.foreach { us =>
          sessions.lastOption match {
            case Some((s, e, n)) if us - e < gapUs => sessions(sessions.length - 1) = (s, math.max(e, us), n + 1)
            case _ => sessions += ((us, us, 1L))
          }
        }
        sessions.map { case (s, e, n) => (uid, s, e, n) }
      }.sorted
      assert(streamed.nonEmpty)
      assert(streamed == expected)
      // the timer path was genuinely exercised: at least one user's LAST
      // session saw no further events, so only handleExpiredTimer could
      // have emitted it — verify the final sessions are all present
      val finals = expected.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
      assert(finals.subsetOf(streamed.toSet), "tail sessions missing — timers never fired")
    } finally {
      prevProvider match {
        case Some(p) => sess.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => sess.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("tokenBudgetAdmissions: ValueState persists across micro-batches and equals the batch gate") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // transformWithState in a real streaming query needs the RocksDB
    // provider (multi-column-family state layout); scope it to this test
    val prevProvider = sess.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // real corpus, arrival order = doc_id, 3 arrival chunks: a shard
      // filled by chunk 1 must keep rejecting documents arriving in chunk 3
      val docs = graft.Tables.t(sess, sf, "documents")
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .collect().sortBy(_._1)
      val chunks = docs.grouped((docs.length + 2) / 3).toSeq
      val input = MemoryStream[(Long, String, String)]
      val q = Streams.tokenBudgetAdmissions(input.toDS().toDF("doc_id", "lang", "text"))
        .writeStream.format("memory").queryName("tbadmit").outputMode("append").start()
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val streamed = sess.sql("SELECT doc_id, lang, shard, n_tokens, cum_before FROM tbadmit")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(_._1)
      q.stop()
      val batch = StreamOps.tokenBudgetGate(sess, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(streamed == batch)
      // the split genuinely exercised persisted state: some document in a
      // later chunk was REJECTED because earlier chunks filled its shard —
      // i.e. the admitted set is not simply "all documents"
      val admitted = streamed.map(_._1).toSet
      val chunk0Max = chunks.head.last._1
      assert(docs.exists(d => d._1 > chunk0Max && !admitted.contains(d._1)),
        "no later-chunk rejection — budget never crossed a batch boundary")
      assert(streamed.nonEmpty)
    } finally {
      prevProvider match {
        case Some(p) => sess.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => sess.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("tieredNearDupClaims: a restarted query re-delivers the last batch through the checkpoint — claims unchanged") {
    // The MemoryStream spec above proves claim identity and exercises a
    // replay by calling the per-batch core directly. This one makes the
    // replay REAL: a file-source stream (exact replay from its own source
    // metadata log), the last commit marker deleted (the crash window
    // between foreachBatch completing and the commit log write), and the
    // SAME checkpoint restarted — the ENGINE re-delivers the last batch
    // through the live foreachBatch and nothing may change.
    val sess = spark
    import sess.implicits._
    val root = graft.Tables.scratchDir("tiered_nd_replay")
    val (srcDir, indexDir, claimsDir, ckpt) =
      (s"$root/src", s"$root/index", s"$root/claims", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val docs = graft.Tables.t(sess, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 5) / 6).toSeq
    // one parquet file per chunk, name AND mtime both ascending in chunk
    // order so the file source's (timestamp, path) ordering is unambiguous
    chunks.zipWithIndex.foreach { case (c, i) =>
      val tmp = s"$root/stage$i"
      c.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, f"c$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def source = sess.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(srcDir)

    val q1 = Streams.tieredNearDupClaims(source, indexDir, claimsDir, ckpt, compactEvery = 2)
    q1.processAllAvailable()
    assert(Option(q1.lastProgress).forall(_.stateOperators.isEmpty))
    q1.stop()
    val before = Streams.readTieredClaims(sess, claimsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val monolithic = StreamOps.bandClaims(graft.llm.Dedup.minhashSignatureIndex(
        sess, graft.Tables.t(sess, sf, "documents")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(before.nonEmpty && before == monolithic,
      "file-source live run diverged from the monolithic fold")

    // inject the crash window: the last batch committed its work but the
    // engine died before writing commits/<last>
    val commitFiles = Option(new java.io.File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
    val lastId = commitFiles.map(_.getName.toLong).max
    assert(lastId == chunks.length - 1L, s"expected ${chunks.length} batches, last commit $lastId")
    assert(commitFiles.find(_.getName.toLong == lastId).get.delete())
    // the local FS keeps a checksum sidecar; leaving it behind makes the
    // re-written commit's rename fail with FileAlreadyExists
    new java.io.File(s"$ckpt/commits/.$lastId.crc").delete(): Unit

    val q2 = Streams.tieredNearDupClaims(source, indexDir, claimsDir, ckpt, compactEvery = 2)
    q2.processAllAvailable()
    // the engine really re-ran batch lastId (not batch lastId+1 with no data)
    val replayedIds = q2.recentProgress.map(_.batchId).toSeq
    assert(replayedIds.contains(lastId),
      s"restart did not re-deliver batch $lastId (ran $replayedIds)")
    q2.stop()
    val after = Streams.readTieredClaims(sess, claimsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(after == monolithic, "checkpoint-driven replay changed the claims store")
  }

  // ---- shared machinery for the checkpoint-restart (live-twin) specs ----

  /** One parquet file per arrival chunk: name AND mtime ascending in chunk
    * order so the file source's (timestamp, path) ordering is unambiguous
    * (the tiered replay spec's recipe). */
  private def writeChunkFile(df: org.apache.spark.sql.DataFrame, root: String,
      srcDir: String, i: Int): Unit = {
    val tmp = s"$root/stage$i"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(srcDir, f"c$i%02d.parquet")
    java.nio.file.Files.move(part.toPath, dst): Unit
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L)): Unit
  }

  /** Inject the crash window: the newest batch did its work but the engine
    * died before writing `commits/<id>` — a restarted query must then
    * RE-DELIVER that batch through the live sink. Returns the batch id. */
  private def deleteLastCommit(ckpt: String): Long = {
    val commitFiles = Option(new java.io.File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
    val lastId = commitFiles.map(_.getName.toLong).max
    assert(commitFiles.find(_.getName.toLong == lastId).get.delete())
    // the local FS keeps a checksum sidecar; leaving it behind makes the
    // re-written commit's rename fail with FileAlreadyExists
    new java.io.File(s"$ckpt/commits/.$lastId.crc").delete(): Unit
    lastId
  }

  test("stream_token_budget live twin: restart restores the budget ValueState, the crashed batch re-delivers, output equals the batch gate") {
    val sess = spark
    import sess.implicits._
    val prevProvider = sess.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = graft.Tables.scratchDir("tb_replay")
      val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      val docs = graft.Tables.t(sess, sf, "documents")
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .collect().sortBy(_._1)
      val chunks = docs.grouped((docs.length + 5) / 6).toSeq
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      def source = sess.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(srcDir)
      def start() = Streams.tokenBudgetAdmissions(source)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // phase 1: four of six arrival chunks, then a clean stop
      chunks.take(4).zipWithIndex.foreach { case (c, i) =>
        writeChunkFile(c.toSeq.toDF("doc_id", "lang", "text"), root, srcDir, i) }
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // crash window + the remaining chunks land while the engine is down
      val lastId = deleteLastCommit(ckpt)
      assert(lastId == 3L, s"expected 4 phase-1 batches, last commit $lastId")
      chunks.drop(4).zipWithIndex.foreach { case (c, i) =>
        writeChunkFile(c.toSeq.toDF("doc_id", "lang", "text"), root, srcDir, i + 4) }
      val q2 = start(); q2.processAllAvailable()
      val replayed = q2.recentProgress.map(_.batchId).toSeq
      assert(replayed.contains(lastId),
        s"restart did not re-deliver batch $lastId (ran $replayed)")
      q2.stop()
      val streamed = sess.read.parquet(outDir)
        .select("doc_id", "lang", "shard", "n_tokens", "cum_before").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(_._1)
      // exactly-once across the redelivery: the file sink must have skipped
      // the replayed batch's second write
      assert(streamed.map(_._1).distinct.size == streamed.size,
        "redelivery duplicated sink rows")
      val batch = StreamOps.tokenBudgetGate(sess, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(_._1)
      assert(streamed == batch, "restart changed the state-derived admissions")
      // non-vacuous: a post-restart document was rejected by budget state
      // persisted BEFORE the crash — the restore genuinely constrained it
      val admitted = streamed.map(_._1).toSet
      val preRestartMax = chunks(3).last._1
      assert(docs.exists(d => d._1 > preRestartMax && !admitted.contains(d._1)),
        "no post-restart rejection — the restored budget never crossed the restart boundary")
    } finally {
      prevProvider match {
        case Some(p) => sess.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => sess.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_custom_state live twin: restart restores running totals, the crashed batch re-delivers, anomalies equal the batch fold") {
    val sess = spark
    import sess.implicits._
    val root = graft.Tables.scratchDir("anom_replay")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // arrival order = global (event-time, id) order, so the concatenation of
    // per-batch sorted folds equals the batch twin's per-user global fold
    val evs = graft.Tables.t(sess, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val chunks = evs.grouped((evs.length + 5) / 6).toSeq
    val schema = org.apache.spark.sql.Encoders.product[Streams.Ev].schema
    def source = sess.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(srcDir).as[Streams.Ev]
    def start() = Streams.valueAnomalies(source)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    chunks.take(4).zipWithIndex.foreach { case (c, i) =>
      writeChunkFile(c.toSeq.toDF(), root, srcDir, i) }
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val lastId = deleteLastCommit(ckpt)
    assert(lastId == 3L, s"expected 4 phase-1 batches, last commit $lastId")
    chunks.drop(4).zipWithIndex.foreach { case (c, i) =>
      writeChunkFile(c.toSeq.toDF(), root, srcDir, i + 4) }
    val q2 = start(); q2.processAllAvailable()
    val replayed = q2.recentProgress.map(_.batchId).toSeq
    assert(replayed.contains(lastId),
      s"restart did not re-deliver batch $lastId (ran $replayed)")
    q2.stop()
    val streamed = sess.read.parquet(outDir)
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(streamed.distinct.size == streamed.size, "redelivery duplicated sink rows")
    // the double-fold live twin must flag the same events as the
    // integer-cents batch fold: values are exact 2-decimal quantities, so
    // both strict comparisons agree everywhere off the measure-zero ties
    val batch = StreamOps.customStateAnomalies(sess, sf)
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(streamed == batch, "restart changed the state-derived anomaly set")
    // non-vacuous: at least one anomaly decided AFTER the restart, against
    // running totals accumulated before the crash
    val preRestartIds = chunks.take(4).flatten.map(_.event_id).toSet
    assert(streamed.exists(id => !preRestartIds(id)),
      "no post-restart anomaly — the restored totals never produced output")
  }

  test("exactly-once sink: racing DIFFERENT batches both retry to success — gap-free chain, both filesets live") {
    import graft.etl.Snapshots
    val sess = spark
    import sess.implicits._
    val table = graft.Tables.scratchDir("eos_diffbatch_spec")
    def frame(ids: Seq[Long]) = ids
      .map(i => (i, ts("2024-01-01 00:01:00"), i, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(StreamOps.commitBatchExactlyOnce(frame(Seq(1L)), table, 0L))

    // batches 1 and 2 delivered concurrently (two sinks tailing one table):
    // unlike the same-batch race, NEITHER may abort — the loser's Conflicted
    // is pure contention and must retry onto the winner's base
    val gate = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes =
      try {
        val fs = Seq((Seq(10L, 11L), 1L), (Seq(20L, 21L), 2L)).map { case (ids, bid) =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.countDown(); gate.await()
              StreamOps.commitBatchExactlyOnce(frame(ids), table, bid)
            }
          })
        }
        fs.map(_.get())
      } finally { pool.shutdown(): Unit }
    assert(outcomes == Seq(true, true), s"a contended different-batch commit was lost: $outcomes")

    // gap-free superset chain v1..v3, every version readable
    assert(Snapshots.latestVersion(table) == 3L)
    (2L to 3L).foreach { v =>
      val prev = Snapshots.entries(table, v - 1).map(_.file).toSet
      val cur = Snapshots.entries(table, v).map(_.file).toSet
      assert(prev.subsetOf(cur) && (cur -- prev).nonEmpty, s"v${v - 1}->v$v not an append")
    }
    assert(StreamOps.committedBatchIds(table) == Set(0L, 1L, 2L))
    // content: all three batches exactly once — no orphan, no double
    val rows = Snapshots.readSnapshot(spark, table).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 10L, 11L, 20L, 21L))
  }

  test("exactly-once sink: same-batch race commits once; lost fileset is orphaned and vacuumed; replay is a no-op") {
    import graft.etl.Snapshots
    val sess = spark
    import sess.implicits._
    val table = graft.Tables.scratchDir("eos_spec")
    def frame(ids: Seq[Long]) = ids
      .map(i => (i, ts("2024-01-01 00:01:00"), i, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")

    // batch 0 commits normally
    assert(StreamOps.commitBatchExactlyOnce(frame(Seq(1L, 2L)), table, 0L))
    assert(StreamOps.committedBatchIds(table) == Set(0L))

    // two concurrent deliveries of batch 1 (restarted query + zombie task):
    // exactly one appends, the loser's fileset becomes an orphan
    val gate = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes =
      try {
        val fs = Seq(Seq(10L, 11L), Seq(10L, 11L)).map { ids =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.countDown(); gate.await()
              StreamOps.commitBatchExactlyOnce(frame(ids), table, 1L)
            }
          })
        }
        fs.map(_.get())
      } finally { pool.shutdown(): Unit }
    assert(outcomes.count(identity) == 1, s"same-batch race committed ${outcomes.count(identity)} times")

    // the table holds each batch exactly once
    val rows = Snapshots.readSnapshot(spark, table).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 10L, 11L))

    // a replay of a committed id is a detected no-op
    val vBefore = Snapshots.latestVersion(table)
    assert(!StreamOps.commitBatchExactlyOnce(frame(Seq(99L)), table, 1L))
    assert(Snapshots.latestVersion(table) == vBefore)

    // the loser's orphan fileset exists on disk but no manifest references
    // it — vacuum reaps it without touching committed data
    val dataDirs = Option(new java.io.File(table, "data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
    assert(dataDirs.count(_.startsWith("b1-")) == 2, s"expected winner+orphan, got $dataDirs")
    val swept = Snapshots.vacuum(table, keepVersions = 10)
    assert(swept.nonEmpty && swept.forall(_.contains("/b1-")), s"vacuum swept $swept")
    assert(Snapshots.readSnapshot(spark, table).count() == 4)
  }
}
