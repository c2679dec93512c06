package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Streaming semantics (SURVEY.md §2.2): the reference has no streaming
  * (its schedule is `ondemand`, export_pipeline_template.py:137); blocks-as-
  * they-arrive is the natural extension. Each operator exists twice:
  *
  *  - a batch-equivalent here (oracle-checkable — same logical semantics
  *    the streaming runtime produces after watermark close), keyed in
  *    SparkEntry;
  *  - the real `readStream` version in [[Streams]], exercised by ScalaTest
  *    with MemoryStream (not oracle-able: incremental state isn't SQL).
  *
  * Time arithmetic runs in microseconds (`unix_micros`) — exact integers,
  * immune to ns/µs precision skew between engines.
  */
object StreamOps {

  /** `stream_tumbling_agg` — 5-minute tumbling windows over events:
    * count + decimal-safe value sum per window. Streaming twin:
    * `withWatermark("ts","10 minutes").groupBy(window($"ts","5 minutes"))`. */
  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("n"), col("sum_value"))
      .orderBy("win_start_us")

  /** `stream_sliding_agg` — 15-minute windows sliding every 5: each event
    * lands in exactly 3 overlapping windows (Spark materializes the
    * duplication; state per open window is bounded by watermark in the
    * streaming twin `Streams.slidingCounts`). Same epoch alignment as
    * DuckDB's time_bucket, so the overlap set is oracle-expressible as an
    * unnest of the 3 covering window starts. */
  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "15 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("n"), col("sum_value"))
      .orderBy("win_start_us")

  /** `stream_dedup_state` — exactly-once per (user, event_type): keep the
    * earliest event. Deterministic row_number formulation (dropDuplicates
    * keeps an arbitrary row); streaming twin: dropDuplicatesWithinWatermark. */
  def dedupState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** `stream_file_pipeline` — the full Structured Streaming loop as one
    * operator: files arrive in a source directory, `readStream` tails it,
    * a watermarked 5-minute tumbling aggregation closes windows, and
    * `writeStream` commits them to a parquet sink exactly once through a
    * checkpoint. Runs bounded with `Trigger.AvailableNow` (multiple
    * microbatches, watermark advancing between them — the production
    * backfill trigger). Determinism: a sentinel file whose single event sits
    * 1 day past the real data is staged LAST (strictly later modification
    * time, so the source orders it into the final batch); its arrival pushes
    * the watermark past every real window, which all emit, while the
    * sentinel's own window never closes and never appears. The sink
    * read-back therefore equals the batch tumbling aggregation row for row —
    * the exactly-once streaming result is checked by the same SQL oracle. */
  /** Stage the events table as a parquet stream-source directory plus a
    * watermark sentinel one day past the data. FileStreamSource orders
    * files by modification time, and the watermark must not jump past the
    * real windows before they are all ingested — so the sentinel's mtime is
    * set EXPLICITLY one hour into the future rather than relying on
    * wall-clock write ordering (coarse filesystem mtime granularity or
    * clock skew could otherwise tie the sentinel with a data file and
    * silently drop the windows behind it). */
  private def stageEventsWithSentinel(spark: SparkSession, dir: String, src: String): Unit = {
    val events = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    events.write.mode("overwrite").parquet(src)
    val before = Option(new java.io.File(src).listFiles()).toSeq.flatten
      .map(_.getName).toSet
    val maxTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    events.limit(1)
      .select(lit(-1L).as("event_id"),
        timestamp_micros(lit(maxTs + 86400L * 1000000)).as("ts"),
        lit(-1L).as("user_id"), lit(0.0).as("value"))
      .coalesce(1).write.mode("append").parquet(src)
    val future = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 3600L * 1000)
    Option(new java.io.File(src).listFiles()).toSeq.flatten
      .filterNot(f => before(f.getName))
      .foreach(f => java.nio.file.Files.setLastModifiedTime(f.toPath, future))
  }

  private val eventSourceSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  def streamFilePipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = {
      val root = graft.Tables.scratchDir("stream")
      val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
      stageEventsWithSentinel(spark, dir, src)
      val q = spark.readStream
        .schema(eventSourceSchema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_start_us"), col("n"), col("sum_value"))
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sink
    }
    spark.read.parquet(outDir).orderBy("win_start_us")
  }

  /** Idempotent per-microbatch window upsert — the sink half of
    * `stream_foreach_batch`, factored out so the MemoryStream spec can call
    * it directly with a replayed batch. MERGE-ON-READ: each batch writes its
    * refreshed windows (stamped with the batch id) to its OWN overwrite-mode
    * subdirectory, and [[readWindowStore]] reconciles by keeping the latest
    * batch's row per window. Re-delivering a batch after a failure rewrites
    * the same subdirectory with bit-identical content — idempotent without
    * sink transactions. A partition-directory-per-window store (dynamic
    * partition overwrite) was the first design and is the WRONG one at
    * scale: 5-minute windows over months of events mean tens of thousands
    * of partition directories whose listing alone dominated every read
    * (measured 52 s/key at sf0.1); per-batch files + a reconciling reader
    * is how log-structured lakes actually take upserts, with compaction
    * (`etl_compact_small_files`) folding old batches down when the batch
    * count grows. The second sink (an audit trail of batch row counts)
    * writes a per-batchId subdirectory in overwrite mode for the same
    * idempotence reason. */
  def upsertWindowBatch(batch: DataFrame, store: String, audit: String,
                        batchId: Long): Unit = {
    // foreachBatch hands over a RE-EXECUTABLE plan: isEmpty, write and
    // count below are three separate actions, each re-running the
    // microbatch from source without this persist.
    batch.persist()
    try {
      if (!batch.isEmpty) {
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$store/b$batchId")
        batch.sparkSession.range(1)
          .select(lit(batchId).as("batch_id"),
            lit(batch.count()).as("n_windows"))
          .write.mode("overwrite").parquet(s"$audit/b$batchId")
      }
    } finally batch.unpersist(): Unit
  }

  /** Merge-on-read view of the upsert store: latest batch wins per window.
    * One window-partitioned shuffle over (win, batch) rows — row count is
    * |windows| x |batches touching them|, never the event count. */
  def readWindowStore(spark: SparkSession, store: String): DataFrame = {
    val w = Window.partitionBy("win_start_us").orderBy(col("batch_id").desc)
    spark.read.option("recursiveFileLookup", "true").parquet(store)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** `stream_foreach_batch` — multi-sink exactly-once microbatch writes via
    * `foreachBatch`, the production pattern `stream_file_pipeline`'s
    * append-mode parquet sink can't cover: UPDATE-mode windowed aggregation
    * emits each window's refreshed total per batch, and the user-defined
    * batch writer upserts those rows into a window-keyed store (plus an
    * audit sink — two sinks from one stream, the thing writeStream alone
    * cannot do). Idempotence comes from [[upsertWindowBatch]]'s
    * deterministic per-batch overwrite directories, NOT from sink
    * transactionality — replayed batches rewrite the same subdirectory
    * bit-identically, which the spec proves by replaying one; the
    * merge-on-read view ([[readWindowStore]]) keeps the latest batch per
    * window. The watermark sentinel is filtered out AFTER the
    * withWatermark node (it still advances the watermark and closes state);
    * in update mode every real window's last upsert carries its complete
    * total, so the final store equals the batch tumbling aggregation and
    * shares its oracle. */
  def streamForeachBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = {
      val root = graft.Tables.scratchDir("stream_fb")
      val (src, store, audit, ckpt) = (s"$root/src", s"$root/store", s"$root/audit", s"$root/ckpt")
      stageEventsWithSentinel(spark, dir, src)
      val q = spark.readStream
        .schema(eventSourceSchema)
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .filter(col("event_id") =!= -1L) // sentinel drives the watermark only
        .groupBy(window(col("ts"), "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_start_us"), col("n"), col("sum_value"))
        .writeStream
        .outputMode("update")
        .foreachBatch((batch: DataFrame, batchId: Long) =>
          upsertWindowBatch(batch, store, audit, batchId))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      root
    }
    readWindowStore(spark, s"$outDir/store")
      .select(col("win_start_us"), col("n"), col("sum_value"))
      .orderBy("win_start_us")
  }

  /** Event projected to exact integers for the stateful fold: micros since
    * epoch and value in cents (double → decimal(18,2) cast happens in the
    * plan, so both engines share one rounding rule; the Scala state math is
    * then pure Long arithmetic — no float fold-order hazard). */
  case class CentsEv(event_id: Long, us: Long, user_id: Long, cents: Long)
  case class AnomalyRow(event_id: Long, user_id: Long, cents: Long,
                        n_prior: Long, sum_prior_cents: Long)

  /** `stream_custom_state` — arbitrary stateful processing via
    * `flatMapGroupsWithState` (run here in batch mode; the true streaming
    * twin with live GroupState is [[Streams.valueAnomalies]]): emit events
    * whose value exceeds 3x the user's prior running average. State per key
    * is two longs — constant, watermark-free; the emit-on-condition shape is
    * what windowed aggregation can't express. Events are folded in (ts,
    * event_id) order inside the group (batch groupByKey carries no order),
    * so output is deterministic and the oracle is a lag-window query. */
  def customStateAnomalies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val evs = t(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .as[CentsEv]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AnomalyRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[CentsEv], state: GroupState[(Long, Long)]) =>
          var (n, total) = state.getOption.getOrElse((0L, 0L))
          val out = Seq.newBuilder[AnomalyRow]
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (n > 0 && e.cents * n > 3 * total)
              out += AnomalyRow(e.event_id, uid, e.cents, n, total)
            n += 1; total += e.cents
          }
          state.update((n, total))
          out.result().iterator
      }
      .toDF()
      .orderBy("event_id")
  }

  /** Input/output rows of the token-budget admission gate. Token counts are
    * exact Longs (whitespace tokens, the corpus-wide tokenization contract)
    * so the fold is integer-only — no float fold-order hazard. */
  case class BudgetDoc(doc_id: Long, lang: String, shard: Long, n_tokens: Long)
  case class AdmitRow(doc_id: Long, lang: String, shard: Long,
                      n_tokens: Long, cum_before: Long)

  /** Shards per language for the budget gate; the per-shard budget below is
    * the per-language budget / NShards. Sharding is THE scale lever: the
    * stateful fold is sequential per key by semantics (ordered ingest
    * admission), so parallelism = langs × shards, and each shard owns an
    * equal slice of its language's budget. */
  val TokenBudgetShards = 8
  val TokenBudgetPerShard = 300L

  /** The admission fold as a Spark 4 `StatefulProcessor` (the
    * `transformWithState` API that replaces flatMapGroupsWithState):
    * state = ONE Long per (lang, shard) — the tokens admitted so far —
    * held in a `ValueState` that the runtime persists across micro-batches.
    * A document is admitted iff the shard's running total is still under
    * budget when it arrives; admitted tokens accumulate, rejected documents
    * leave the state untouched (so rejection is absorbing: the total never
    * moves once it crosses the budget, which is exactly what makes the
    * batch semantics a prefix — and therefore ANSI-oracle-checkable as a
    * window cumulative sum, see the SparkEntry oracle).
    *
    * Rows inside one `handleInputRows` call carry no order, so the fold
    * sorts by doc_id; across micro-batches the caller feeds arrival order
    * (= doc_id on this corpus), and [[Streams.tokenBudgetAdmissions]]'s
    * spec proves the cross-batch fold equals this single-batch one. */
  class TokenBudgetProcessor(budget: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), BudgetDoc, AdmitRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (String, Long), rows: Iterator[BudgetDoc],
        tv: TimerValues): Iterator[AdmitRow] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = Seq.newBuilder[AdmitRow]
      rows.toSeq.sortBy(_.doc_id).foreach { d =>
        if (c < budget) {
          out += AdmitRow(d.doc_id, d.lang, d.shard, d.n_tokens, c)
          c += d.n_tokens
        }
      }
      cum.update(c)
      out.result().iterator
    }
  }

  /** The (doc_id, lang, shard, n_tokens) admission input — shared by the
    * batch key and the readStream twin so both gates see byte-identical
    * rows. Whitespace tokens match the corpus tokenization contract
    * (`len(string_split(text, ' '))` on the oracle side). */
  private[streaming] def budgetDocsOf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % TokenBudgetShards).cast(LongType).as("shard"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))

  /** `stream_token_budget` — ingest-time token-budget admission on the NEW
    * Spark 4 arbitrary-state API (`transformWithState` / StatefulProcessor,
    * the successor to flatMapGroupsWithState): documents stream in keyed by
    * (lang, shard = doc_id % 8) and each shard admits documents in arrival
    * order until its slice of the language budget is exhausted. This is the
    * STREAMING complement of [[graft.llm.TextOps.sampleTokenBudget]]: the
    * batch sampler picks the best documents under a global budget after the
    * fact; this gate answers "does the arriving document still fit" with
    * O(1) state per shard, which is the shape a 100 TB ingest firehose
    * needs (state = langs × shards Longs, independent of corpus size).
    *
    * Run here in BATCH mode — Spark executes the same StatefulProcessor
    * over a one-shot state store ([[org.apache.spark.sql.GraftBridge
    * .ensureStateStoreCoordinator]] works around the coordinator being
    * created only by streaming queries); [[Streams.tokenBudgetAdmissions]]
    * is the live `readStream` twin whose ValueState persists across
    * micro-batches, spec-proven fold-identical under a 3-way arrival
    * split. Because rejection is absorbing (see [[TokenBudgetProcessor]]),
    * the admitted set is a per-shard prefix and the DuckDB oracle is a
    * plain window cumulative sum — the stateful gate must be
    * indistinguishable from it. */
  def tokenBudgetGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    org.apache.spark.sql.GraftBridge.ensureStateStoreCoordinator(spark)
    val input = budgetDocsOf(t(spark, dir, "documents"))
    // Size the one-shot state width to the INPUT, not the session conf:
    // each batch-mode run opens a fresh temp checkpoint, and a measured
    // probe (r16, PLANS.md) showed per-run CPU is LINEAR in the state
    // partition count — ~70 ms of provider init/commit per partition,
    // data-independent (32 partitions = 2.3 CPU-s for 500 rows; 1 = 0.09)
    // and epoch-variant, which is exactly the r15 quiet-record 3.76×
    // floor flag. At real corpus sizes ceil(bytes/4MB) ≥ the conf width
    // and this is the identity; on probe corpora it stops paying 32
    // store inits to admit 500 documents. The narrowed conf is pinned
    // into the memoized physical plan eagerly and restored before return
    // (state partition count is a parallelism choice, not semantics —
    // groups hash to partitions either way, same admissions).
    val width = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val scanBytes = input.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val stateWidth = ((scanBytes + graft.llm.Dedup.HealBytesPerTask - 1) /
      graft.llm.Dedup.HealBytesPerTask).min(BigInt(width)).max(BigInt(1)).toInt
    def gate(s: SparkSession): DataFrame = {
      org.apache.spark.sql.GraftBridge.ensureStateStoreCoordinator(s)
      budgetDocsOf(t(s, dir, "documents")).as[BudgetDoc]
        .groupByKey(d => (d.lang, d.shard))
        .transformWithState(new TokenBudgetProcessor(TokenBudgetPerShard),
          TimeMode.None(), OutputMode.Append())
        .toDF()
        .orderBy("doc_id")
    }
    if (stateWidth >= width) gate(spark) // real-scale path: plain lazy plan
    else {
      // Narrow path (input < 4 MB × width, i.e. probe corpora only): the
      // conf is read at PHYSICAL planning time, and any downstream action
      // (count, write) replans under the session conf — so the narrow
      // width must be baked into a materialized result, not a memoized
      // plan. The input is < ~128 MB here by the gate above, so an eager
      // localCheckpoint of the admitted subset is trivially safe. The
      // override lives on a CHILD session (shared SparkContext, private
      // SQLConf — the bloomJoinPlan pattern), so the session-global width
      // never mutates and a query planned concurrently on `spark` cannot
      // be silently planned at width 1 (r16 advice).
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", stateWidth.toString)
      gate(s).localCheckpoint()
    }
  }

  /** `stream_dedup_minhash` — streaming NEAR-duplicate suppression at
    * ingest: as documents arrive (arrival order = doc_id on this corpus),
    * each of a doc's 16 MinHash band signatures probes a band-keyed state
    * store; the first document to claim a (band, sig) bucket owns it, and
    * any later document hitting an owned bucket becomes a candidate
    * against that owner, exact-verified at Jaccard ≥ 0.8 against the
    * shingle sets. This is the ingest-time twin of [[graft.llm.Dedup
    * .dedupMinhashLsh]]: the batch job finds ALL near-dup pairs after the
    * fact; this one answers "is the arriving doc a near-dup of anything
    * already admitted" with state = ONE long per occupied band bucket —
    * the shape a 100 TB ingest firehose needs (state grows with corpus
    * bands, never with pairs; no self-join ever forms).
    *
    * Oracle equivalence: output = (doc, earliest verified near-dup
    * partner). A band bucket keeps only its FIRST claimant, so the
    * candidate set is a subset of the batch band self-join's — but any
    * J ≥ 0.8 partner shares a band w.h.p. (1-(1-J⁴)¹⁶) and on this
    * corpus' planted dup groups (J ≈ 0.98, intra-group transitive) the
    * earliest verified candidate IS the earliest J ≥ 0.8 partner, which
    * is what the oracle computes from exact all-pairs Jaccard.
    *
    * Runs `flatMapGroupsWithState` in batch mode (groups fold in doc_id
    * order); [[Streams.nearDupClaims]] is the real `readStream` twin whose
    * GroupState persists band owners ACROSS micro-batches, spec-proven
    * claim-identical to this fold under a 3-way arrival split.
    *
    * Honest asymptote: the GroupState twin's store is O(occupied band
    * buckets) = O(corpus) with no TTL — the right constant factor (one
    * Long per bucket) but the wrong asymptote for an unbounded 100 TB
    * ingest stream. The production path is [[Streams.tieredNearDupClaims]]
    * ([[tieredNearDupBatch]]): band owners live in a compacted parquet
    * index in the lake, each micro-batch probes index-then-folds, and the
    * executor state store holds ZERO bytes — spec-proven claim-identical
    * to this fold across compaction boundaries and a replayed batch. */
  def streamDedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sigDocs = graft.llm.Dedup.minhashSignatureIndex(spark, t(spark, dir, "documents"))
    val cand = bandClaims(sigDocs).distinct()
    val va = sigDocs.select(col("doc_id"), col("shs").as("sa"))
    val vb = sigDocs.select(col("doc_id").as("cand"), col("shs").as("sb"))
    val inter = graft.functions.SortedSetOps.sortedIntersectSize(col("sa"), col("sb"))
    cand.join(va, "doc_id").join(vb, "cand")
      .withColumn("jaccard",
        inter.cast(DoubleType) / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= 0.8)
      .groupBy("doc_id")
      .agg(min("cand").as("owner"), expr("min_by(jaccard, cand)").as("jaccard"))
      .orderBy("doc_id")
  }

  /** One micro-batch of the TIERED streaming near-dup protocol — the
    * 100 TB answer to the one honest scale limit of [[Streams
    * .nearDupClaims]]: its GroupState holds 16 bands × every distinct
    * signature ever seen, growing with the corpus forever. Here the band
    * owners live in the LAKE, not the executor state store:
    *
    *  - tier 1 (persisted): a parquet band-owner index at `indexDir`
    *    (band, sig, owner), one per-batch delta subdirectory `b<id>`
    *    written in OVERWRITE mode — a replayed batch rewrites its own
    *    delta bit-identically (the [[upsertWindowBatch]] idempotence
    *    discipline), no sink transactions needed;
    *  - tier 2 (in-flight): the arriving batch itself — intra-batch claims
    *    fold with a per-bucket window min, bounded by the batch.
    *
    * Protocol per batch (the Iceberg/Delta base+delta discipline, manifest
    * encoded in directory names):
    *
    *  1. SNAPSHOT RULE — the readable index as of batch b is
    *     `base_b<B>` (B = the largest base id < b, if any) plus deltas
    *     `b<i>` with B < i < b. The current batch's own artifacts are
    *     NEVER read: only the last batch can be re-delivered after a
    *     failure (earlier ones are checkpoint-committed), and a replay
    *     that read its own pre-crash delta would find its first claimants
    *     already owned, write an EMPTY delta over the real one, and lose
    *     them. Excluding ids ≥ b makes the replay's snapshot identical to
    *     the original run's, so every rewrite below is bit-identical.
    *  2. GC — deltas ≤ B and bases < B are subsumed by `base_b<B>` and
    *     unreadable under rule 1 by this or any replayable batch; delete
    *     them now (deferred from the compaction batch, which must NOT
    *     delete: a crash between its base-write and a delete would leave
    *     a replay unable to reconstruct its snapshot).
    *  3. PROBE — left-join the batch's band rows against the snapshot; a
    *     hit IS the claim (doc, owner).
    *  4. MISS FOLD — unowned buckets fold intra-batch: first doc_id per
    *     bucket owns, the rest claim against it.
    *  5. DELTA — the new owners overwrite `b<batchId>` (idempotent replay,
    *     the [[upsertWindowBatch]] discipline).
    *  6. COMPACT — every `compactEvery` batches, snapshot + this delta
    *     fold into `base_b<batchId>`; old artifacts are left for step 2
    *     of a later batch.
    *
    * Executor state-store bytes: ZERO — there is no stateful operator, so
    * nothing grows with the corpus on any executor; cross-batch memory is
    * the lake index, whose probe is one shuffle join per batch (bucketable
    * at scale) and whose artifact count is ≤ compactEvery + 1. "State
    * bounded by the recent window" holds in the strongest form: the
    * recent window is the current batch.
    *
    * Claim-identity with the monolithic GroupState fold
    * ([[nearDupClaimFold]]) is by construction — a bucket's owner is its
    * first claimant in (batch, doc_id) order either way — and spec-proven
    * across compaction boundaries including a replayed batch. */
  def tieredNearDupBatch(bands: DataFrame, indexDir: String, batchId: Long,
                         compactEvery: Int = 8): DataFrame = {
    val spark = bands.sparkSession
    import org.apache.spark.sql.expressions.Window
    val root = new java.io.File(indexDir)
    val Delta = "^b(\\d+)$".r
    val Base = "^base_b(\\d+)$".r
    val listed = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
    val deltas = listed.flatMap(f => f.getName match {
      case Delta(i) if i.toLong < batchId => Some(i.toLong -> f); case _ => None })
    val bases = listed.flatMap(f => f.getName match {
      case Base(i) if i.toLong < batchId => Some(i.toLong -> f); case _ => None })
    val baseId = bases.map(_._1).maxOption.getOrElse(-1L)
    // rule 1: the pinned snapshot — base + deltas strictly between it and b
    val snapshot = bases.collect { case (i, f) if i == baseId => f.getAbsolutePath } ++
      deltas.collect { case (i, f) if i > baseId => f.getAbsolutePath }.sorted
    // rule 2: GC subsumed artifacts (plus any id ≥ batchId leftovers from a
    // pre-crash future that can no longer commit)
    deltas.collect { case (i, f) if i <= baseId => f }.foreach(deleteDir)
    bases.collect { case (i, f) if i < baseId => f }.foreach(deleteDir)
    listed.foreach(f => f.getName match {
      case Delta(i) if i.toLong > batchId => deleteDir(f)
      case Base(i) if i.toLong > batchId => deleteDir(f)
      case _ => })
    val index =
      if (snapshot.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("band", IntegerType), StructField("sig", LongType),
            StructField("owner", LongType))))
      else spark.read.parquet(snapshot: _*)

    // foreachBatch hands over a re-executable plan; the join below reads it
    // at least twice (probe + miss fold), so pin the batch rows.
    val b = bands.select(col("band"), col("sig"), col("doc_id")).persist()
    try {
      val probed = b.join(index, Seq("band", "sig"), "left")
      val knownClaims = probed.filter(col("owner").isNotNull && col("owner") =!= col("doc_id"))
        .select(col("doc_id"), col("owner").as("cand"))
      val rest = probed.filter(col("owner").isNull).select("band", "sig", "doc_id")
      val wB = Window.partitionBy("band", "sig")
      val restOwned = rest.withColumn("owner", min("doc_id").over(wB))
      val restClaims = restOwned.filter(col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("owner").as("cand"))
      val newOwners = restOwned.select("band", "sig", "owner").distinct()

      // rule 5: idempotent delta — this batch's owners, overwrite-by-batchId
      newOwners.write.mode("overwrite").parquet(s"$indexDir/b$batchId")

      // claims materialize BEFORE compaction may supersede snapshot deltas
      // under the lazy plan
      val claims = knownClaims.unionAll(restClaims).persist()
      claims.count(): Unit

      // rule 6: cadenced compaction; deletion deferred to a later batch's GC
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        spark.read.parquet((snapshot :+ s"$indexDir/b$batchId"): _*).distinct()
          .write.mode("overwrite").parquet(s"$indexDir/base_b$batchId")
      }
      claims
    } finally b.unpersist(): Unit
  }

  private def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete(): Unit
  }

  /** Band-claim candidate frame (doc_id, cand) from a signature index —
    * shared verbatim by the batch key above and [[Streams.nearDupClaims]]
    * (where `sigDocs` is unbounded and the fold's GroupState persists
    * across micro-batches). */
  private[streaming] def bandClaims(sigDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import sigDocs.sparkSession.implicits._
    graft.llm.Dedup.bandsOf(sigDocs)
      .select(col("band"), col("sig"), col("doc_id")).as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(nearDupClaimFold)
      .toDF("doc_id", "cand")
  }

  /** Band-bucket claim fold shared by the batch key and the live
    * `readStream` twin: state = the bucket's owner (first claimant);
    * every later doc in the bucket emits (doc, owner). Docs fold in
    * doc_id order inside a batch (groupByKey carries no order), and the
    * state survives across invocations, which in real streaming means
    * across micro-batches. */
  private[streaming] val nearDupClaimFold:
      ((Int, Long), Iterator[(Int, Long, Long)],
        org.apache.spark.sql.streaming.GroupState[Long]) => Iterator[(Long, Long)] =
    (_, it, state) => {
      var owner = state.getOption.getOrElse(Long.MaxValue)
      val out = Seq.newBuilder[(Long, Long)]
      it.toSeq.sortBy(_._3).foreach { case (_, _, d) =>
        if (owner == Long.MaxValue) owner = d
        else if (d != owner) out += ((d, owner))
      }
      state.update(owner)
      out.result().iterator
    }

  /** `stream_stream_join` — batch-equivalent of the watermarked
    * stream⋈stream interval join ([[Streams.signupActivityJoin]] is the
    * real `readStream` twin, MemoryStream-specced): activity events matched
    * to a signup by the same user within the 10 minutes after it. In
    * streaming both sides carry watermarks and Spark derives each side's
    * state-eviction bound from the interval — that bound is what makes
    * unbounded stream⋈stream feasible; this batch formulation produces the
    * identical join result after all watermarks close, which is what the
    * oracle checks. Plan shape: equi-join on user_id (sort-merge at scale)
    * with the time range as a residual predicate — never a broadcast
    * nested loop, because the equi component anchors the join. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val a = ev.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("ts").as("act_ts"), col("event_type"))
    a.join(s,
        col("user_id") === col("s_user") &&
          col("act_ts") >= col("signup_ts") &&
          col("act_ts") < col("signup_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("act_ts")).as("act_us"), col("event_type"))
      .orderBy("event_id", "signup_us")
  }

  /** `stream_session_window` — 30-minute-gap sessions per user via the
    * native session_window operator (merging windows under the hood; the
    * same operator is streaming-capable with a watermark). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start_us")

  /** `stream_watermark_late` constants, interpolated into the oracle SQL
    * from here so the two sides cannot drift (the agg_countmin rule). */
  val WmDelayUs: Long = 10L * 60 * 1000000      // withWatermark("ts", "10 minutes")
  val WmJitterUs: Long = 90L * 60 * 1000000     // max out-of-order arrival skew
  val WmBatchUs: Long = 10L * 60 * 1000000      // micro-batch trigger interval
  val WmWindowUs: Long = 3600L * 1000000        // 1-hour tumbling agg windows

  /** `stream_watermark_late` — deterministic model of Structured
    * Streaming's late-data rule, with per-window admitted/dropped
    * accounting (the lateness observability every production stream needs
    * and `StreamingQueryProgress.numRowsDroppedByWatermark` only exposes
    * as an opaque total):
    *
    *  - events arrive out of order: arrival = ts + md5-derived jitter in
    *    [0, [[WmJitterUs]]) — deterministic, so both engines and every
    *    rerun replay the identical arrival sequence (a seeded RNG would be
    *    layout-dependent);
    *  - micro-batches cut arrival time every [[WmBatchUs]]; the watermark
    *    for batch b is max event time over batches < b minus [[WmDelayUs]]
    *    — exactly SS's batch-boundary rule (the watermark used while
    *    processing a batch was computed from the data seen BEFORE it);
    *  - a row is DROPPED iff its tumbling window closed at or before the
    *    watermark (win_end ≤ wm) — SS's stateful-aggregation eviction
    *    predicate, which admits late-within-delay rows into still-open
    *    windows and drops rows for evicted window state.
    *
    * Plan shape at 100 TB: no per-row sequential dependency exists —
    * lateness is batch-granular, so the only global state is the
    * per-batch max-event-time table, O(arrival span / batch interval)
    * rows (time-bounded, NOT data-proportional: a year of 10-minute
    * batches is 52k longs). That bounded aggregate collects to the
    * driver, the exclusive running max is a driver scan (the PrefixSum
    * discipline — never a `max() OVER (ORDER BY …)` SinglePartition
    * window over row-level data), and the watermark table broadcasts
    * back; admission is then a map-only predicate feeding one hash
    * aggregation. Spec-pinned: no SinglePartition exchange in the plan. */
  def streamWatermarkLate(spark: SparkSession, dir: String): DataFrame =
    watermarkAdmission(
      t(spark, dir, "events"), spark, WmDelayUs, WmJitterUs, WmBatchUs, WmWindowUs)

  /** The admission model, parameterized so WatermarkLateSpec can replay it
    * at spec-sized batch granularity against a REAL MemoryStream run. */
  private[graft] def watermarkAdmission(events: DataFrame, spark: SparkSession,
      delayUs: Long, jitterUs: Long, batchUs: Long, windowUs: Long): DataFrame = {
    val ev = events
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("h60",
        conv(substring(md5(col("event_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType))
      .withColumn("arr_us", col("ts_us") + col("h60") % jitterUs)
      // batch key = the batch's arrival-time start (integer-exact: no
      // float division anywhere near the 1.7e15 µs epoch magnitudes)
      .withColumn("batch", col("arr_us") - pmod(col("arr_us"), lit(batchUs)))
      .drop("h60")
    // bounded batch dimension → driver exclusive running max (see scaladoc)
    val batchMax = ev.groupBy("batch").agg(max("ts_us").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // priors(i) = max event time over batches < i (exclusive running max)
    val priors = batchMax.map(_._2).scanLeft(Long.MinValue)(math.max).dropRight(1)
    val wmRows = batchMax.zip(priors).map { case ((b, _), pm) =>
      (b, if (pm == Long.MinValue) Long.MinValue else pm - delayUs)
    }
    import spark.implicits._
    val wm = wmRows.toSeq.toDF("batch", "wm_us")
    ev.join(broadcast(wm), "batch")
      .withColumn("win_start_us", col("ts_us") - pmod(col("ts_us"), lit(windowUs)))
      .withColumn("late", col("win_start_us") + lit(windowUs) <= col("wm_us"))
      .groupBy("win_start_us")
      .agg(count(when(!col("late"), 1)).as("n_admitted"),
        count(when(col("late"), 1)).as("n_late"),
        sum(when(!col("late"), col("value").cast(DecimalType(18, 2))))
          .cast(DecimalType(38, 2)).as("sum_value"))
      .orderBy("win_start_us")
  }

  // ---- exactly-once transactional file sink ------------------------------

  private val EosBatchTag = "^data/b(\\d+)-[0-9a-f]{8}/.*$".r

  private def eosBatchIdOf(file: String): Option[Long] = file match {
    case EosBatchTag(i) => Some(i.toLong)
    case _              => None
  }

  /** Batch ids recorded in the table's LATEST manifest — the set a restart
    * consults to decide "already committed". The manifest itself is the
    * transaction log: no side table, no listing of data/. */
  private[graft] def committedBatchIds(tableRoot: String): Set[Long] = {
    import graft.etl.Snapshots
    val v = Snapshots.latestVersionOr0(tableRoot)
    if (v == 0L) Set.empty
    else Snapshots.entries(tableRoot, v).flatMap(e => eosBatchIdOf(e.file)).toSet
  }

  /** Commit one micro-batch into the OCC-manifest table exactly once — the
    * Delta-style idempotent-foreachBatch discipline (txnVersion = batchId)
    * built on [[graft.etl.Snapshots]]:
    *
    *  - the batch's fileset is written under a UNIQUE attempt tag
    *    `b<batchId>-<nonce>`: an attempt that crashes after the data write
    *    but before the manifest commit leaves an orphan no reader ever
    *    sees (manifest-resolved reads never list data/) and vacuum reaps;
    *  - the manifest commit is the OCC conditional put, and the op
    *    re-validates "batchId not yet committed" AGAINST THE FRESH BASE on
    *    every retry — two racing deliveries of the same batch (restarted
    *    query + zombie executor) serialize through the CAS and exactly one
    *    appends;
    *  - a re-delivered already-committed batch (restart after commit,
    *    before checkpoint — the window where a plain parquet append sink
    *    DUPLICATES rows) is detected from the manifest and skipped.
    *
    * Returns true iff this call committed the batch. */
  private[graft] def commitBatchExactlyOnce(batch: DataFrame, tableRoot: String,
                                            batchId: Long): Boolean = {
    import graft.etl.Snapshots
    if (committedBatchIds(tableRoot).contains(batchId)) return false
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val entries = Snapshots.writeFileset(batch, tableRoot, s"b$batchId-$nonce",
      unix_micros(col("ts")))
    try {
      Snapshots.commitRetry(tableRoot, cur => {
        if (cur.exists(e => eosBatchIdOf(e.file).contains(batchId)))
          throw new Snapshots.CommitConflictException(
            s"batch $batchId already committed")
        cur ++ entries
      })
      true
    } catch {
      // lost the same-batch race: the other attempt's fileset is the table's
      // truth; ours stays an invisible orphan for vacuum
      case _: Snapshots.CommitConflictException => false
    }
  }

  private val eosSourceSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** `stream_exactly_once_sink` — a transactional streaming file sink with
    * exactly-once batch commits: events stream through `foreachBatch` into
    * an OCC-manifest table ([[commitBatchExactlyOnce]]), then the run
    * DELIBERATELY re-delivers the last batch id (the
    * restart-after-commit-before-checkpoint window) and requires the table
    * version unchanged. The oracle aggregates the raw events directly, so a
    * duplicated replay FAILS the gate arithmetically — n per type would
    * double — rather than by assertion. Reads resolve through the manifest:
    * torn writes and lost-race filesets are invisible by construction.
    * At 100 TB this is the ingest-side commit protocol: one manifest CAS
    * per micro-batch regardless of data volume, batch data written once,
    * never rewritten, never listed. */
  def streamExactlyOnceSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.etl.Snapshots
    val root = {
      val r = graft.Tables.scratchDir("stream_eos")
      val (src, table, ckpt) = (s"$r/src", s"$r/table", s"$r/ckpt")
      t(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(8).write.parquet(src)
      val q = spark.readStream
        .schema(eosSourceSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .writeStream
        .outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          commitBatchExactlyOnce(b, table, id): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the replay: same last batch id, arbitrary payload — must be a no-op
      val vBefore = Snapshots.latestVersion(table)
      val last = committedBatchIds(table).max
      val replayed = commitBatchExactlyOnce(
        spark.read.schema(eosSourceSchema).parquet(src), table, last)
      require(!replayed && Snapshots.latestVersion(table) == vBefore,
        "exactly-once sink re-committed a replayed batch")
      r
    }
    Snapshots.readSnapshot(spark, s"$root/table")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).cast("string").as("sum_value"))
      .orderBy("event_type")
  }
}
