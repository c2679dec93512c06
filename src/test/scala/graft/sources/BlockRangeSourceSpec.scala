package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Records every (s, e) fetch call; content delegates to the synthetic
  * default. A top-level object so executor threads hit the same instance
  * state in local mode. */
object RecordingFetcher extends BlockRangeSource.BlockFetcher {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  override def fetch(s: Long, e: Long): Iterator[BlockRangeSource.FetchedBlock] = {
    calls.add((s, e))
    BlockRangeSource.SyntheticFetcher.fetch(s, e)
  }
}

/** Fails the first `failFirst` fetch calls JVM-wide (an RPC node dropping
  * connections), then behaves like the synthetic default — deterministic
  * fault injection for the task-retry spec. */
object FlakyFetcher extends BlockRangeSource.BlockFetcher {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failFirst = 0
  override def fetch(s: Long, e: Long): Iterator[BlockRangeSource.FetchedBlock] = {
    if (attempts.getAndIncrement() < failFirst)
      throw new java.io.IOException(s"injected RPC failure for blocks [$s,$e]")
    BlockRangeSource.SyntheticFetcher.fetch(s, e)
  }
}

class BlockRangeSourceSpec extends SparkTestBase {

  private def read(start: Long, end: Long, batch: Long) =
    spark.read.format("graft.sources.BlockRangeSource")
      .option("start", start).option("end", end).option("batchSize", batch)
      .load()

  test("the fetch boundary is called on the -s/-e/-w RPC-batch grid") {
    RecordingFetcher.calls.clear()
    BlockRangeSource.registerFetcher("recording", RecordingFetcher)
    val df = spark.read.format("graft.sources.BlockRangeSource")
      .option("start", 0L).option("end", 24999L).option("batchSize", 10000L)
      .option("rpcBatchSize", 4000L).option("fetcher", "recording")
      .load()
    assert(df.count() == 25000)
    // partitions [0,9999],[10000,19999],[20000,24999], each walked in
    // 4000-block sub-ranges anchored at its own start — the exact ranges a
    // reference export command would pass as -s/-e at -w batching
    import scala.jdk.CollectionConverters._
    assert(RecordingFetcher.calls.asScala.toSeq.sorted == Seq(
      (0L, 3999L), (4000L, 7999L), (8000L, 9999L),
      (10000L, 13999L), (14000L, 17999L), (18000L, 19999L),
      (20000L, 23999L), (24000L, 24999L)))
  }

  test("a flaky fetch is recovered by task retry with identical results") {
    BlockRangeSource.registerFetcher("flaky", FlakyFetcher)
    FlakyFetcher.attempts.set(0)
    FlakyFetcher.failFirst = 2 // two tasks lose their first RPC attempt
    val flaky = spark.read.format("graft.sources.BlockRangeSource")
      .option("start", 0L).option("end", 24999L).option("batchSize", 10000L)
      .option("fetcher", "flaky")
      .load()
    // identical rows despite the failures: retried tasks re-fetch their
    // whole partition, and no block is duplicated or lost
    assert(flaky.count() == 25000)
    assert(flaky.select("number").distinct().count() == 25000)
    val Seq(g1, g2) = Seq(flaky, read(0, 24999, 10000)).map(
      _.agg(sum("number"), sum("gas_used")).head())
    assert(g1 == g2)
    // the injected failures actually happened and forced re-fetches
    assert(FlakyFetcher.attempts.get() > FlakyFetcher.failFirst)
    FlakyFetcher.failFirst = 0
  }

  test("generates the inclusive range, one partition per batch") {
    val df = read(0, 24999, 10000)
    assert(df.count() == 25000)
    assert(df.rdd.getNumPartitions == 3) // 10k,10k,5k
    val mm = df.agg(min("number"), max("number")).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == 24999L)
  }

  test("number predicates prune whole batch partitions") {
    val pruned = read(0, 99999, 10000).filter(col("number") >= 70000L)
    assert(pruned.rdd.getNumPartitions == 3) // batches 7,8,9 only
    assert(pruned.count() == 30000)
    // residual filter still applied inside surviving partitions
    val tight = read(0, 99999, 10000).filter(col("number").between(70500L, 70600L))
    assert(tight.count() == 101)
  }

  test("column pruning reaches the reader") {
    val df = read(0, 999, 1000).select("miner")
    // readSchema of the scan contains only the pruned column
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(df.distinct().count() == 97)
  }

  test("deterministic content with exact decimal difficulty") {
    val r = read(5, 5, 1).head()
    assert(r.getAs[Long]("number") == 5L)
    assert(r.getAs[String]("hash") == "0x%010d".format((5L * 2654435761L) % 1000000007L))
    assert(r.getAs[java.math.BigDecimal]("difficulty").longValueExact() == 5L * 131072L)
  }

  test("a file-dump fetcher serves a staged JSONL export identically to the synthetic source") {
    // stage a node dump the way the reference stages export files: one JSON
    // object per block line, difficulty a STRING (uint256-as-string, cast
    // to decimal(38,0) engine-side like convert_blocks_to_parquet.py)
    val dump = java.nio.file.Paths.get(Tables.scratchDir("dump"), "blocks.jsonl")
    val lines = (0L to 4999L).map { n =>
      val b = BlockRangeSource.SyntheticFetcher.fetch(n, n).next()
      s"""{"number":${b.number},"hash":"${b.hash}","miner":"${b.miner}",""" +
        s""""difficulty":"${b.difficulty.toBigInt}","gas_used":${b.gasUsed},""" +
        s""""timestamp":${b.timestamp}}"""
    }
    java.nio.file.Files.write(dump, lines.mkString("\n").getBytes("UTF-8"))
    BlockRangeSource.registerFetcher("filedump",
      BlockRangeSource.FileDumpFetcher(dump.toString))
    val fromDump = spark.read.format("graft.sources.BlockRangeSource")
      .option("start", 0L).option("end", 4999L).option("batchSize", 1000L)
      .option("rpcBatchSize", 400L).option("fetcher", "filedump")
      .load()
    val synthetic = read(0, 4999, 1000)
    assert(fromDump.count() == 5000)
    assert(fromDump.exceptAll(synthetic).count() == 0)
    assert(synthetic.exceptAll(fromDump).count() == 0)
    // pruning composes with the staged-file path exactly as with RPC
    val pruned = spark.read.format("graft.sources.BlockRangeSource")
      .option("start", 0L).option("end", 4999L).option("batchSize", 1000L)
      .option("fetcher", "filedump").load()
      .filter(col("number") >= 3000L)
    assert(pruned.rdd.getNumPartitions == 2 && pruned.count() == 2000)
    java.nio.file.Files.delete(dump)
  }

  test("micro-batch stream follows the chain head and equals the batch read") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = Tables.scratchDir("brs_ckpt")
    val stream = spark.readStream.format("graft.sources.BlockRangeSource")
      .option("start", 0).option("end", 499)
      .option("batchSize", 100).option("blocksPerTrigger", 200)
      .load()
    val q = stream.writeStream
      .format("memory").queryName("brs_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("brs_stream")
    // exactly-once, complete, and identical to the batch read
    assert(got.count() == 500)
    assert(got.select("number").distinct().count() == 500)
    val batch = read(0, 499, 100)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // the head advanced in blocksPerTrigger steps: at least 3 microbatches
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 3, s"expected >=3 non-empty microbatches, got ${progress.length}")
    assert(progress.forall(_.numInputRows <= 200))
  }

  test("micro-batch stream restart resumes from the checkpoint, exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Tables.scratchDir("brs_restart")
    def startQ() = spark.readStream.format("graft.sources.BlockRangeSource")
      .option("start", 0).option("end", 4999)
      .option("batchSize", 250).option("blocksPerTrigger", 250)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$root/sink")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def sinkCount(): Long =
      try spark.read.schema(graft.sources.BlockRangeSource.schema)
        .parquet(s"$root/sink").count()
      catch { case _: Throwable => 0L } // sink dir may not exist yet
    val q1 = startQ()
    try {
      // stop as soon as some microbatches committed (usually well short of
      // the 20 the full range needs)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sinkCount() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally q1.stop()
    val partial = sinkCount()
    assert(partial > 0, "first run must commit at least one microbatch")
    // restart with the same checkpoint: must resume from the committed
    // offset (never re-emit) and finish the chain
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.schema(graft.sources.BlockRangeSource.schema)
      .parquet(s"$root/sink")
    assert(rows.count() == 5000, "restart must complete the range")
    assert(rows.select("number").distinct().count() == 5000,
      "no block may be emitted twice across the restart")
    if (partial < 5000)
      assert(q2.recentProgress.exists(_.numInputRows > 0),
        "the second run must have produced the remainder")
  }
}
