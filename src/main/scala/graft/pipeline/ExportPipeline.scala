package graft.pipeline

import java.util.UUID
import java.util.concurrent.CountDownLatch

import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.EtlOps

/** The reference's pipeline, Spark-natively: config-gated stage composition.
  *
  * The reference builds a CloudFormation DAG of shell activities — flags in
  * `config.py:18-22` decide which stages exist, and
  * `export_pipeline_template.py:144-181` wires stage k's output file into
  * stage k+1 (txs→hashes→receipts, receipts→contract_address→contracts,
  * transfers→distinct token_address→tokens). Here each activity is a stage
  * of [[StageRunner]], scheduled the same way except that a stage starts as
  * soon as every stage in its `dependsOn` has staged its rows, and writes
  * once they have all succeeded. The three branches — blocks; transactions
  * → {receipts → contracts, logs}; token_transfers → tokens — run
  * concurrently. Each table is declared once, in
  * `ExportPipeline.tables`: its name, upstreams, config flag, lake schema,
  * block column and frame. [[ExportPipeline.run]] and
  * [[ExportPipeline.templateObjects]] both take the included stages from
  * that list, and the CSV read schema and the ApplyMapping casts of each
  * table derive from its lake schema. A downstream stage keys from what
  * its upstream staged, never from the upstream's raw CSV, and the fan-out
  * key extractions become joins against it. Each stage reads its raw CSV
  * once and checkpoints its partitioned rows, observing the DropNullFields
  * census on that shuffle ([[EtlOps.stageRanges]]), so an export makes 7
  * CSV scans and no lake scans. The checkpointed rows, every column kept,
  * are what the stage's dependents start on, as soon as they exist; the
  * stage's write of its lake runs meanwhile, and a dependent writes only
  * once every upstream's write has succeeded. The reference's fan-out
  * likewise keys from the file its upstream exported (config.py:40), with
  * the Parquet conversion off that chain. The partition loop (config.py:10-14)
  * becomes the partitioned write. Every stage's frame puts its padded
  * `start_block`, `end_block` columns first, so the 7 stages share their
  * partitioning code and a repeated export usually finds all of its
  * generated code in Spark's 100-entry compiled-code cache instead of
  * recompiling it (see [[EtlOps.stageRanges]]).
  */
final case class PipelineConfig(
    exportBlocks: Boolean = true,
    exportTransactions: Boolean = true,
    exportReceipts: Boolean = true,
    exportLogs: Boolean = true,
    exportContracts: Boolean = true,
    exportTokenTransfers: Boolean = true,
    exportTokens: Boolean = true,
    // Optional non-uniform partition layout: block number → (start, end)
    // bounds of its partition. None = uniform buckets of 1000 blocks. Used
    // to reproduce the reference's skew-aware 131-partition plan
    // (config.py:10-14) exactly; see [[ExportPipeline.referenceBounds]].
    partitionBounds: Option[Column => (Column, Column)] = None,
    // Per-stage retry budget, the reference's maximumRetries=5
    // (export_pipeline_template.py:49): each stage's whole step, its staged
    // rows and then its write, is attempted 1 + maxRetries times before it
    // is declared failed. Within one run a retry is safe because every stage
    // sink is a full-path overwrite; across runs that overwrite erases
    // ranges an earlier run wrote (ROADMAP item 6).
    maxRetries: Int = 5,
    // Fault-injection seam for retry/cascade tests: applied to each stage's
    // cleaned frame just before its write, once every upstream's write has
    // succeeded. In the export its result reaches the lake only: the
    // stage's dependents start on the staged rows, before the write. The
    // frame's first two columns are its padded start_block, end_block
    // partition columns; the order keeps the export's generated code within
    // Spark's compiled-code cache (see EtlOps.stageRanges). Production default is identity;
    // a test hook can throw on the first N invocations of a chosen stage to
    // exercise the retry loop deterministically. Independent stages run on
    // their own threads, so it can be called concurrently: a stateful hook
    // must be thread-safe.
    stageInterceptor: (String, DataFrame) => DataFrame = (_, df) => df)

/** Terminal state of one pipeline stage, mirroring AWS Data Pipeline's
  * activity lifecycle under failureAndRerunMode=cascade
  * (export_pipeline_template.py:136): a stage either succeeded (possibly
  * after retries), exhausted its retry budget, or was cascade-failed
  * because an upstream did — dependents of a failed activity never write. */
sealed trait StageStatus
object StageStatus {
  final case class Succeeded(attempts: Int) extends StageStatus
  final case class Failed(attempts: Int, error: String) extends StageStatus
  final case class CascadeFailed(upstream: String) extends StageStatus
}

final case class PipelineResult(
    tables: Map[String, DataFrame],
    stages: Map[String, StageStatus] = Map.empty) {

  /** Pipeline-level dead-letter surface, same channel shape as the ingest
    * operator `etl_dead_letter` (EtlOps.etlDeadLetter): one row per
    * configured stage with an `ok` flag and a nullable `dead_letter`
    * payload carrying the failure (error text, or the upstream name for a
    * cascade). A failed run is thereby data a caller can route/reprocess,
    * not just an exception trace. */
  def deadLetter(spark: SparkSession): DataFrame = {
    import spark.implicits._
    stages.toSeq.map {
      case (name, StageStatus.Succeeded(n)) =>
        (name, true, n.toLong, Option.empty[String])
      case (name, StageStatus.Failed(n, err)) =>
        (name, false, n.toLong, Some(s"failed after $n attempts: $err"))
      case (name, StageStatus.CascadeFailed(up)) =>
        (name, false, 0L, Some(s"cascade: upstream '$up' failed"))
    }.toDF("stage", "ok", "attempts", "dead_letter")
  }
}

/** The retry/cascade stage executor, factored out of the Ethereum export
  * DAG so the LLM curation DAG ([[CurationPipeline]]) runs under the SAME
  * operational contract (export_pipeline_template.py:49,136): a stage's
  * step — its body, then the idempotent full-path-overwrite write the body
  * returns — is attempted `1 + maxRetries` times; once a stage exhausts
  * its budget every transitive dependent is CascadeFailed and never writes
  * (no output is written for a stage whose input is bad). Statuses come
  * back in declaration order and are surfaced via
  * [[PipelineResult.deadLetter]].
  *
  * Stages are declared with [[stage]] (upstreams first, so the graph is
  * acyclic) and executed by [[run]], which schedules them as Data Pipeline
  * schedules activities on `dependsOn`, with the write split off: every
  * stage gets its own thread, which starts its body as soon as each of its
  * upstreams has published its output, and starts the write the body
  * returns once each upstream's write has succeeded. A stage publishes the
  * output of its first body that returns, so an upstream's write overlaps
  * its dependents' bodies. Independent branches overlap too, at most as
  * many stages at a time as the DAG is wide, and Spark's scheduler shares
  * the cores among their jobs. A body receives its upstreams' outputs by
  * name. A Throwable that is not an Exception is not retried: its stage's
  * dependents do not write, and [[run]] rethrows it once every stage
  * thread has ended. */
private[pipeline] final class StageRunner(spark: SparkSession, maxRetries: Int) {
  private final class Stage(val name: String, val upstreams: Seq[Stage],
                            val body: Map[String, DataFrame] => StageRunner.Step) {
    var thread: Thread = _
    // set by the stage's own thread before `published` opens; read by
    // dependents once it has opened
    var output = Option.empty[DataFrame]
    val published = new CountDownLatch(1)
    // written by the stage's own thread; read by others only after join()
    var status = Option.empty[StageStatus]
    var table = Option.empty[DataFrame] // once its write has succeeded
    var fatal = Option.empty[Throwable]
  }
  private val stages = scala.collection.mutable.ArrayBuffer[Stage]()
  // every job the stage threads submit carries it, so an interrupted run
  // can cancel the jobs its stages leave behind
  private val jobTag = s"graft-stage-runner-${UUID.randomUUID()}"
  @volatile private var stopping = false

  def stage(name: String, upstreams: String*)(body: Map[String, DataFrame] => StageRunner.Step): Unit =
    stages += new Stage(name, upstreams.map(u => stages.find(_.name == u).getOrElse(
      throw new IllegalArgumentException(s"stage '$name': upstream '$u' is not declared"))), body)

  /** Run every declared stage and return when all have ended, with each
    * stage's status and the table of each stage whose write succeeded. If the
    * caller is interrupted meanwhile, the interrupt is passed on to every
    * stage thread, no stage retries, and the interrupt is rethrown once the
    * threads have ended and the scheduler has cancelled every job they
    * submitted: a thread interrupted while it waits for a job leaves that
    * job running. */
  def run(): PipelineResult = {
    // Constructed on the calling thread, so each stage thread inherits the
    // caller's Spark local properties (job group, scheduler pool, ...),
    // which Spark then copies onto every job the stage submits.
    stages.foreach(s => s.thread = new Thread(() => execute(s), s"pipeline-stage-${s.name}"))
    stages.foreach(_.thread.start())
    try stages.foreach(_.thread.join())
    catch {
      case e: InterruptedException =>
        stopping = true
        stages.foreach(_.thread.interrupt())
        stages.foreach(_.thread.join())
        // after the joins no stage thread submits another job, but a pool
        // thread one of its queries started (a broadcast, say) still can:
        // cancel until a round 100 ms after the last finds none
        def cancel() = Await.result(
          GraftBridge.cancelJobsWithTag(spark, jobTag, "pipeline run interrupted"), 1.minute)
        cancel()
        while ({ Thread.sleep(100); cancel() > 0 }) ()
        throw e
    }
    stages.flatMap(_.fatal).headOption.foreach(throw _)
    PipelineResult(stages.flatMap(s => s.table.map(s.name -> _)).toMap,
      ListMap(stages.toSeq.map(s => s.name -> s.status.get): _*))
  }

  private def execute(s: Stage): Unit = try {
    spark.sparkContext.addJobTag(jobTag) // to this thread's copy of the caller's properties
    s.upstreams.foreach(_.published.await())
    val (attempts, lastErr) =
      if (s.upstreams.forall(_.output.isDefined)) attempt(s) else (0, "")
    s.upstreams.foreach(_.thread.join())
    // an upstream without a status ended on a Throwable that is not an
    // Exception, or skipped because one of its own did: run() rethrows it
    if (s.upstreams.forall(_.status.isDefined))
      s.status = Some(s.upstreams.find(!_.status.get.isInstanceOf[StageStatus.Succeeded]) match {
        case Some(bad)                 => StageStatus.CascadeFailed(bad.name)
        case None if s.table.isDefined => StageStatus.Succeeded(attempts)
        case None                      => StageStatus.Failed(attempts, lastErr)
      })
  } catch {
    case t: Throwable => s.fatal = Some(t)
  } finally s.published.countDown()

  /** Attempt `s`'s step until it is written, its budget is spent, an
    * upstream has failed, or the run stops. Sets `s.table` when the write
    * succeeds; returns the attempts made and the last error. */
  private def attempt(s: Stage): (Int, String) = {
    val inputs = s.upstreams.map(u => u.name -> u.output.get).toMap
    def upstreamsWritten = {
      s.upstreams.foreach(_.thread.join())
      s.upstreams.forall(_.status.exists(_.isInstanceOf[StageStatus.Succeeded]))
    }
    var attempts = 0
    var lastErr = ""
    var done = false // set once no further attempt is due
    while (!done && attempts <= maxRetries && !stopping) {
      attempts += 1
      try {
        val step = s.body(inputs)
        if (s.output.isEmpty) {
          s.output = Some(step.output)
          s.published.countDown()
        }
        if (upstreamsWritten) s.table = Some(step.write())
        done = true
      } catch {
        case e: Exception =>
          lastErr = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    (attempts, lastErr)
  }
}

private[pipeline] object StageRunner {
  /** One attempt's result: `output`, which the stage's dependents start
    * on, and `write`, which runs once every upstream's write has succeeded
    * and returns the stage's table. */
  final case class Step(output: DataFrame, write: () => DataFrame)
}

object ExportPipeline {

  /** One export table, declared once. `schema` is its columns as the raw
    * CSV carries them, in order, with their lake types: a uint256 column is
    * decimal(38,0), because wei values overflow int64
    * (convert_blocks_to_parquet.py:38-39). The table is exported when
    * `flag` is set and every one of its `upstreams` is exported. `body`
    * builds the stage's frame from the typed CSV and its upstreams' lakes,
    * by name; `blockCol` is the block number its partitions range over. */
  private final case class Table(
      name: String,
      upstreams: Seq[String],
      flag: PipelineConfig => Boolean,
      blockCol: String,
      schema: StructType,
      body: (DataFrame, Map[String, DataFrame]) => DataFrame = (csv, _) => csv) {
    private def isUint256(f: StructField) = f.dataType.isInstanceOf[DecimalType]

    /** The CSV carries uint256 columns as strings, cast in Glue
      * (convert_transactions_to_parquet.py:36). A headered CSV read with a
      * schema applies it by position. */
    def read(spark: SparkSession, dir: String): DataFrame = {
      val raw = spark.read
        .schema(StructType(schema.map(f => if (isUint256(f)) f.copy(dataType = StringType) else f)))
        .option("header", "true").csv(s"$dir/$name.csv")
      // ApplyMapping, on the tables that have a uint256 column
      if (schema.exists(isUint256)) EtlOps.applyMapping(raw, schema.map(f => (f.name, f.name, f.dataType)))
      else raw
    }
  }

  private def columns(cols: (String, DataType)*) = StructType(cols.map { case (n, t) => StructField(n, t) })
  private val str = StringType
  private val lng = LongType
  private val uint256 = DecimalType(38, 0)

  /** The export's tables in stage order, upstreams first. This list alone
    * states the DAG: [[run]] declares its included stages and
    * [[templateObjects]] renders them. */
  private val tables: Seq[Table] = Seq(
    // stage 1: blocks + transactions (config.py:35-38)
    Table("blocks", Nil, _.exportBlocks, "number", columns(
      "number" -> lng, "hash" -> str, "parent_hash" -> str, "nonce" -> str, "miner" -> str,
      "difficulty" -> uint256, "total_difficulty" -> uint256, "size" -> lng, "gas_limit" -> lng,
      "gas_used" -> lng, "timestamp" -> lng, "transaction_count" -> lng, "all_null_col" -> str)),
    Table("transactions", Nil, _.exportTransactions, "block_number", columns(
      "hash" -> str, "nonce" -> lng, "block_hash" -> str, "block_number" -> lng,
      "transaction_index" -> lng, "from_address" -> str, "to_address" -> str,
      "value" -> uint256, "gas" -> lng, "gas_price" -> lng, "input" -> str)),
    // stage 2: receipts, fetched only for exported tx hashes (config.py:40-41).
    // NO broadcast hint: the tx key set has the same cardinality as the
    // receipts fact — a forced broadcast would ship every transaction hash
    // to every executor (OOM at chain scale); the equi-join shuffles both
    // sides on transaction_hash, and AQE still downgrades to broadcast when
    // a filtered run is actually small.
    Table("receipts", Seq("transactions"), _.exportReceipts, "block_number", columns(
      "transaction_hash" -> str, "contract_address" -> str, "gas_used" -> lng, "status" -> lng),
      (csv, up) => csv.join(up("transactions").select(col("hash").as("transaction_hash"),
        col("block_number")), Seq("transaction_hash"), "inner")),
    // stage 2b: logs for the same exported tx hashes (config.py:43-44 — the
    // reference exports receipts and logs from one extracted hash file).
    // A plain left-semi join for the same reason as receipts: the hash set
    // is as large as the transactions table, so broadcasting it is AQE's
    // call, made on the lake's measured size.
    Table("logs", Seq("transactions"), _.exportLogs, "block_number", columns(
      "transaction_hash" -> str, "log_index" -> lng, "address" -> str, "topics" -> str,
      "data" -> str, "block_number" -> lng),
      (csv, up) => csv.join(up("transactions").select(col("hash").as("transaction_hash")),
        Seq("transaction_hash"), "left_semi")),
    // stage 3: contracts for receipt contract_addresses (config.py:46-47).
    // The creation block number rides along from the receipt row (min() in
    // case of duplicate receipt rows), so the partitioned write spreads
    // contracts across real block ranges — a lit(0) placeholder would put
    // every contract in one partition at scale. The join doubles as the
    // reference's semi-join filter (inner join on the extracted key set);
    // AQE picks broadcast when the aggregated address→block map is small.
    Table("contracts", Seq("receipts"), _.exportContracts, "block_number", columns(
      "address" -> str, "bytecode" -> str),
      (csv, up) => csv.join(up("receipts")
        .filter(col("contract_address").isNotNull)
        .groupBy(col("contract_address").as("address"))
        .agg(min(col("block_number")).as("block_number")), Seq("address"), "inner")),
    // stage 4: token transfers (config.py:51-53)
    Table("token_transfers", Nil, _.exportTokenTransfers, "block_number", columns(
      "token_address" -> str, "from_address" -> str, "to_address" -> str, "value" -> uint256,
      "transaction_hash" -> str, "log_index" -> lng, "block_number" -> lng)),
    // stage 5: tokens for distinct transfer token_addresses (config.py:56-57).
    // Same pattern as contracts: the token's first-transfer block becomes its
    // partition key, replacing the single-partition lit(0) placeholder.
    Table("tokens", Seq("token_transfers"), _.exportTokens, "block_number", columns(
      "address" -> str, "symbol" -> str, "name" -> str, "decimals" -> lng, "total_supply" -> str),
      (csv, up) => csv.join(up("token_transfers")
        .groupBy(col("token_address").as("address"))
        .agg(min(col("block_number")).as("block_number")), Seq("address"), "inner")))

  /** The tables `cfg` exports, in stage order. Config-disabled stages are
    * left out and get no status row, matching the reference template where
    * disabled activities aren't in the DAG at all. */
  private def included(cfg: PipelineConfig): Seq[Table] =
    tables.foldLeft(Vector.empty[Table]) { (in, t) =>
      if (t.flag(cfg) && t.upstreams.forall(u => in.exists(_.name == u))) in :+ t else in
    }

  /** Run the configured stages: ingest raw CSVs from `rawDir`, apply the
    * Glue-job transforms (ApplyMapping casts → DropNullFields), write each
    * entity as zero-padded block-range-partitioned Parquet under `outDir`,
    * key each downstream stage from its upstream's checkpointed rows, and
    * return the written tables keyed by name. */
  def run(spark: SparkSession, cfg: PipelineConfig, rawDir: String, outDir: String): PipelineResult = {
    val runner = new StageRunner(spark, cfg.maxRetries)
    val bucket = (c: String) => (col(c) / 1000L).cast(LongType) * 1000L
    val bounds = (c: String) => cfg.partitionBounds match {
      case Some(f) => f(col(c))
      case None    => (bucket(c), bucket(c) + 999L)
    }

    // Checkpoints the stage's rows and takes their census; the dependents
    // start on those rows, which keep every column: a column that is null in
    // every row of this batch is still there for them — an all-null
    // contract_address batch must not erase a fan-out join column. The write
    // drops the dead columns and reads the lake back for the result, naming
    // its schema: an empty batch writes no files, and schema inference over
    // zero parquet files fails.
    def finish(name: String, df: DataFrame, blockCol: String): StageRunner.Step = {
      val (startB, endB) = bounds(blockCol)
      val staged = EtlOps.stageRanges(df, startB, endB)
      StageRunner.Step(staged.rows, () => {
        val path = s"$outDir/$name"
        EtlOps.readPartitioned(spark, path, "parquet",
          staged.write(path, "parquet", cfg.stageInterceptor(name, _)))
      })
    }

    for (t <- included(cfg))
      runner.stage(t.name, t.upstreams: _*)(up => finish(t.name, t.body(t.read(spark, rawDir), up), t.blockCol))
    runner.run()
  }

  /** A13's literal output, Spark-natively: the deployable DAG artifact a
    * scheduler consumes. The reference's generator renders its stage graph
    * to CloudFormation JSON of Data Pipeline activity objects — id,
    * dependsOn, maximumRetries=5, failureAndRerunMode=cascade, staged
    * output location (generate_export_pipeline_template.py:194-199,
    * export_pipeline_template.py:49,62-199,136-137); this renders the
    * stages `run` executes for the same config, one row per activity plus
    * the rendered JSON object. Deterministic function of [[PipelineConfig]]
    * — no table input — so the oracle pins the exact artifact as literals,
    * the same way the reference's template would be golden-file tested. */
  def templateObjects(cfg: PipelineConfig): Seq[(Long, String, String, Long, String, String, String)] =
    included(cfg).zipWithIndex.map { case (t, i) =>
      val dependsJson = t.upstreams.map(d => s""""Activity_$d"""").mkString("[", ",", "]")
      val json = s"""{"id":"Activity_${t.name}","type":"SparkStage",""" +
        s""""maximumRetries":${cfg.maxRetries},"failureAndRerunMode":"cascade",""" +
        s""""dependsOn":$dependsJson,"output":"export/${t.name}"}"""
      (i.toLong, s"Activity_${t.name}", t.upstreams.mkString(","),
        cfg.maxRetries.toLong, "cascade", s"export/${t.name}", json)
    }

  /** `pipeline_template` — [[templateObjects]] over the default config. */
  def pipelineTemplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    templateObjects(PipelineConfig())
      .toDF("stage_idx", "activity_id", "depends_on", "max_retries",
        "failure_mode", "output_path", "template_json")
      .orderBy("stage_idx")
  }

  /** The reference's skew-aware 131-partition full-chain layout
    * (config.py:10-14: one wide partition for sparse blocks 0-999999, 30 x
    * 100k for 1M-4M, 100 x 10k for the dense 4M-5M tail), scaled down by
    * `scaleDiv` with the partition COUNT preserved. Pure integer column
    * arithmetic (n - pmod(n, width)) — O(1) per row, codegen'd, no join
    * against a bounds table — so the mapping itself never shuffles. */
  def referenceBounds(scaleDiv: Long): Column => (Column, Column) = {
    require(1000000L % (100L * scaleDiv) == 0, s"scaleDiv $scaleDiv must keep tier widths integral")
    val (t1, w2, w3) = (1000000L / scaleDiv, 100000L / scaleDiv, 10000L / scaleDiv)
    val t2 = 4 * t1
    n => {
      val start = when(n < t1, lit(0L))
        .when(n < t2, n - pmod(n, lit(w2)))
        .otherwise(n - pmod(n, lit(w3)))
      val width = when(n < t1, lit(t1)).when(n < t2, lit(w2)).otherwise(lit(w3))
      (start, start + width - 1)
    }
  }
}
