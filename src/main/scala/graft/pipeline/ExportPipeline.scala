package graft.pipeline

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.etl.EtlOps

/** The reference's pipeline, Spark-natively: config-gated stage composition.
  *
  * The reference builds a CloudFormation DAG of shell activities — flags in
  * `config.py:18-22` decide which stages exist, and
  * `export_pipeline_template.py:144-181` wires stage k's output file into
  * stage k+1 (txs→hashes→receipts, receipts→contract_address→contracts,
  * transfers→distinct token_address→tokens). Here each activity is a stage
  * of [[StageRunner]], scheduled the same way: a stage starts as soon as
  * every stage in its `dependsOn` has succeeded, so the three branches —
  * blocks; transactions → {receipts → contracts, logs}; token_transfers →
  * tokens — run concurrently. The staged file is the upstream's Parquet
  * lake: a downstream stage keys from what its upstream wrote, never from
  * the upstream's raw CSV, and the fan-out key extractions become joins
  * against it. Each stage runs two SQL executions, the DropNullFields
  * census and the partitioned write, so an export is 14 of them and reads
  * each raw CSV twice; the partition loop (config.py:10-14) becomes the
  * partitioned write.
  */
final case class PipelineConfig(
    exportBlocks: Boolean = true,
    exportTransactions: Boolean = true,
    exportReceipts: Boolean = true,
    exportLogs: Boolean = true,
    exportContracts: Boolean = true,
    exportTokenTransfers: Boolean = true,
    exportTokens: Boolean = true,
    batchSize: Long = 1000L,
    // Optional non-uniform partition layout: block number → (start, end)
    // bounds of its partition. None = uniform batchSize buckets. Used to
    // reproduce the reference's skew-aware 131-partition plan
    // (config.py:10-14) exactly; see [[ExportPipeline.referenceBounds]].
    partitionBounds: Option[Column => (Column, Column)] = None,
    // Per-stage retry budget, the reference's maximumRetries=5
    // (export_pipeline_template.py:49): each stage's write is attempted
    // 1 + maxRetries times before it is declared failed. Retries are safe
    // because every stage sink is a full-path overwrite.
    maxRetries: Int = 5,
    // Fault-injection seam for retry/cascade tests: applied to each stage's
    // cleaned frame just before its write. Production default is identity;
    // a test hook can throw on the first N invocations of a chosen stage to
    // exercise the retry loop deterministically. Independent stages run on
    // their own threads, so it can be called concurrently: a stateful hook
    // must be thread-safe.
    stageInterceptor: (String, DataFrame) => DataFrame = (_, df) => df)

/** Terminal state of one pipeline stage, mirroring AWS Data Pipeline's
  * activity lifecycle under failureAndRerunMode=cascade
  * (export_pipeline_template.py:136): a stage either succeeded (possibly
  * after retries), exhausted its retry budget, or was cascade-failed
  * because an upstream did — dependents of a failed activity never run. */
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
  * operational contract (export_pipeline_template.py:49,136): a stage body
  * — declaration + idempotent full-path-overwrite write — is attempted
  * `1 + maxRetries` times; once a stage exhausts its budget every
  * transitive dependent is CascadeFailed WITHOUT running (its body is never
  * evaluated, so no partial output is written for a stage whose input is
  * bad). Statuses come back in declaration order and are surfaced via
  * [[PipelineResult.deadLetter]].
  *
  * Stages are declared with [[stage]] (upstreams first, so the graph is
  * acyclic) and executed by [[run]], which schedules them as Data Pipeline
  * schedules activities on `dependsOn`: every stage gets its own thread,
  * which waits for its upstreams and starts its body as soon as all of them
  * have succeeded. Independent branches therefore overlap, at most as many
  * at a time as the DAG is wide, and Spark's scheduler shares the cores
  * among their jobs. A body receives its upstreams' outputs by name. A
  * Throwable that is not an Exception is not retried: its stage's
  * dependents do not run, and [[run]] rethrows it once every stage thread
  * has ended. */
private[pipeline] final class StageRunner(maxRetries: Int) {
  private final class Stage(val name: String, val upstreams: Seq[Stage],
                            val body: Map[String, DataFrame] => DataFrame) {
    var thread: Thread = _
    // written by the stage's own thread; read by others only after join()
    var status = Option.empty[StageStatus]
    var output = Option.empty[DataFrame]
    var fatal = Option.empty[Throwable]
  }
  private val stages = scala.collection.mutable.ArrayBuffer[Stage]()

  def stage(name: String, upstreams: String*)(body: Map[String, DataFrame] => DataFrame): Unit =
    stages += new Stage(name, upstreams.map(u => stages.find(_.name == u).getOrElse(
      throw new IllegalArgumentException(s"stage '$name': upstream '$u' is not declared"))), body)

  /** Run every declared stage and return when all have ended. If the
    * caller is interrupted meanwhile, the interrupt is passed on to every
    * stage thread, and rethrown once they have all ended. */
  def run(): Map[String, StageStatus] = {
    // Constructed on the calling thread, so each stage thread inherits the
    // caller's Spark local properties (job group, scheduler pool, ...),
    // which Spark then copies onto every job the stage submits.
    stages.foreach(s => s.thread = new Thread(() => execute(s), s"pipeline-stage-${s.name}"))
    stages.foreach(_.thread.start())
    try stages.foreach(_.thread.join())
    catch {
      case e: InterruptedException =>
        stages.foreach(_.thread.interrupt())
        stages.foreach(_.thread.join())
        throw e
    }
    stages.flatMap(_.fatal).headOption.foreach(throw _)
    ListMap(stages.toSeq.map(s => s.name -> s.status.get): _*)
  }

  private def execute(s: Stage): Unit = try {
    s.upstreams.foreach(_.thread.join())
    // an upstream without a status ended on a Throwable that is not an
    // Exception, or skipped because one of its own did: run() rethrows it
    if (s.upstreams.forall(_.status.isDefined))
      s.upstreams.find(!_.status.get.isInstanceOf[StageStatus.Succeeded]) match {
        case Some(bad) => s.status = Some(StageStatus.CascadeFailed(bad.name))
        case None      => attempt(s, s.upstreams.map(u => u.name -> u.output.get).toMap)
      }
  } catch {
    case t: Throwable => s.fatal = Some(t)
  }

  private def attempt(s: Stage, inputs: Map[String, DataFrame]): Unit = {
    var attempts = 0
    var lastErr = ""
    while (s.output.isEmpty && attempts <= maxRetries) {
      attempts += 1
      try s.output = Some(s.body(inputs))
      catch {
        case e: Exception =>
          lastErr = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    s.status = Some(if (s.output.isDefined) StageStatus.Succeeded(attempts)
      else StageStatus.Failed(attempts, lastErr))
  }
}

object ExportPipeline {

  /** Raw-CSV-side schemas: uint256 columns arrive as strings (the reference
    * exports CSV and casts in Glue — convert_transactions_to_parquet.py:36). */
  private def csv(spark: SparkSession, dir: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(s"$dir/$name.csv")

  private val str = StringType
  private val lng = LongType
  private def f(n: String, t: DataType) = StructField(n, t)

  val blocksCsv = StructType(Seq(
    f("number", lng), f("hash", str), f("parent_hash", str), f("nonce", str),
    f("miner", str), f("difficulty", str), f("total_difficulty", str),
    f("size", lng), f("gas_limit", lng), f("gas_used", lng),
    f("timestamp", lng), f("transaction_count", lng), f("all_null_col", str)))

  /** Single source of truth for the CSV-side transactions schema. */
  val transactionsCsv: StructType = Tables.transactionsCsvSchema

  val receiptsCsv = StructType(Seq(
    f("transaction_hash", str), f("contract_address", str),
    f("gas_used", lng), f("status", lng)))

  val logsCsv = StructType(Seq(
    f("transaction_hash", str), f("log_index", lng), f("address", str),
    f("topics", str), f("data", str), f("block_number", lng)))

  val contractsCsv = StructType(Seq(f("address", str), f("bytecode", str)))

  val tokenTransfersCsv = StructType(Seq(
    f("token_address", str), f("from_address", str), f("to_address", str),
    f("value", str), f("transaction_hash", str), f("log_index", lng),
    f("block_number", lng)))

  val tokensCsv = StructType(Seq(
    f("address", str), f("symbol", str), f("name", str),
    f("decimals", lng), f("total_supply", str)))

  private def dec38 = DecimalType(38, 0)

  /** Run the configured stages: ingest raw CSVs from `rawDir`, apply the
    * Glue-job transforms (ApplyMapping casts → DropNullFields), write each
    * entity as zero-padded block-range-partitioned Parquet under `outDir`,
    * key each downstream stage from the lake its upstream wrote, and return
    * the final DataFrames keyed by table name. */
  def run(spark: SparkSession, cfg: PipelineConfig, rawDir: String, outDir: String): PipelineResult = {
    val out = TrieMap.empty[String, DataFrame]
    val runner = new StageRunner(cfg.maxRetries)
    val bucket = (c: String) => (col(c) / cfg.batchSize).cast(LongType) * cfg.batchSize
    val bounds = (c: String) => cfg.partitionBounds match {
      case Some(f) => f(col(c))
      case None    => (bucket(c), bucket(c) + (cfg.batchSize - 1))
    }

    // Writes the stage's lake and returns it read back for its dependents.
    // Both reads name their schema: an empty batch writes no files, and
    // schema inference over zero parquet files fails. The dependents' read
    // uses the PRE-DropNullFields schema, so a column that is null in every
    // row of this batch reads back as null instead of vanishing — an
    // all-null contract_address batch must not erase a fan-out join column.
    def finish(name: String, df: DataFrame, blockCol: String): DataFrame = {
      val cleaned = cfg.stageInterceptor(name, EtlOps.dropNullFields(df))
      val (startB, endB) = bounds(blockCol)
      val path = s"$outDir/$name"
      EtlOps.writePartitioned(cleaned, path, "parquet", startB, endB)
      out(name) = EtlOps.readPartitioned(spark, path, "parquet", cleaned.schema)
      EtlOps.readPartitioned(spark, path, "parquet", df.schema)
    }

    // Config-disabled stages are not declared and get no status row,
    // matching the reference template where disabled activities aren't in
    // the DAG at all.
    // stage 1: blocks + transactions (config.py:35-38)
    if (cfg.exportBlocks)
      runner.stage("blocks")(_ =>
        finish("blocks", EtlOps.applyMapping(csv(spark, rawDir, "blocks", blocksCsv), Seq(
          ("number", "number", lng), ("hash", "hash", str), ("parent_hash", "parent_hash", str),
          ("nonce", "nonce", str), ("miner", "miner", str),
          ("difficulty", "difficulty", dec38), ("total_difficulty", "total_difficulty", dec38),
          ("size", "size", lng), ("gas_limit", "gas_limit", lng), ("gas_used", "gas_used", lng),
          ("timestamp", "timestamp", lng), ("transaction_count", "transaction_count", lng),
          ("all_null_col", "all_null_col", str))), "number"))

    if (cfg.exportTransactions)
      runner.stage("transactions")(_ =>
        finish("transactions", EtlOps.applyMapping(csv(spark, rawDir, "transactions", transactionsCsv), Seq(
          ("hash", "hash", str), ("nonce", "nonce", lng), ("block_hash", "block_hash", str),
          ("block_number", "block_number", lng), ("transaction_index", "transaction_index", lng),
          ("from_address", "from_address", str), ("to_address", "to_address", str),
          ("value", "value", dec38), ("gas", "gas", lng), ("gas_price", "gas_price", lng),
          ("input", "input", str))), "block_number"))

    // stage 2: receipts, fetched only for exported tx hashes (config.py:40-41).
    // NO broadcast hint: the tx key set has the same cardinality as the
    // receipts fact — a forced broadcast would ship every transaction hash
    // to every executor (OOM at chain scale); the equi-join shuffles both
    // sides on transaction_hash, and AQE still downgrades to broadcast when
    // a filtered run is actually small.
    if (cfg.exportReceipts && cfg.exportTransactions)
      runner.stage("receipts", "transactions")(up =>
        finish("receipts", csv(spark, rawDir, "receipts", receiptsCsv)
          .join(up("transactions").select(col("hash").as("transaction_hash"),
            col("block_number")), Seq("transaction_hash"), "inner"), "block_number"))

    // stage 2b: logs for the same exported tx hashes (config.py:43-44 — the
    // reference exports receipts and logs from one extracted hash file).
    // A plain left-semi join for the same reason as receipts: the hash set
    // is as large as the transactions table, so broadcasting it is AQE's
    // call, made on the lake's measured size.
    if (cfg.exportLogs && cfg.exportTransactions)
      runner.stage("logs", "transactions")(up =>
        finish("logs", csv(spark, rawDir, "logs", logsCsv)
          .join(up("transactions").select(col("hash").as("transaction_hash")),
            Seq("transaction_hash"), "left_semi"), "block_number"))

    // stage 3: contracts for receipt contract_addresses (config.py:46-47).
    // The creation block number rides along from the receipt row (min() in
    // case of duplicate receipt rows), so the partitioned write spreads
    // contracts across real block ranges — a lit(0) placeholder would put
    // every contract in one partition at scale. The join doubles as the
    // reference's semi-join filter (inner join on the extracted key set);
    // AQE picks broadcast when the aggregated address→block map is small.
    if (cfg.exportContracts && cfg.exportReceipts && cfg.exportTransactions)
      runner.stage("contracts", "receipts") { up =>
        val firstSeen = up("receipts")
          .filter(col("contract_address").isNotNull)
          .groupBy(col("contract_address").as("address"))
          .agg(min(col("block_number")).as("block_number"))
        finish("contracts", csv(spark, rawDir, "contracts", contractsCsv)
          .join(firstSeen, Seq("address"), "inner"), "block_number")
      }

    // stage 4: token transfers (config.py:51-53)
    if (cfg.exportTokenTransfers)
      runner.stage("token_transfers")(_ =>
        finish("token_transfers",
          EtlOps.applyMapping(csv(spark, rawDir, "token_transfers", tokenTransfersCsv), Seq(
            ("token_address", "token_address", str), ("from_address", "from_address", str),
            ("to_address", "to_address", str), ("value", "value", dec38),
            ("transaction_hash", "transaction_hash", str), ("log_index", "log_index", lng),
            ("block_number", "block_number", lng))), "block_number"))

    // stage 5: tokens for distinct transfer token_addresses (config.py:56-57).
    // Same pattern as contracts: the token's first-transfer block becomes its
    // partition key, replacing the single-partition lit(0) placeholder.
    if (cfg.exportTokens && cfg.exportTokenTransfers)
      runner.stage("tokens", "token_transfers") { up =>
        val firstSeen = up("token_transfers")
          .groupBy(col("token_address").as("address"))
          .agg(min(col("block_number")).as("block_number"))
        finish("tokens", csv(spark, rawDir, "tokens", tokensCsv)
          .join(firstSeen, Seq("address"), "inner"), "block_number")
      }

    val stages = runner.run() // before out.toMap: the stages fill `out`
    PipelineResult(out.toMap, stages)
  }

  /** A13's literal output, Spark-natively: the deployable DAG artifact a
    * scheduler consumes. The reference's generator renders its stage graph
    * to CloudFormation JSON of Data Pipeline activity objects — id,
    * dependsOn, maximumRetries=5, failureAndRerunMode=cascade, staged
    * output location (generate_export_pipeline_template.py:194-199,
    * export_pipeline_template.py:49,62-199,136-137); this renders the SAME
    * graph semantics (including the config-conditional stage inclusion
    * rules `run` enforces: a stage exists only when its flag AND its
    * upstreams' flags are set) as one row per activity plus the rendered
    * JSON object. Deterministic function of [[PipelineConfig]] — no table
    * input — so the oracle pins the exact artifact as literals, the same
    * way the reference's template would be golden-file tested. */
  def templateObjects(cfg: PipelineConfig): Seq[(Long, String, String, Long, String, String, String)] = {
    val stages = Seq(
      ("blocks", Seq.empty[String], cfg.exportBlocks),
      ("transactions", Seq.empty[String], cfg.exportTransactions),
      ("receipts", Seq("transactions"),
        cfg.exportReceipts && cfg.exportTransactions),
      ("logs", Seq("transactions"), cfg.exportLogs && cfg.exportTransactions),
      ("contracts", Seq("receipts"),
        cfg.exportContracts && cfg.exportReceipts && cfg.exportTransactions),
      ("token_transfers", Seq.empty[String], cfg.exportTokenTransfers),
      ("tokens", Seq("token_transfers"),
        cfg.exportTokens && cfg.exportTokenTransfers))
    stages.filter(_._3).zipWithIndex.map { case ((name, deps, _), i) =>
      val dependsJson = deps.map(d => s""""Activity_$d"""").mkString("[", ",", "]")
      val json = s"""{"id":"Activity_$name","type":"SparkStage",""" +
        s""""maximumRetries":${cfg.maxRetries},"failureAndRerunMode":"cascade",""" +
        s""""dependsOn":$dependsJson,"output":"export/$name"}"""
      (i.toLong, s"Activity_$name", deps.mkString(","),
        cfg.maxRetries.toLong, "cascade", s"export/$name", json)
    }
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
