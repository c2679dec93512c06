package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, ExecutionException, FutureTask, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkTestBase, Tables}

/** E2E: synthetic raw CSVs → staged export pipeline → partitioned Parquet →
  * read back and assert layout, types, and fan-out semantics (SURVEY.md §5
  * item 4; fixture guidance FIXTURES.md §A). */
class ExportPipelineSpec extends SparkTestBase {

  private def writeCsv(dir: String, name: String, header: String, rows: Seq[String]): Unit = {
    val f = new java.io.File(s"$dir/$name.csv")
    val w = new java.io.PrintWriter(f)
    w.println(header); rows.foreach(w.println); w.close()
  }

  test("full pipeline: ingest → applyMapping → staged fan-out → padded partitioned parquet") {
    val raw = Tables.scratchDir("raw")
    val out = Tables.scratchDir("out")

    // uint256-boundary value (>int64), null to_address (contract creation),
    // all-null column, two block-range partitions
    writeCsv(raw, "blocks", "number,hash,parent_hash,nonce,miner,difficulty,total_difficulty,size,gas_limit,gas_used,timestamp,transaction_count,all_null_col", Seq(
      "1,0xb1,0xb0,0x01,0xm1,1000,1000,500,8000000,21000,1438269988,1,",
      "1500,0xb2,0xb1,0x02,0xm2,123456789012345678901234567890,246913578024691357802469135780,600,8000000,42000,1438270000,2,"))
    writeCsv(raw, "transactions", "hash,nonce,block_hash,block_number,transaction_index,from_address,to_address,value,gas,gas_price,input", Seq(
      "0xt1,0,0xb1,1,0,0xa1,0xa2,99999999999999999999999999999999999999,21000,50,0x",
      "0xt2,1,0xb2,1500,0,0xa1,,0,53000,50,0x6060",
      "0xt3,2,0xb1,2,1,0xa3,,0,53000,50,0x6002"))
    writeCsv(raw, "receipts", "transaction_hash,contract_address,gas_used,status", Seq(
      "0xt1,,21000,1",
      "0xt2,0xc1,53000,1",
      "0xt3,0xc2,53000,1",
      "0xZZ,0xc9,1,1")) // receipt for an un-exported tx: must be filtered out
    writeCsv(raw, "logs", "transaction_hash,log_index,address,topics,data,block_number", Seq(
      "0xt1,0,0xtok1,0xddf252ad,0x01,1",
      "0xt2,0,0xtok1,0xddf252ad,0x02,1500",
      "0xZZ,0,0xbad,0x,0x,1")) // log of un-exported tx: filtered out
    writeCsv(raw, "contracts", "address,bytecode", Seq(
      "0xc1,0x6060",
      "0xc2,0x6002",
      "0xc9,0xdead", // only reachable via the filtered receipt: must not export
      "0xcX,0xbeef"))
    writeCsv(raw, "token_transfers", "token_address,from_address,to_address,value,transaction_hash,log_index,block_number", Seq(
      "0xtok1,0xa1,0xa2,1000,0xt1,0,1",
      "0xtok1,0xa2,0xa3,500,0xt2,1,1500",
      "0xtok2,0xa1,0xa2,7,0xt2,2,1500"))
    writeCsv(raw, "tokens", "address,symbol,name,decimals,total_supply", Seq(
      "0xtok1,TK1,Token One,18,1000000",
      "0xtok2,TK2,Token Two,18,2000000",
      "0xtok3,TK3,Token Three,18,3000000")) // no transfers: must not export

    // every stage's frame leads with its partition columns, which lets the
    // stages share their generated code (EtlOps.stageRanges)
    val leading = new ConcurrentHashMap[String, Seq[String]]()
    val cfg = PipelineConfig(stageInterceptor = (name, df) => {
      leading.put(name, df.columns.toSeq.take(2)); df
    })
    val res = ExportPipeline.run(spark, cfg, raw, out)
    assert(leading.asScala.toMap == res.stages.keySet.map(_ -> Seq("start_block", "end_block")).toMap)

    // blocks: all-null column dropped, decimal(38,0) preserved the big value
    val blocks = res.tables("blocks")
    assert(!blocks.columns.contains("all_null_col"))
    // and on disk: the files themselves lack it, read with no schema
    assert(!spark.read.parquet(s"$out/blocks").columns.contains("all_null_col"))
    assert(blocks.schema("difficulty").dataType == DecimalType(38, 0))
    val b2 = blocks.filter(col("hash") === "0xb2").head()
    assert(b2.getDecimal(b2.fieldIndex("difficulty")).toString == "123456789012345678901234567890")

    // partition layout: zero-padded, two ranges for blocks (0 and 1000)
    val blockDirs = new java.io.File(s"$out/blocks").listFiles()
      .map(_.getName).filter(_.startsWith("start_block")).sorted.toSeq
    assert(blockDirs == Seq("start_block=00000000", "start_block=00001000"))

    // transactions: uint256 value survived; null to_address preserved
    val txs = res.tables("transactions")
    val t1 = txs.filter(col("hash") === "0xt1").head()
    assert(t1.getDecimal(t1.fieldIndex("value")).toString == "99999999999999999999999999999999999999")
    assert(txs.filter(col("to_address").isNull).count() == 2)

    // staged fan-out: receipts only for exported txs; contracts only for
    // surviving receipts; tokens only for transferred addresses
    assert(res.tables("receipts").select("transaction_hash").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("0xt1", "0xt2", "0xt3"))
    // null in 1 of 3 rows is not dead: DropNullFields keeps it
    assert(res.tables("receipts").columns.contains("contract_address"))
    assert(spark.read.parquet(s"$out/receipts").columns.contains("contract_address"))
    assert(res.tables("logs").select("transaction_hash").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("0xt1", "0xt2"))
    assert(res.tables("contracts").select("address").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("0xc1", "0xc2"))
    assert(res.tables("tokens").select("address").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("0xtok1", "0xtok2"))

    // contracts/tokens carry their real first-seen block number (creation
    // receipt / first transfer), so the partitioned layout spreads across
    // block ranges instead of collapsing into a single start_block=0 dir
    assert(res.tables("contracts").select("address", "block_number").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("0xc1" -> 1500L, "0xc2" -> 2L))
    assert(res.tables("tokens").select("address", "block_number").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("0xtok1" -> 1L, "0xtok2" -> 1500L))
    for (tbl <- Seq("contracts", "tokens")) {
      val dirs = new java.io.File(s"$out/$tbl").listFiles()
        .map(_.getName).filter(_.startsWith("start_block")).sorted.toSeq
      assert(dirs == Seq("start_block=00000000", "start_block=00001000"), s"$tbl layout: $dirs")
    }

    // every table as the files hold it, read with no schema: column names,
    // order and types, the three uint256 tables' decimal(38,0) included
    val str = StringType
    val lng = LongType
    val dec = DecimalType(38, 0)
    val range = Seq("start_block" -> IntegerType, "end_block" -> IntegerType)
    val onDisk = Map(
      "blocks" -> Seq("number" -> lng, "hash" -> str, "parent_hash" -> str, "nonce" -> str,
        "miner" -> str, "difficulty" -> dec, "total_difficulty" -> dec, "size" -> lng,
        "gas_limit" -> lng, "gas_used" -> lng, "timestamp" -> lng, "transaction_count" -> lng),
      "transactions" -> Seq("hash" -> str, "nonce" -> lng, "block_hash" -> str,
        "block_number" -> lng, "transaction_index" -> lng, "from_address" -> str,
        "to_address" -> str, "value" -> dec, "gas" -> lng, "gas_price" -> lng, "input" -> str),
      "receipts" -> Seq("transaction_hash" -> str, "contract_address" -> str,
        "gas_used" -> lng, "status" -> lng, "block_number" -> lng),
      "logs" -> Seq("transaction_hash" -> str, "log_index" -> lng, "address" -> str,
        "topics" -> str, "data" -> str, "block_number" -> lng),
      "contracts" -> Seq("address" -> str, "bytecode" -> str, "block_number" -> lng),
      "token_transfers" -> Seq("token_address" -> str, "from_address" -> str,
        "to_address" -> str, "value" -> dec, "transaction_hash" -> str, "log_index" -> lng,
        "block_number" -> lng),
      "tokens" -> Seq("address" -> str, "symbol" -> str, "name" -> str, "decimals" -> lng,
        "total_supply" -> str, "block_number" -> lng))
    assert(res.stages.keySet == onDisk.keySet)
    for ((tbl, cols) <- onDisk)
      assert(spark.read.parquet(s"$out/$tbl").schema.map(f => f.name -> f.dataType) == cols ++ range,
        s"$tbl on disk")
    val tt = spark.read.parquet(s"$out/token_transfers").filter(col("log_index") === 0).head()
    assert(tt.getDecimal(tt.fieldIndex("value")).toString == "1000")
  }

  test("pipeline tolerates empty (header-only) stage inputs") {
    val raw = Tables.scratchDir("raw3")
    val out = Tables.scratchDir("out3")
    writeCsv(raw, "blocks", "number,hash,parent_hash,nonce,miner,difficulty,total_difficulty,size,gas_limit,gas_used,timestamp,transaction_count,all_null_col", Seq(
      "1,0xb1,0xb0,0x01,0xm1,1000,1000,500,8000000,21000,1438269988,1,"))
    writeCsv(raw, "transactions", "hash,nonce,block_hash,block_number,transaction_index,from_address,to_address,value,gas,gas_price,input", Seq(
      "0xt1,0,0xb1,1,0,0xa1,0xa2,5,21000,50,0x"))
    writeCsv(raw, "receipts", "transaction_hash,contract_address,gas_used,status", Seq("0xt1,,21000,1"))
    writeCsv(raw, "logs", "transaction_hash,log_index,address,topics,data,block_number", Seq(
      "0xt1,0,0xtok1,0xddf,0x01,1", "0xZZ,0,0xbad,0x,0x,1"))
    writeCsv(raw, "contracts", "address,bytecode", Seq.empty)
    writeCsv(raw, "token_transfers", "token_address,from_address,to_address,value,transaction_hash,log_index,block_number", Seq.empty)
    writeCsv(raw, "tokens", "address,symbol,name,decimals,total_supply", Seq.empty)
    val res = ExportPipeline.run(spark, PipelineConfig(), raw, out)
    assert(res.tables("logs").select("transaction_hash").collect()
      .map(_.getString(0)).toSeq == Seq("0xt1"))
    assert(res.tables("contracts").count() == 0)
    assert(res.tables("tokens").count() == 0)
    // an empty batch is no evidence a column is dead: every mapped column stays
    assert(res.tables("contracts").columns.toSeq ==
      Seq("address", "bytecode", "block_number", "start_block", "end_block"))
    assert(res.tables("tokens").columns.toSeq == Seq("address", "symbol", "name", "decimals",
      "total_supply", "block_number", "start_block", "end_block"))
  }

  test("config flags prune stages (cascade: no transactions -> no receipts/contracts)") {
    val raw = Tables.scratchDir("raw2")
    val out = Tables.scratchDir("out2")
    writeCsv(raw, "blocks", "number,hash,parent_hash,nonce,miner,difficulty,total_difficulty,size,gas_limit,gas_used,timestamp,transaction_count,all_null_col", Seq(
      "1,0xb1,0xb0,0x01,0xm1,1000,1000,500,8000000,21000,1438269988,1,"))
    val res = ExportPipeline.run(spark,
      PipelineConfig(exportTransactions = false, exportTokenTransfers = false),
      raw, out)
    assert(res.tables.keySet == Set("blocks"))
  }

  test("pipeline_template renders the same stage set run() executes, per config") {
    // the artifact and the executor must agree on the conditional DAG —
    // for every config, template activity ids == run()'s status keys
    val configs = Seq(
      PipelineConfig(),
      PipelineConfig(exportTransactions = false, exportTokenTransfers = false),
      PipelineConfig(exportReceipts = false),
      PipelineConfig(exportTokenTransfers = false))
    val raw = minimalRaw()
    configs.foreach { cfg =>
      val out = Tables.scratchDir("tpl")
      val ran = ExportPipeline.run(spark, cfg, raw, out).stages.keySet
      val declared = ExportPipeline.templateObjects(cfg)
        .map(_._2.stripPrefix("Activity_")).toSet
      assert(declared == ran, s"template/executor drift for $cfg")
    }
    // default-config artifact: 7 activities, dependency edges of the
    // reference graph, valid JSON carrying retry/cascade semantics
    val rows = ExportPipeline.pipelineTemplate(spark, sf).collect()
    assert(rows.length == 7)
    val deps = rows.map(r => r.getString(1) -> r.getString(2)).toMap
    assert(deps("Activity_receipts") == "transactions"
      && deps("Activity_contracts") == "receipts"
      && deps("Activity_tokens") == "token_transfers"
      && deps("Activity_blocks") == "")
    rows.foreach { r =>
      val j = r.getString(6)
      assert(j.contains("\"maximumRetries\":5")
        && j.contains("\"failureAndRerunMode\":\"cascade\"")
        && j.startsWith("{") && j.endsWith("}"))
    }
  }

  test("templateObjects renders the exact activity rows of each config") {
    def activity(i: Long, name: String, deps: String*) = {
      val dependsOn = deps.map(d => "\"Activity_" + d + "\"").mkString(",")
      (i, s"Activity_$name", deps.mkString(","), 5L, "cascade", s"export/$name",
        s"""{"id":"Activity_$name","type":"SparkStage","maximumRetries":5,""" +
          s""""failureAndRerunMode":"cascade","dependsOn":[$dependsOn],"output":"export/$name"}""")
    }
    val expected = Seq(
      PipelineConfig() -> Seq(activity(0, "blocks"), activity(1, "transactions"),
        activity(2, "receipts", "transactions"), activity(3, "logs", "transactions"),
        activity(4, "contracts", "receipts"), activity(5, "token_transfers"),
        activity(6, "tokens", "token_transfers")),
      PipelineConfig(exportTransactions = false, exportTokenTransfers = false) ->
        Seq(activity(0, "blocks")),
      PipelineConfig(exportReceipts = false) -> Seq(activity(0, "blocks"),
        activity(1, "transactions"), activity(2, "logs", "transactions"),
        activity(3, "token_transfers"), activity(4, "tokens", "token_transfers")),
      PipelineConfig(exportTokenTransfers = false) -> Seq(activity(0, "blocks"),
        activity(1, "transactions"), activity(2, "receipts", "transactions"),
        activity(3, "logs", "transactions"), activity(4, "contracts", "receipts")))
    for ((cfg, rows) <- expected)
      assert(ExportPipeline.templateObjects(cfg) == rows, s"template of $cfg")
    // one row spelled out in full, independent of the helper above
    assert(ExportPipeline.templateObjects(PipelineConfig())(4)._7 ==
      """{"id":"Activity_contracts","type":"SparkStage","maximumRetries":5,"failureAndRerunMode":"cascade",""" +
        """"dependsOn":["Activity_receipts"],"output":"export/contracts"}""")
  }

  private def minimalRaw(): String = {
    val raw = Tables.scratchDir("raw_rt")
    writeCsv(raw, "blocks", "number,hash,parent_hash,nonce,miner,difficulty,total_difficulty,size,gas_limit,gas_used,timestamp,transaction_count,all_null_col", Seq(
      "1,0xb1,0xb0,0x01,0xm1,1000,1000,500,8000000,21000,1438269988,1,"))
    writeCsv(raw, "transactions", "hash,nonce,block_hash,block_number,transaction_index,from_address,to_address,value,gas,gas_price,input", Seq(
      "0xt1,0,0xb1,1,0,0xa1,,5,21000,50,0x6060"))
    writeCsv(raw, "receipts", "transaction_hash,contract_address,gas_used,status", Seq("0xt1,0xc1,21000,1"))
    writeCsv(raw, "logs", "transaction_hash,log_index,address,topics,data,block_number", Seq(
      "0xt1,0,0xtok1,0xddf,0x01,1"))
    writeCsv(raw, "contracts", "address,bytecode", Seq("0xc1,0x6060"))
    writeCsv(raw, "token_transfers", "token_address,from_address,to_address,value,transaction_hash,log_index,block_number", Seq(
      "0xtok1,0xa1,0xa2,1000,0xt1,0,1"))
    writeCsv(raw, "tokens", "address,symbol,name,decimals,total_supply", Seq("0xtok1,TK1,Token One,18,1000000"))
    raw
  }

  test("a transiently poisoned stage retries within budget and the run completes") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_rt1")
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val cfg = PipelineConfig(stageInterceptor = (name, df) => {
      if (name == "receipts" && failures.getAndDecrement() > 0)
        throw new RuntimeException("injected transient fault")
      df
    })
    val res = ExportPipeline.run(spark, cfg, raw, out)
    assert(res.stages("receipts") == StageStatus.Succeeded(3)) // 2 faults + 1 clean
    assert(res.stages("contracts") == StageStatus.Succeeded(1))
    assert(res.tables("receipts").count() == 1)
    assert(res.tables("contracts").count() == 1)
    assert(res.deadLetter(spark).filter(!col("ok")).count() == 0)
  }

  test("an exhausted stage cascade-fails its dependents without running them") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_rt2")
    val cfg = PipelineConfig(maxRetries = 2, stageInterceptor = (name, df) => {
      if (name == "transactions") throw new RuntimeException("injected permanent fault")
      df
    })
    val res = ExportPipeline.run(spark, cfg, raw, out)
    // 1 attempt + 2 retries, then the dependent chain cascades
    assert(res.stages("transactions") match {
      case StageStatus.Failed(3, err) => err.contains("injected permanent fault")
      case _                          => false
    })
    assert(res.stages("receipts") == StageStatus.CascadeFailed("transactions"))
    assert(res.stages("logs") == StageStatus.CascadeFailed("transactions"))
    assert(res.stages("contracts") == StageStatus.CascadeFailed("receipts"))
    // independent branches still ran to completion
    assert(res.stages("blocks") == StageStatus.Succeeded(1))
    assert(res.stages("tokens") == StageStatus.Succeeded(1))
    assert(res.tables.keySet == Set("blocks", "token_transfers", "tokens"))
    // cascade-failed stages never wrote: no partial sink dirs
    for (t <- Seq("transactions", "receipts", "logs", "contracts"))
      assert(!new java.io.File(s"$out/$t").exists(), s"unexpected partial output for $t")
    // the dead-letter surface routes the failures as data
    val dl = res.deadLetter(spark).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), Option(r.getString(3)))).toMap
    assert(dl("transactions")._1 == false)
    assert(dl("transactions")._2.exists(_.contains("failed after 3 attempts")))
    assert(dl("receipts")._2.exists(_.contains("cascade: upstream 'transactions'")))
    assert(dl("blocks") == (true, None))
  }

  test("independent stages overlap: blocks waits on a latch token_transfers releases") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_cc")
    val released = new CountDownLatch(1)
    // if the stages ran one after another, blocks would time out before
    // token_transfers started and, with no retries, fail
    val cfg = PipelineConfig(maxRetries = 0, stageInterceptor = (name, df) => {
      if (name == "token_transfers") released.countDown()
      if (name == "blocks" && !released.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("token_transfers did not start while blocks ran")
      df
    })
    val res = ExportPipeline.run(spark, cfg, raw, out)
    assert(res.stages("blocks") == StageStatus.Succeeded(1))
    assert(res.stages("token_transfers") == StageStatus.Succeeded(1))
  }

  /** A listener that hands `f` the root paths of every file scan in each
    * finished query's executed plan. */
  private def onScans(f: Seq[Path] => Unit): QueryExecutionListener =
    new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        f(collect(qe.executedPlan) { case s: FileSourceScanExec => s.relation.location.rootPaths }.flatten)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

  test("an export scans each raw CSV exactly once: the census rides the write's shuffle") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_scan")
    val scans = new ConcurrentHashMap[String, Integer]()
    val lakeScans = new java.util.concurrent.atomic.AtomicInteger()
    val listener = onScans(_.foreach { p =>
      if (p.getName.endsWith(".csv")) scans.merge(p.getName, 1, (a, b) => a + b)
      if (p.toUri.getPath.startsWith(out)) lakeScans.incrementAndGet()
    })
    GraftBridge.waitListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    try {
      ExportPipeline.run(spark, PipelineConfig(), raw, out)
      GraftBridge.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    // downstream stages key from their upstream's checkpointed rows, never
    // from its CSV or its lake
    assert(scans.asScala.toMap.map { case (k, v) => k -> v.intValue } ==
      Seq("blocks", "transactions", "receipts", "logs", "contracts", "token_transfers", "tokens")
        .map(t => s"$t.csv" -> 1).toMap)
    assert(lakeScans.get == 0, s"${lakeScans.get} scans under $out")
  }

  test("a dependent starts on its upstream's rows while the upstream's write is held") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_gate")
    val receiptsScanned = new CountDownLatch(1)
    val listener = onScans(roots => if (roots.exists(_.getName == "receipts.csv")) receiptsScanned.countDown())
    val cfg = PipelineConfig(maxRetries = 0, stageInterceptor = (name, df) => {
      // transactions holds its write until a query of receipts' has scanned
      // receipts.csv; if receipts waited for that write, this would time out
      if (name == "transactions" && !receiptsScanned.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("receipts did not start while transactions' write was held")
      // receipts' own write still waits for transactions' to succeed
      if (name == "receipts" && !new java.io.File(s"$out/transactions/_SUCCESS").exists())
        throw new IllegalStateException("receipts wrote before transactions' write succeeded")
      df
    })
    GraftBridge.waitListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    val res = try ExportPipeline.run(spark, cfg, raw, out)
      finally spark.listenerManager.unregister(listener)
    assert(res.stages.values.forall(_ == StageStatus.Succeeded(1)), res.stages.toString)
    assert(res.tables("receipts").count() == 1)
  }

  test("a non-Exception Throwable in a stage reaches the caller; no stage thread outlives run()") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_fatal")
    val stageThreads = new ConcurrentLinkedQueue[Thread]()
    val fatal = new Error("injected fatal error")
    val cfg = PipelineConfig(stageInterceptor = (name, df) => {
      stageThreads.add(Thread.currentThread())
      if (name == "transactions") throw fatal
      df
    })
    // bounded, so a hang fails the spec instead of stalling the suite
    val call = new FutureTask[PipelineResult](() => ExportPipeline.run(spark, cfg, raw, out))
    val caller = new Thread(call)
    caller.start()
    val thrown = intercept[ExecutionException](call.get(3, TimeUnit.MINUTES)).getCause
    assert(thrown eq fatal) // not retried, not wrapped, not a CascadeFailed status
    // the fatal stage's dependents never wrote
    for (t <- Seq("receipts", "logs", "contracts"))
      assert(!new java.io.File(s"$out/$t").exists(), s"dependent $t wrote after a fatal upstream")
    assert(stageThreads.asScala.filter(_ ne caller).forall(!_.isAlive))
  }

  test("an interrupted caller interrupts its stages and returns only once they have ended") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_intr")
    val roots = new CountDownLatch(3) // blocks, transactions, token_transfers
    val stageThreads = new ConcurrentLinkedQueue[Thread]()
    val cfg = PipelineConfig(maxRetries = 0, stageInterceptor = (_, df) => {
      stageThreads.add(Thread.currentThread())
      roots.countDown()
      new CountDownLatch(1).await(3, TimeUnit.MINUTES) // until interrupted
      df
    })
    // the jobs the export submits, told apart by a local property of its caller
    val key = "graft.spec.interrupted"
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[Int, String]() // job id -> its stages' call sites
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null))
          started.put(e.jobId, e.stageInfos.map(_.name).mkString("; ")): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId): Unit
    }
    GraftBridge.waitListenerBusEmpty(spark)
    sc.addSparkListener(listener)
    val call = new FutureTask[PipelineResult](() => ExportPipeline.run(spark, cfg, raw, out))
    sc.setLocalProperty(key, "export-under-test")
    val caller = try new Thread(call) finally sc.setLocalProperty(key, null)
    val thrown = try {
      caller.start()
      val allWaiting = roots.await(2, TimeUnit.MINUTES)
      caller.interrupt()
      assert(allWaiting, "the three root stages did not wait at the same time")
      val t = intercept[ExecutionException](call.get(3, TimeUnit.MINUTES)).getCause
      GraftBridge.waitListenerBusEmpty(spark)
      t
    } finally sc.removeSparkListener(listener)
    assert(thrown.isInstanceOf[InterruptedException])
    assert(stageThreads.size == 3 && stageThreads.asScala.forall(!_.isAlive))
    // a job a stage submitted before the interrupt must not outlive run()
    assert(!started.isEmpty)
    assert(started.keySet.asScala.forall(ended.contains),
      s"still active: ${started.asScala.filter { case (id, _) => !ended.contains(id) }}")
  }

  test("every job a stage submits carries the caller's local properties") {
    val raw = minimalRaw()
    val out = Tables.scratchDir("out_props")
    val key = "graft.spec.caller"
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))): Unit
    }
    val stageThreads = new ConcurrentLinkedQueue[Thread]()
    val cfg = PipelineConfig(stageInterceptor = (_, df) => { stageThreads.add(Thread.currentThread()); df })
    GraftBridge.waitListenerBusEmpty(spark)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "export-under-test")
    val res = try {
      val r = ExportPipeline.run(spark, cfg, raw, out)
      GraftBridge.waitListenerBusEmpty(spark)
      r
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    assert(res.stages.values.forall(_ == StageStatus.Succeeded(1)), res.stages.toString)
    // per stage: the checkpoint's shuffle-map and result jobs, then the
    // write's job; the four fan-out stages add the jobs of their joins. A
    // stage that skipped its write would bring the 27 below the bound.
    assert(seen.size >= 27, s"${seen.size} jobs")
    assert(seen.asScala.forall(_.contains("export-under-test")), seen.toString)
    assert(stageThreads.asScala.filter(_ ne Thread.currentThread).forall(!_.isAlive))
  }

  test("curation DAG: staged execution is indistinguishable from the composed plan") {
    val out = Tables.scratchDir("cur1")
    val res = CurationPipeline.run(spark, PipelineConfig(), sf, out)
    assert(CurationPipeline.StageNames.forall(n =>
      res.stages(n).isInstanceOf[StageStatus.Succeeded]), res.stages.toString)
    // staged Parquet checkpoints exist for every stage
    for (n <- CurationPipeline.StageNames)
      assert(new java.io.File(s"$out/$n").exists(), s"missing staging for $n")
    val staged = res.tables("substring_cut").orderBy("doc_id").collect().toSeq
    val composed = built("llm_corpus_pipeline").collect().toSeq
    assert(staged.nonEmpty, "curation output empty — spec precondition")
    assert(staged == composed)
  }

  test("curation DAG: a transient fault retries; a permanent one cascades") {
    // transient: two injected faults on decontaminate, then clean
    val out1 = Tables.scratchDir("cur2")
    val flaky = new java.util.concurrent.atomic.AtomicInteger(2)
    val res1 = CurationPipeline.run(spark, PipelineConfig(
      stageInterceptor = (name, df) => {
        if (name == "decontaminate" && flaky.getAndDecrement() > 0)
          throw new RuntimeException("injected transient fault")
        df
      }), sf, out1)
    assert(res1.stages("decontaminate") == StageStatus.Succeeded(3))
    assert(res1.stages("substring_cut").isInstanceOf[StageStatus.Succeeded])
    assert(res1.deadLetter(spark).filter(!col("ok")).count() == 0)

    // permanent: near_dup exhausts its budget, substring_cut cascades
    // without evaluating its body (no staging dir appears for it)
    val out2 = Tables.scratchDir("cur3")
    val res2 = CurationPipeline.run(spark, PipelineConfig(maxRetries = 1,
      stageInterceptor = (name, df) => {
        if (name == "near_dup") throw new RuntimeException("injected permanent fault")
        df
      }), sf, out2)
    assert(res2.stages("near_dup") match {
      case StageStatus.Failed(2, err) => err.contains("injected permanent fault")
      case _                          => false
    })
    assert(res2.stages("substring_cut") == StageStatus.CascadeFailed("near_dup"))
    assert(res2.stages("decontaminate").isInstanceOf[StageStatus.Succeeded])
    assert(!new java.io.File(s"$out2/substring_cut").exists(),
      "cascade-failed stage must not write staging")
    val dl = res2.deadLetter(spark).collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(dl("near_dup").exists(_.contains("failed after 2 attempts")))
    assert(dl("substring_cut").exists(_.contains("cascade: upstream 'near_dup'")))
  }

  test("referenceBounds reproduces the exact 131-partition layout at every scale") {
    // scaled bounds x scaleDiv must equal the unit-tested full-chain plan
    val scaleDiv = 1000L
    val f = ExportPipeline.referenceBounds(scaleDiv)
    val (s, e) = f(col("n"))
    val scaled = spark.range(5000000L / scaleDiv).toDF("n")
      .select(s.as("s"), e.as("e")).distinct().collect()
      .map(r => (r.getLong(0) * scaleDiv, r.getLong(1) * scaleDiv + (scaleDiv - 1)))
      .sorted
    val full = graft.etl.EtlOps.referencePartitionPlan(spark).collect()
      .map(r => (r.getAs[Long]("start_block"), r.getAs[Long]("end_block"))).sorted
    assert(scaled.length == 131)
    assert(scaled.toSeq == full.toSeq)
  }
}
