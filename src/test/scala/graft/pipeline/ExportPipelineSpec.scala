package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, ExecutionException, FutureTask, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

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
    val raw = Files.createTempDirectory("graft_raw").toString
    val out = Files.createTempDirectory("graft_out").toString

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

    val res = ExportPipeline.run(spark, PipelineConfig(), raw, out)

    // blocks: all-null column dropped, decimal(38,0) preserved the big value
    val blocks = res.tables("blocks")
    assert(!blocks.columns.contains("all_null_col"))
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
  }

  test("pipeline tolerates empty (header-only) stage inputs") {
    val raw = Files.createTempDirectory("graft_raw3").toString
    val out = Files.createTempDirectory("graft_out3").toString
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
  }

  test("config flags prune stages (cascade: no transactions -> no receipts/contracts)") {
    val raw = Files.createTempDirectory("graft_raw2").toString
    val out = Files.createTempDirectory("graft_out2").toString
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
      val out = Files.createTempDirectory("graft_tpl").toString
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

  private def minimalRaw(): String = {
    val raw = Files.createTempDirectory("graft_raw_rt").toString
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
    val out = Files.createTempDirectory("graft_out_rt1").toString
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
    val out = Files.createTempDirectory("graft_out_rt2").toString
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
    // cascade-failed stages never evaluated their body: no partial sink dirs
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
    val out = Files.createTempDirectory("graft_out_cc").toString
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

  test("an export scans each raw CSV exactly twice: the DropNullFields census and the write") {
    val raw = minimalRaw()
    val out = Files.createTempDirectory("graft_out_scan").toString
    val scans = new ConcurrentHashMap[String, Integer]()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        foreach(qe.executedPlan) {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.getName).filter(_.endsWith(".csv"))
              .foreach(n => scans.merge(n, 1, (a, b) => a + b))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBridge.waitListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    try {
      ExportPipeline.run(spark, PipelineConfig(), raw, out)
      GraftBridge.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    // downstream stages key from their upstream's lake, never its CSV
    assert(scans.asScala.toMap.map { case (k, v) => k -> v.intValue } ==
      Seq("blocks", "transactions", "receipts", "logs", "contracts", "token_transfers", "tokens")
        .map(t => s"$t.csv" -> 2).toMap)
  }

  test("a non-Exception Throwable in a stage reaches the caller; no stage thread outlives run()") {
    val raw = minimalRaw()
    val out = Files.createTempDirectory("graft_out_fatal").toString
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
    // the fatal stage's dependents never ran their bodies
    for (t <- Seq("receipts", "logs", "contracts"))
      assert(!new java.io.File(s"$out/$t").exists(), s"dependent $t ran after a fatal upstream")
    assert(stageThreads.asScala.filter(_ ne caller).forall(!_.isAlive))
  }

  test("an interrupted caller interrupts its stages and returns only once they have ended") {
    val raw = minimalRaw()
    val out = Files.createTempDirectory("graft_out_intr").toString
    val roots = new CountDownLatch(3) // blocks, transactions, token_transfers
    val stageThreads = new ConcurrentLinkedQueue[Thread]()
    val cfg = PipelineConfig(maxRetries = 0, stageInterceptor = (_, df) => {
      stageThreads.add(Thread.currentThread())
      roots.countDown()
      new CountDownLatch(1).await(3, TimeUnit.MINUTES) // until interrupted
      df
    })
    val call = new FutureTask[PipelineResult](() => ExportPipeline.run(spark, cfg, raw, out))
    val caller = new Thread(call)
    caller.start()
    val allWaiting = roots.await(2, TimeUnit.MINUTES)
    caller.interrupt()
    assert(allWaiting, "the three root stages did not wait at the same time")
    val thrown = intercept[ExecutionException](call.get(3, TimeUnit.MINUTES)).getCause
    assert(thrown.isInstanceOf[InterruptedException])
    assert(stageThreads.size == 3 && stageThreads.asScala.forall(!_.isAlive))
  }

  test("every job a stage submits carries the caller's local properties") {
    val raw = minimalRaw()
    val out = Files.createTempDirectory("graft_out_props").toString
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
    assert(seen.size >= 14, s"${seen.size} jobs") // a census and a write per stage
    assert(seen.asScala.forall(_.contains("export-under-test")), seen.toString)
    assert(stageThreads.asScala.filter(_ ne Thread.currentThread).forall(!_.isAlive))
  }

  test("curation DAG: staged execution is indistinguishable from the composed plan") {
    val out = Files.createTempDirectory("graft_cur1").toString
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
    val out1 = Files.createTempDirectory("graft_cur2").toString
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
    val out2 = Files.createTempDirectory("graft_cur3").toString
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
