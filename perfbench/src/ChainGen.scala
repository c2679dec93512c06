package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod, when}

/** Seeded, chain-shaped raw CSV corpus in the layout `ExportPipeline.run`
  * ingests (`<rawDir>/<table>.csv`), written by plain JVM code with no Spark
  * involvement so that every expectation below is computed independently
  * of the code under test.
  *
  * Shape follows the reference's three block tiers (config.py:10-14): one
  * wide partition of sparse early blocks, then mid-density partitions, then
  * narrow partitions of a dense tail. The reference's 1 + 30 + 100 = 131
  * partitions are cut to 1 + 2 + 6 = 9: on 4 cores an export has a fixed
  * cost of about 5 s whatever the data size (writing 7 x 131 directories
  * took 21-26 s), and the benchmark must repeat it within one run. Token
  * transfers spread over `nTokens` tokens with a skewed popularity. `scale`
  * multiplies the transactions per block, and with them every table but
  * blocks and tokens. A fixed share of uint256 `value` cells is above
  * 10^38, which `decimal(38,0)` cannot hold.
  */
final class ChainGen(val seed: Long, val scale: Int) {
  val tier1 = 1200L
  val nMid = 2
  val nTail = 6
  val width2: Long = 1500L / nMid
  val width3: Long = 600L / nTail
  val tier2: Long = tier1 + nMid * width2
  val nBlocks: Long = tier2 + nTail * width3
  val nPartitions: Int = 1 + nMid + nTail
  val nTokens = 400
  val nAddresses = 3000
  /** Share of transaction and transfer values drawn above 10^38. */
  val overRangeShare = 0.01

  /** Start block of the partition holding block `n`. */
  def partitionStart(n: Long): Long =
    if (n < tier1) 0L
    else if (n < tier2) n - (n - tier1) % width2
    else n - (n - tier2) % width3

  /** The same layout as `PipelineConfig.partitionBounds`: (start, end) block
    * of the partition holding block `n`, in column arithmetic. */
  def bounds: Column => (Column, Column) = n => {
    val start = when(n < tier1, lit(0L))
      .when(n < tier2, n - pmod(n - tier1, lit(width2)))
      .otherwise(n - pmod(n - tier2, lit(width3)))
    val width = when(n < tier1, lit(tier1)).when(n < tier2, lit(width2)).otherwise(lit(width3))
    (start, start + width - 1)
  }

  // per-transaction columns the lake queries are checked against
  val txBlock = scala.collection.mutable.ArrayBuffer[Long]()
  val txFrom = scala.collection.mutable.ArrayBuffer[Int]()
  val txGas = scala.collection.mutable.ArrayBuffer[Long]()
  val txReceiptGas = scala.collection.mutable.ArrayBuffer[Long]()
  // per-transfer columns
  val trBlock = scala.collection.mutable.ArrayBuffer[Long]()
  val trToken = scala.collection.mutable.ArrayBuffer[Int]()
  val trValue = scala.collection.mutable.ArrayBuffer[BigInt]()

  var nLogs = 0L
  val logPartitions = scala.collection.mutable.Set[Long]()
  var nContracts = 0L
  val contractPartitions = scala.collection.mutable.Set[Long]()
  val tokenFirstBlock = scala.collection.mutable.Map[Int, Long]()
  var overRange = 0L
  var csvBytes = 0L
  var csvRecords = 0L

  def address(i: Int): String = f"0x${i.toLong * 2654435761L + seed & 0xffffffffffffL}%040x"
  def tokenAddress(i: Int): String = f"0x${0x7e000000L + i}%040x"
  def txHash(i: Long): String = hex64(seed, i, 1)
  def blockHash(n: Long): String = hex64(seed, n, 2)

  private def hex64(a: Long, b: Long, c: Long): String = {
    val r = new SplittableRandom(a * 31 + b * 1000003L + c)
    f"0x${r.nextLong()}%016x${r.nextLong()}%016x${r.nextLong()}%016x${r.nextLong()}%016x"
  }

  /** Uniform decimal string; above 10^38 (39 to 78 digits) at `overRangeShare`. */
  private def uint256(r: SplittableRandom): BigInt =
    if (r.nextDouble() < overRangeShare) {
      overRange += 1
      val extra = BigInt(1 + r.nextInt(255), new java.util.Random(r.nextLong()))
      (ChainGen.Dec38Limit + extra).min(ChainGen.MaxUint256)
    } else BigInt(r.nextLong() & Long.MaxValue) * (1 + r.nextInt(1000))

  private def zipf(r: SplittableRandom, n: Int): Int = {
    // inverse-power draw: index 0 is the most popular
    val u = r.nextDouble()
    math.min(n - 1, (math.pow(n + 1.0, u) - 1).toInt)
  }

  /** Write the seven tables under `rawDir`. */
  def write(rawDir: File): Unit = {
    rawDir.mkdirs()
    val r = new SplittableRandom(seed)
    def open(name: String, header: String): BufferedWriter = {
      val w = new BufferedWriter(new FileWriter(new File(rawDir, s"$name.csv")), 1 << 16)
      w.write(header); w.write('\n'); w
    }
    val blocks = open("blocks", "number,hash,parent_hash,nonce,miner,difficulty,total_difficulty," +
      "size,gas_limit,gas_used,timestamp,transaction_count,all_null_col")
    val txs = open("transactions", "hash,nonce,block_hash,block_number,transaction_index," +
      "from_address,to_address,value,gas,gas_price,input")
    val receipts = open("receipts", "transaction_hash,contract_address,gas_used,status")
    val logs = open("logs", "transaction_hash,log_index,address,topics,data,block_number")
    val contracts = open("contracts", "address,bytecode")
    val transfers = open("token_transfers", "token_address,from_address,to_address,value," +
      "transaction_hash,log_index,block_number")
    val tokens = open("tokens", "address,symbol,name,decimals,total_supply")
    val writers = Seq(blocks, txs, receipts, logs, contracts, transfers, tokens)
    def line(w: BufferedWriter, fields: Any*): Unit = {
      w.write(fields.mkString(",")); w.write('\n')
      csvRecords += 1
    }

    var totalDifficulty = BigInt(0)
    var tx = 0L
    var n = 0L
    while (n < nBlocks) {
      // sparse early blocks, a dense tail (config.py:10-14 tier shape)
      val count = scale * (
        if (n < tier1) (if (r.nextInt(8) == 0) 1 else 0)
        else if (n < tier2) 1 + r.nextInt(2)
        else 5 + r.nextInt(6))
      val difficulty = BigInt(1000000L + r.nextInt(1000000))
      totalDifficulty += difficulty
      var gasUsed = 0L
      var k = 0
      while (k < count) {
        val hash = txHash(tx)
        val from = zipf(r, nAddresses)
        val gas = 21000L + r.nextInt(200000)
        val receiptGas = 21000L + r.nextInt(100000)
        gasUsed += receiptGas
        txBlock += n; txFrom += from; txGas += gas; txReceiptGas += receiptGas
        val transfer = r.nextInt(10) < 3
        line(txs, hash, r.nextInt(5000), blockHash(n), n, k, address(from),
          address(r.nextInt(nAddresses)), uint256(r), gas, 1000000000L + r.nextInt(100) * 1000000L,
          if (transfer) "0xa9059cbb" else "0x")
        val created = if (r.nextInt(50) == 0) {
          val a = f"0x${0xc0000000L + tx}%040x"
          nContracts += 1
          contractPartitions += partitionStart(n)
          line(contracts, a, f"0x60806040${r.nextInt(65536)}%08x")
          a
        } else ""
        line(receipts, hash, created, receiptGas, 1)
        val nl = r.nextInt(3)
        var li = 0
        while (li < nl) {
          line(logs, hash, li, address(r.nextInt(nAddresses)), blockHash(r.nextInt(16)), "0x00", n)
          li += 1
        }
        nLogs += nl
        if (nl > 0) logPartitions += partitionStart(n)
        if (transfer) {
          val token = zipf(r, nTokens)
          val v = uint256(r)
          trBlock += n; trToken += token; trValue += v
          if (!tokenFirstBlock.contains(token)) tokenFirstBlock(token) = n
          line(transfers, tokenAddress(token), address(from), address(r.nextInt(nAddresses)), v,
            hash, nl, n)
        }
        tx += 1
        k += 1
      }
      line(blocks, n, blockHash(n), if (n == 0) "" else blockHash(n - 1),
        f"${r.nextLong()}%016x", address(r.nextInt(200)), difficulty, totalDifficulty,
        500 + r.nextInt(30000), 8000000L, gasUsed, 1438269973L + n * 15, count, "")
      n += 1
    }
    // contracts no receipt created and tokens never transferred: the export's
    // fan-out joins must filter them out
    (0 until 20).foreach(i => line(contracts, f"0x${0xd0000000L + i}%040x", "0x6080"))
    (0 until nTokens + 20).foreach { i =>
      line(tokens, tokenAddress(i), s"T$i", s"Token $i", 18, "1000000000000000000000000")
    }
    writers.foreach(_.close())
    csvBytes = rawDir.listFiles().map(_.length).sum
  }

  def nTx: Long = txBlock.size.toLong
  def nTransfers: Long = trBlock.size.toLong

  /** Exact row count each lake table must hold after one export. */
  def expectedRows: Map[String, Long] = Map(
    "blocks" -> nBlocks, "transactions" -> nTx, "receipts" -> nTx, "logs" -> nLogs,
    "contracts" -> nContracts, "token_transfers" -> nTransfers,
    "tokens" -> tokenFirstBlock.size.toLong)

  /** Exact number of block-range directories each lake table must hold. */
  def expectedDirs: Map[String, Int] = {
    def parts(blocks: Iterable[Long]) = blocks.map(partitionStart).toSet.size
    Map("blocks" -> nPartitions, "transactions" -> parts(txBlock), "receipts" -> parts(txBlock),
      "logs" -> logPartitions.size, "contracts" -> contractPartitions.size,
      "token_transfers" -> parts(trBlock), "tokens" -> parts(tokenFirstBlock.values))
  }
}

object ChainGen {
  /** 10^38: the smallest value `decimal(38,0)` cannot hold. */
  val Dec38Limit: BigInt = BigInt(10).pow(38)
  val MaxUint256: BigInt = BigInt(2).pow(256) - 1
}
