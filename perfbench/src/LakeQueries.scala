package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.EtlOps

/** Analyst queries over the lake one export wrote, read back through
  * `EtlOps.readPartitioned`: the read-path probe of every traced run. Five classes, visited in a seeded
  * order with seeded parameters; each answer is checked against the
  * generator's own arithmetic.
  */
final class LakeQueries(spark: SparkSession, gen: ChainGen, lake: Main.Export,
                        aliases: Main.Aliases, cpu: CpuMeter, seed: Long) {
  import LakeQueries._

  private val schemas: Map[String, StructType] = lake.result.tables.map { case (t, df) =>
    t -> StructType(df.schema.filterNot(f => f.name == "start_block" || f.name == "end_block"))
  }

  private val rnd = new SplittableRandom(seed * 7919 + 17)
  private val order: Seq[String] = new scala.util.Random(rnd.nextLong()).shuffle(Classes)

  private def read(t: String): DataFrame =
    EtlOps.readPartitioned(spark, aliases.of(new File(lake.dir, t)), "parquet", schemas(t))
  private def pad(n: Long) = f"$n%08d"

  /** Both partition pruning (start_block) and the exact block span. */
  private def span(df: DataFrame, blockCol: String, lo: Long, hi: Long): DataFrame =
    df.filter(col("start_block") >= pad(gen.partitionStart(lo)) &&
      col("start_block") <= pad(gen.partitionStart(hi)) && col(blockCol).between(lo, hi))

  /** A span of `parts` partitions inside the dense tail, cut at both ends.
    * Each class has a fixed span size, so that the seed moves where a query
    * reads but not how much. */
  private def tailSpan(parts: Int): (Long, Long) = {
    val first = gen.tier2 + gen.width3 * rnd.nextInt(((gen.nBlocks - gen.tier2) / gen.width3).toInt - parts + 1)
    (first + rnd.nextLong(gen.width3), first + (parts - 1) * gen.width3 + rnd.nextLong(gen.width3))
  }

  private def txIn(lo: Long, hi: Long) = gen.txBlock.indices.filter { i =>
    gen.txBlock(i) >= lo && gen.txBlock(i) <= hi
  }
  private def countSum(ix: Seq[Int], v: Int => Long) = s"${ix.size},${ix.map(v(_)).sum}"

  /** The next query of class `cls`: (query, expected answer). */
  private def next(cls: String): (() => DataFrame, String) = cls match {
    case "point" =>
      val s = gen.partitionStart(gen.tier2 + rnd.nextLong(gen.nBlocks - gen.tier2))
      (() => read("transactions").filter(col("start_block") === pad(s))
        .agg(count(lit(1)), sum("gas")),
        countSum(txIn(s, s + gen.width3 - 1), gen.txGas(_)))
    case "range" =>
      val (lo, hi) = tailSpan(3)
      (() => span(read("transactions"), "block_number", lo, hi).agg(count(lit(1)), sum("gas")),
        countSum(txIn(lo, hi), gen.txGas(_)))
    case "join" =>
      val (lo, hi) = tailSpan(2)
      (() => {
        val t = span(read("transactions"), "block_number", lo, hi).select("hash")
        val r = span(read("receipts"), "block_number", lo, hi).select("transaction_hash", "gas_used")
        t.join(r, col("hash") === col("transaction_hash")).agg(count(lit(1)), sum("gas_used"))
      }, countSum(txIn(lo, hi), gen.txReceiptGas(_)))
    case "token_agg" =>
      val (lo, hi) = tailSpan(4)
      val ix = gen.trBlock.indices.filter(i => gen.trBlock(i) >= lo && gen.trBlock(i) <= hi)
      val expected = ix.groupBy(gen.trToken(_)).toSeq.map { case (tok, is) =>
        val fits = is.map(gen.trValue(_)).filter(_ < ChainGen.Dec38Limit)
        (gen.tokenAddress(tok), s"${gen.tokenAddress(tok)},${is.size},${
          if (fits.isEmpty) "null" else fits.sum.toString}")
      }.sortBy(_._1).map(_._2).mkString(";")
      (() => span(read("token_transfers"), "block_number", lo, hi)
        .groupBy("token_address").agg(count(lit(1)), sum("value")).orderBy("token_address"),
        expected)
    case "address" =>
      val from = gen.txFrom(rnd.nextInt(gen.txFrom.size))
      (() => read("transactions").filter(col("from_address") === gen.address(from))
        .agg(count(lit(1)), sum("gas")),
        countSum(gen.txFrom.indices.filter(gen.txFrom(_) == from), gen.txGas(_)))
  }

  private val perClass = Classes.map(_ -> scala.collection.mutable.ArrayBuffer[Traced]()).toMap

  def once(i: Int, tracer: Option[Tracer]): Main.Op = {
    tracer.foreach(_.attach())
    try query(i, tracer) finally tracer.foreach(_.detach())
  }

  private def query(i: Int, tracer: Option[Tracer]): Main.Op = {
    val cls = order(i % order.size)
    val (q, expected) = next(cls)
    spark.catalog.clearCache()
    val actionsBefore = tracer.fold(0)(_.actionCount)
    tracer.foreach(_.begin(s"lake.$cls"))
    val c0 = System.nanoTime()
    val ((rows, buildS), wall, cpuS) = cpu.timed {
      val df = tracer.fold(q())(_.span("etl.readPartitioned")(q()))
      val built = (System.nanoTime() - c0) / 1e9
      (tracer.fold(df.collect())(_.span("collect")(df.collect())), built)
    }
    tracer.foreach(_.end())
    val answer = render(rows)
    val ok = answer == expected
    if (!ok) System.err.println(s"[perfbench] $cls answered $answer, expected $expected")
    tracer.foreach { t =>
      t.drain(actionsBefore + 1)
      val qe = t.lastAction
      val (files, bytes, scanned) = Tracer.scanCounts(qe)
      perClass(cls) += Traced(wall, buildS + Tracer.catalystS(qe), files, bytes, scanned, rows.length)
    }
    Main.Op(wall, cpuS, ok, tracer.isDefined)
  }

  /** Per-class figures of the traced queries. */
  def layerMetrics(): Seq[(String, (Double, String))] = {
    val all = perClass.values.flatten.toSeq
    Classes.flatMap { c =>
      val ts = perClass(c).toSeq
      Seq(s"lake.$c.p50_s" -> (Stats.median(ts.map(_.wallS)), "s"),
        s"lake.$c.planning_s" -> (Stats.median(ts.map(_.planningS)), "s"),
        s"lake.$c.files_read" -> (Stats.median(ts.map(_.files)), "count"),
        s"lake.$c.bytes_read" -> (Stats.median(ts.map(_.bytes)), "B"))
    } :+ ("lake.rows_scanned_per_row_returned" ->
      (all.map(_.scanned).sum / math.max(1, all.map(_.returned).sum), "ratio"))
  }
}

object LakeQueries {
  val Classes = Seq("point", "range", "join", "token_agg", "address")

  final case class Traced(wallS: Double, planningS: Double, files: Double, bytes: Double,
                          scanned: Double, returned: Int)

  def render(rows: Array[Row]): String = rows.map(_.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.toBigInteger.toString
    case v => v.toString
  }.mkString(",")).mkString(";")
}
