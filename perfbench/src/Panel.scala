package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry

/** `operator_panel`: one operation is one pass over a fixed panel of
  * `SparkEntry.queries` keys, each a first call on a fresh alias of a
  * seeded corpus (`perfbench/panelgen.py`), materialised through the
  * `noop` sink with an `Observation` of its row count and an
  * order-independent content hash. `count()` would let the optimizer
  * prune output columns; the noop sink computes every one.
  *
  * The reference pass, run once in setup, writes each key's output as
  * Parquet and the key's DuckDB oracle SQL next to it; `perfbench/run.py`
  * compares the two after the JVM exits. Every timed pass must reproduce
  * the reference pass's row count and hash.
  */
final class Panel(spark: SparkSession, corpus: File, refDir: File, aliases: Main.Aliases,
                  cpu: CpuMeter, seed: Long) {
  import Panel._

  private val fns = SparkEntry.queries
  private var nObs = 0
  private val reference = mutable.Map[String, (Long, Long)]()
  private val perKey = Keys.map(k => k -> mutable.ArrayBuffer[(Double, Double)]()).toMap
  private val layerTotals = mutable.Map[String, (Double, Double)]().withDefaultValue((0.0, 0.0))
  private var cachedBytes = 0.0
  private var skewSplits = 0.0
  private var repeatOverFirst = Double.NaN

  /** The pass's key order: a seeded shuffle, new for every pass. */
  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Keys)

  /** Run `key` on `dir` and observe (rows, hash) of its output: written to
    * `out` as one Parquet file, or to the noop sink. */
  private def call(key: String, dir: String, out: Option[File]): (Long, Long) = {
    val df = fns(key)(spark, dir)
    nObs += 1
    val obs = Observation(s"perfbench_$nObs")
    // xxhash64 refuses maps; a key with a map column is checked on rows only
    val hashed = df.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => col(s"`${f.name}`"))
    val hash: Column = if (hashed.isEmpty) lit(0L) else pmod(xxhash64(hashed.toIndexedSeq: _*), lit(HashMod))
    val observed = df.observe(obs, count(lit(1)).as("rows"), coalesce(sum(hash), lit(0L)).as("hash"))
    out match {
      case Some(f) => observed.coalesce(1).write.mode("overwrite").parquet(f.toString)
      case None => observed.write.format("noop").mode("overwrite").save()
    }
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("hash").asInstanceOf[Long])
  }

  /** Setup: one untimed pass that writes every key's output and oracle SQL
    * under `refDir`, and keeps each key's (rows, hash) as the expectation. */
  def referencePass(): Unit = {
    refDir.mkdirs()
    for (k <- order(-1)) {
      spark.catalog.clearCache()
      reference(k) = call(k, aliases.of(corpus), Some(new File(refDir, k)))
      require(reference(k)._1 > 0, s"$k returned no rows on the panel corpus")
    }
    val oracles = SparkEntry.oracleSql
    java.nio.file.Files.writeString(new File(refDir, "oracle.json").toPath,
      Json.obj(Keys.map(k => k -> Json.str(oracles(k)))))
  }

  /** One timed pass: every key once, in this pass's order. */
  def pass(i: Int, tracer: Option[Tracer]): Main.Op = {
    tracer.foreach(_.attach())
    try run(i, tracer) finally tracer.foreach(_.detach())
  }

  private def run(i: Int, tracer: Option[Tracer]): Main.Op = {
    var ok = true
    tracer.foreach(_.begin(s"panel.pass$i"))
    val (_, wall, cpuS) = cpu.timed {
      for (k <- order(i)) {
        val dir = aliases.of(corpus)
        spark.catalog.clearCache()
        val span = tracer.map(_.begin(s"panel.$k"))
        val (got, w, c) = cpu.timed(call(k, dir, None))
        tracer.foreach(_.end())
        if (got != reference(k)) {
          ok = false
          System.err.println(s"[perfbench] pass $i: $k gave (rows, hash) $got, expected ${reference(k)}")
        }
        for (t <- tracer; s <- span) {
          perKey(k) += ((w, c))
          cachedBytes = math.max(cachedBytes, spark.sparkContext.getRDDStorageInfo
            .map(r => (r.memSize + r.diskSize).toDouble).sum)
          t.drain(0)
          val (shuffleRecords, spill) = t.shuffleAndSpill(s)
          val (r0, s0) = layerTotals(Layer(k))
          layerTotals(Layer(k)) = (r0 + shuffleRecords, s0 + spill)
          if (k == "join_skew_aqe") skewSplits = t.skewSplits(s)
        }
      }
    }
    tracer.foreach(_.end())
    Main.Op(wall, cpuS, ok, tracer.isDefined)
  }

  /** Traced runs, after the timed loop: each key called twice on the same
    * alias, with no cache clearing in between. The repeat-over-first wall
    * ratio shows what session-scoped memoization saves a repeat call. */
  def repeatProbe(): Unit = {
    var first = 0.0; var repeat = 0.0
    for (k <- order(-2)) {
      val dir = aliases.of(corpus)
      spark.catalog.clearCache()
      first += cpu.timed(call(k, dir, None))._2
      repeat += cpu.timed(call(k, dir, None))._2
    }
    repeatOverFirst = repeat / first
  }

  /** Per-key medians and per-layer means over the traced passes. */
  def layerMetrics(): Seq[(String, (Double, String))] = {
    val passes = perKey.values.map(_.size).max.toDouble
    Keys.flatMap { k =>
      Seq(s"panel.$k.wall_s" -> (Stats.median(perKey(k).map(_._1).toSeq), "s"),
        s"panel.$k.cpu_s" -> (Stats.median(perKey(k).map(_._2).toSeq), "s"))
    } ++ Layers.flatMap { l =>
      val (records, spill) = layerTotals(l)
      Seq(s"$l.shuffle_records" -> (records / passes, "count"),
        s"$l.spill_bytes" -> (spill / passes, "B"))
    } ++ Seq(
      "plans.join_skew_aqe.skew_splits" -> (skewSplits, "count"),
      "SessionMemo.cached_bytes" -> (cachedBytes, "B"),
      "SessionMemo.repeat_over_first" -> (repeatOverFirst, "ratio"))
  }
}

object Panel {
  /** The panel: each key with the layer (program module) that implements
    * it, one key per layer the export workload does not reach.
    * `dedup_edit_distance` also memoizes through `SessionMemo`. */
  val Layer: Map[String, String] = Map(
    "join_skew_aqe" -> "ops",
    "join_asof_native" -> "plans",
    "source_blockrange" -> "sources",
    "stream_session_window" -> "streaming",
    "agg_heavy_hitters" -> "functions",
    "dedup_edit_distance" -> "llm")
  val Keys: Seq[String] = Layer.keys.toSeq.sorted
  val Layers: Seq[String] = Layer.values.toSeq.distinct.sorted
  private val HashMod = 1L << 40

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
