package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ExportPipeline, PipelineConfig, PipelineResult, StageStatus}

/** The benchmark's JVM side: one single-threaded client drives the program
  * through its public entry points in a closed loop and prints one JSON
  * record per run. Usage:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *     <preSetupSeconds> <chainScale>
  *
  * `perfbench/run.py` builds the classpath, launches this, and relays the
  * final line. Every call is a first call: each operation reads its input
  * through a fresh alias path (so no path-keyed cache of the program or of
  * Spark's file index can answer it) and the Spark cache is cleared between
  * calls.
  */
object Main {
  val Tables = Seq("blocks", "transactions", "receipts", "logs", "contracts",
    "token_transfers", "tokens")

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  final case class Op(wallS: Double, cpuS: Double, ok: Boolean, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, preSetupArg, chainScaleArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = new File(workArg).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    // seconds spent before this JVM started, generating the panel corpus
    val preSetupS = preSetupArg.toDouble

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val host0 = HostStamp.read()
    val cpu = new CpuMeter(spark.sparkContext)

    val gen = new ChainGen(seed, chainScaleArg.toInt)
    val raw = new File(work, "raw")
    // the chain corpus: the input of the export workload, and of every
    // traced run's export probe
    if (workload != "operator_panel" || traced) {
      gen.write(raw)
      System.err.println(f"[perfbench] chain corpus written at ${uptime()}%.1f s")
    }
    val cfg = PipelineConfig(partitionBounds = Some(gen.bounds))
    val aliases = new Aliases(new File(work, "alias"))
    val tracer = if (traced) Some(new Tracer(spark)) else None
    def setupS() = uptime() + preSetupS

    val exporter = new ExportRun(spark, cfg, gen, raw, aliases, work, cpu)
    def panel() = new Panel(spark, new File(work, "panel-corpus"), new File(work, "panel-ref"),
      aliases, cpu, seed)
    // A traced run prints every per-layer metric, whatever its workload: it
    // probes the layers its own workload does not reach with one traced
    // export, one query of each lake class, and one traced panel pass.
    def panelProbe(t: Tracer): Seq[(String, (Double, String))] = {
      val p = panel()
      p.referencePass()
      requireOk(p.pass(0, Some(t)), "the probe's panel pass")
      p.repeatProbe()
      p.layerMetrics()
    }
    // A traced run traces operations 1, 2, 5, 6, ... and runs at least four,
    // so that it measures its own tracing overhead; the untraced-traced-
    // traced-untraced order cancels a steady drift in speed. Per-layer
    // figures come from the traced operations only.
    def alternate(i: Int) = tracer.filter(_ => i % 4 == 1 || i % 4 == 2)
    def minOps(n: Int) = if (traced) math.max(n, 4) else n
    // Each workload starts with untimed work on the same code paths, so that
    // class loading and JIT compilation fall in setup, not in the first
    // timed operation.
    val result: Result = workload match {
      case "export_chain" =>
        requireOk(exporter.once("warmup", None, keep = false).op, "the warm-up export")
        val setup = setupS()
        var first = Option.empty[Export]
        val ops = loop(seconds, minOps(2)) { i =>
          val e = exporter.once(s"op$i", alternate(i), keep = traced && i == 0)
          if (i == 0) first = Some(e)
          e.op
        }
        Result(setup, ops, tracer.toSeq.flatMap { t =>
          exporter.layerMetrics() ++ lakeProbe(spark, gen, first.get, aliases, cpu, seed, t) ++
            panelProbe(t)
        })
      case "operator_panel" =>
        // the reference pass and three untimed passes warm the panel's code
        // paths: with one, the first three timed passes ran 10-15% slower
        // than the later ones
        val p = panel()
        p.referencePass()
        for (w <- 3 to 5) requireOk(p.pass(-w, None), "a warm-up pass")
        val setup = setupS()
        val ops = loop(seconds, minOps(2))(i => p.pass(i, alternate(i)))
        Result(setup, ops, tracer.toSeq.flatMap { t =>
          p.repeatProbe()
          val lake = exporter.once("probe", Some(t), keep = true)
          requireOk(lake.op, "the probe export")
          p.layerMetrics() ++ exporter.layerMetrics() ++
            lakeProbe(spark, gen, lake, aliases, cpu, seed, t)
        })
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    System.err.println(f"[perfbench] timed loop done at ${uptime()}%.1f s")
    tracer.foreach(_.writeSpans(new File(work, "spans.jsonl")))
    tracer.foreach(_.release())
    val heapLiveMb = if (traced) LiveHeap.mb() else Double.NaN
    spark.stop()
    System.err.println(f"[perfbench] session stopped at ${uptime()}%.1f s")

    val walls = result.ops.map(_.wallS)
    val failed = result.ops.count(!_.ok)
    val endToEnd = Seq(
      "setup_s" -> (result.setupS, "s"),
      "op_p50_s" -> (Stats.median(walls), "s"),
      "cpu_s" -> (Stats.median(result.ops.map(_.cpuS)), "s"))
    def medianWall(traced: Boolean) =
      Stats.median(result.ops.filter(_.traced == traced).map(_.wallS))
    val metrics =
      if (traced) result.layer ++ Seq(
        "trace.overhead_s" -> (medianWall(true) - medianWall(false), "s"),
        "jvm.heap_live_mb" -> (heapLiveMb, "MB"))
      else endToEnd
    val host1 = HostStamp.read()
    // a record of the run next to its figures; the last line is the result
    println(Json.obj(Seq(
      "record" -> Json.str(workload), "seed" -> seed.toString, "ops" -> walls.size.toString,
      "op_walls_s" -> walls.map(w => f"$w%.3f").mkString("[", ", ", "]"),
      "steal_pct" -> Json.num(HostStamp.stealPct(host0, host1)),
      "loadavg_1m" -> Json.num(host1.load1), "input_records" -> gen.csvRecords.toString,
      "input_bytes" -> gen.csvBytes.toString, "overrange_values" -> gen.overRange.toString)))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> result.ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
  }

  private def requireOk(op: Op, what: String): Unit =
    require(op.ok, s"$what failed its checks")

  final case class Result(setupS: Double, ops: Seq[Op], layer: Seq[(String, (Double, String))])

  /** Seconds from JVM start to now. */
  private def uptime(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Closed loop: run operations back to back until `seconds` have passed and
    * at least `minOps` have completed. An operation that throws counts as
    * failed. */
  private def loop(seconds: Double, minOps: Int)(op: Int => Op): Seq[Op] = {
    val start = now()
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    while (ops.size < minOps || secs(now() - start) < seconds) {
      val t0 = now()
      ops += (try op(ops.size) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] operation ${ops.size} failed: $e")
          e.printStackTrace()
          Op(secs(now() - t0), 0.0, ok = false, traced = false)
      })
    }
    ops.toSeq
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Fresh alias paths: a new symlink to the same directory per call. */
  final class Aliases(root: File) {
    root.mkdirs()
    private var n = 0
    def of(target: File): String = {
      n += 1
      val link = new File(root, s"a$n")
      Files.createSymbolicLink(link.toPath, target.toPath)
      link.toString
    }
  }

  /** Lake-level facts read from Parquet footers, never through Spark. */
  final case class LakeFacts(rows: Map[String, Long], dirs: Map[String, Int],
                             files: Long, bytes: Long, nullValues: Long)

  def lakeFacts(out: File): LakeFacts = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    var files = 0L; var bytes = 0L; var nullValues = 0L
    val rows = scala.collection.mutable.Map[String, Long]()
    val dirs = scala.collection.mutable.Map[String, Int]()
    for (t <- Tables) {
      val tableDir = new File(out, t)
      val ranges = Option(tableDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("start_block="))
      dirs(t) = ranges.size
      var n = 0L
      for {
        range <- ranges; endDir <- range.listFiles(); f <- endDir.listFiles()
        if f.getName.endsWith(".parquet")
      } {
        files += 1; bytes += f.length
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
        try {
          for (block <- reader.getFooter.getBlocks.asScala) {
            n += block.getRowCount
            if (t == "transactions" || t == "token_transfers")
              for (c <- block.getColumns.asScala if c.getPath.toDotString == "value")
                nullValues += c.getStatistics.getNumNulls
          }
        } finally reader.close()
      }
      rows(t) = n
    }
    LakeFacts(rows.toMap, dirs.toMap, files, bytes, nullValues)
  }

  /** One export: its operation record, the lake it wrote and the tables
    * `ExportPipeline.run` returned. */
  final case class Export(op: Op, dir: File, result: PipelineResult)

  /** One query of each class over an exported lake, traced: the per-layer
    * read-path figures of a run whose workload is the export. */
  def lakeProbe(spark: SparkSession, gen: ChainGen, lake: Export, aliases: Aliases, cpu: CpuMeter,
                seed: Long, tracer: Tracer): Seq[(String, (Double, String))] = {
    val queries = new LakeQueries(spark, gen, lake, aliases, cpu, seed)
    LakeQueries.Classes.indices.foreach(i => queries.once(i, Some(tracer)))
    queries.layerMetrics()
  }

  /** `export_chain`: one full 7-table export per operation. */
  final class ExportRun(spark: SparkSession, cfg: PipelineConfig, gen: ChainGen, raw: File,
                        aliases: Aliases, work: File, cpu: CpuMeter) {
    private var facts = Option.empty[LakeFacts]
    private var attempts = 0
    private val splits = scala.collection.mutable.ArrayBuffer[Tracer.ExportSplit]()

    def once(tag: String, tracer: Option[Tracer], keep: Boolean): Export = {
      val out = new File(work, s"lake-$tag")
      val rawAlias = aliases.of(raw)
      spark.catalog.clearCache()
      tracer.foreach(_.attach())
      val root = tracer.map(_.begin(s"export.$tag"))
      val (res, wall, cpuS) = cpu.timed(ExportPipeline.run(spark, cfg, rawAlias, out.toString))
      tracer.foreach(_.end())
      for (t <- tracer; r <- root) splits += t.exportStages(r, out.toString, Tables)
      tracer.foreach(_.detach())
      val lake = lakeFacts(out)
      facts = Some(lake)
      attempts = res.stages.values.collect { case StageStatus.Succeeded(n) => n }.sum
      val ok = res.stages.keySet == Tables.toSet &&
        res.stages.values.forall(_ == StageStatus.Succeeded(1)) &&
        lake.rows == gen.expectedRows && lake.dirs == gen.expectedDirs
      if (!ok) System.err.println(s"[perfbench] $tag mismatch: stages=${res.stages} " +
        s"rows=${lake.rows} expected=${gen.expectedRows} dirs=${lake.dirs} expected=${gen.expectedDirs}")
      if (!keep) deleteTree(out)
      Export(Op(wall, cpuS, ok, tracer.isDefined), out, res)
    }

    def layerMetrics(): Seq[(String, (Double, String))] = {
      val f = facts.get
      def med(v: Tracer.ExportSplit => Double) = Stats.median(splits.toSeq.map(v))
      Tables.flatMap { st =>
        Seq(s"pipeline.$st.wall_s" -> (med(_.stages(st)._1), "s"),
          s"pipeline.$st.cpu_s" -> (med(_.stages(st)._2), "s"))
      } ++ Seq(
        "pipeline.gap_s" -> (med(_.gapS), "s"),
        "pipeline.shuffle_bytes" -> (med(_.shuffleBytes), "B"),
        "pipeline.shuffle_records" -> (med(_.shuffleRecords), "count"),
        "pipeline.spill_bytes" -> (med(_.spillBytes), "B"),
        "etl.write.driver_s" -> (med(_.writeIdleS), "s"),
        "etl.write.skew" -> (med(_.writeSkew), "ratio"),
        "pipeline.attempts" -> (attempts.toDouble, "count"),
        "etl.write.files" -> (f.files.toDouble, "count"),
        "etl.write.dirs" -> (f.dirs.values.sum.toDouble, "count"),
        "etl.write.bytes" -> (f.bytes.toDouble, "B"),
        "etl.lake_bytes_per_csv_byte" -> (f.bytes.toDouble / gen.csvBytes, "ratio"),
        "etl.lossy_cast_rows" -> (f.nullValues.toDouble, "count"),
        "sources.overrange_values" -> (gen.overRange.toDouble, "count"),
        "sources.input_records" -> (gen.csvRecords.toDouble, "count"),
        "sources.input_bytes" -> (gen.csvBytes.toDouble, "B"))
    }
  }
}
