package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark entry point. Runs every (or a selected subset of)
  * `SparkEntry.queries` key against `SPARK_GRAFT_SF_DIR` and prints ONE
  * compact JSON line as the LAST line of output.
  *
  * Every measured call is a first call: operators keep no state across
  * calls, and before each key every pass clears Spark's cache, in a JVM
  * whose codegen and write path were warmed once up front. The
  * headline `value` is the sum over keys of the median first call across
  * passes — the cost a first caller pays. Wall and executor-CPU medians are
  * reported with the run's own steal stamp next to them.
  *
  * The regression check is exact, not timed: each key's pass-1 counters —
  * output rows, shuffle records written, exchange nodes in the executed
  * plans ([[Counts]]) — must equal the committed `BENCH_COUNTS.json` entry
  * for this core count and scale ([[countChanges]]). Hypervisor steal moves
  * time, never these counts, so the check needs no quiet host and no
  * re-runs. A full-suite run writes its namespace back, so a counter change
  * shows up as a diff of that file in review.
  *
  * The driver captures only the last ~2,000 chars of this process's output,
  * so the final line must stay small: it carries the totals, per-query times
  * for the slowest [[BenchReport.LineTopN]] keys, and capped diagnostic
  * lists (see [[BenchReport]], whose spec pins the worst-case line length).
  * The complete per-query record is written to `BENCH_FULL.json` in the
  * working directory (the repo root under sbt) for offline reading.
  */
object Bench {
  private val SlowGuardSec = 60.0
  /** Measured steal, in percent of one CPU, above which the run is stamped
    * `contended`: its times then carry host load, its counters do not. */
  private val ContendedStealPct = 5.0
  private val CountsFile = "BENCH_COUNTS.json"

  /** A key's structural counters from one first call. */
  final case class Counts(rows: Long, shuffleRecords: Long, exchanges: Long) {
    def named: Seq[(String, Long)] =
      Seq("rows" -> rows, "shuffle_records" -> shuffleRecords, "exchanges" -> exchanges)
  }
  final case class CountChange(key: String, counter: String, expected: Long, observed: Long)

  /** `BENCH_COUNTS.json` namespace of a run: map-side partitioning, and with
    * it the shuffle records written, depends on the core count. */
  def countsNamespace(cpus: String, sfDir: String): String =
    s"c$cpus:${java.nio.file.Paths.get(sfDir).getFileName}"

  /** Every observed counter that differs from its committed value in
    * namespace `ns`. A key with no committed entry there — a new key, or a
    * namespace never recorded — compares nothing, and neither does an
    * unknown observation (`None`: the key failed, or its counters were lost
    * to a listener-bus timeout), so a partial count can neither pass nor
    * fail the check. */
  def countChanges(committed: Map[String, Counts], ns: String,
                   observed: Seq[(String, Option[Counts])]): Seq[CountChange] =
    for {
      (key, Some(obs)) <- observed
      exp <- committed.get(s"$ns|$key").toSeq
      ((counter, e), (_, o)) <- exp.named.zip(obs.named)
      if e != o
    } yield CountChange(key, counter, e, o)

  /** `committed` with namespace `ns` replaced by a full-suite run's counts.
    * A key whose counts are unknown keeps its committed entry. */
  def withNamespace(committed: Map[String, Counts], ns: String,
                    observed: Seq[(String, Option[Counts])]): Map[String, Counts] =
    committed.filterNot(_._1.startsWith(s"$ns|")) ++ observed.flatMap { case (key, o) =>
      o.orElse(committed.get(s"$ns|$key")).map(s"$ns|$key" -> _)
    }

  private def readCounts(): Map[String, Counts] = {
    val f = new java.io.File(CountsFile)
    if (!f.exists) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).properties().asScala.map { e =>
        val a = e.getValue
        e.getKey -> Counts(a.get(0).asLong, a.get(1).asLong, a.get(2).asLong)
      }.toMap
    }
  }

  /** One entry per line, sorted, so a changed counter is a one-line diff. */
  private def writeCounts(counts: Map[String, Counts]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(CountsFile),
      counts.toSeq.sortBy(_._1).map { case (k, c) =>
        s"""  "$k": [${c.rows}, ${c.shuffleRecords}, ${c.exchanges}]"""
      }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8")): Unit

  /** One measured first call. `counts` is `None` when the call failed or
    * the listener bus did not drain, so the counters may be partial. */
  final case class Call(wallSec: Double, cpuSec: Double, shuffleBytes: Long,
                        failure: Option[Throwable], counts: Option[Counts])

  /** Meters a session: executor CPU and shuffle writes summed from every
    * task end, exchange nodes counted in every action's executed plan
    * (subqueries and AQE query stages included). */
  final class Meter(spark: SparkSession) extends AutoCloseable {
    private val cpuNanos, shuffleRecords, shuffleBytes, exchanges = new AtomicLong
    private val tasks = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          cpuNanos.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
      }
    }
    private val plans = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        exchanges.addAndGet(collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)

    def close(): Unit = {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(tasks)
    }

    /** Task-end and SQL-execution-end events arrive asynchronously; a read
      * without the drain attributes a tail of one key's events to the next.
      * False when the bus did not drain within its timeout. */
    private def drained(): Boolean =
      try { org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark); true }
      catch { case _: java.util.concurrent.TimeoutException => false }

    /** Runs `fn(spark, sfDir).count()` as a first call: any Spark cache an
      * earlier call could have left behind is cleared first. */
    def firstCall(fn: (SparkSession, String) => DataFrame, sfDir: String): Call = {
      spark.catalog.clearCache()
      val before = drained()
      val (cpu0, rec0, bytes0, exch0) =
        (cpuNanos.get, shuffleRecords.get, shuffleBytes.get, exchanges.get)
      val t0 = System.nanoTime()
      val rows = try Right(fn(spark, sfDir).count()) catch { case e: Throwable => Left(e) }
      val wallSec = (System.nanoTime() - t0) / 1e9
      val after = drained()
      Call(wallSec, (cpuNanos.get - cpu0) / 1e9, shuffleBytes.get - bytes0, rows.left.toOption,
        rows.toOption.filter(_ => before && after)
          .map(Counts(_, shuffleRecords.get - rec0, exchanges.get - exch0)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Unknown query keys in args must fail loudly: a typo'd key would
    // otherwise filter to an empty run that "succeeds" with total 0.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query keys: ${unknown.mkString(", ")}; " +
        s"valid keys: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // SPARK_GRAFT_BENCH_EXCLUDE: keys to SKIP, recorded in the JSON as
    // `excluded` so the record stays honest about coverage. Exists for the
    // single-box ceiling at scale-probe corpora: the two Θ(n²)-contract
    // multimodal keys at 100× exceed this host's disk/heap (PLANS.md probe
    // #21 — at that scale `multimodal_dup_clusters`' GC stall starved
    // executor heartbeats and took down the whole suite's SparkContext,
    // failing 112 innocent keys). An exclude run is not the full suite: like
    // a key-args run it writes BENCH_SUBSET.json and only compares counters.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE").toSeq
      .flatMap(_.split("[,\\s]+")).filter(_.nonEmpty)
    val unknownExcl = excluded.filterNot(SparkEntry.queries.keySet)
    if (unknownExcl.nonEmpty) {
      System.err.println(s"unknown SPARK_GRAFT_BENCH_EXCLUDE keys: ${unknownExcl.mkString(", ")}")
      sys.exit(2)
    }
    val fullSuite = args.isEmpty && excluded.isEmpty
    // Read before any key runs: a malformed file fails the run up front,
    // not after minutes of measurement.
    val committed = readCounts()
    val ns = countsNamespace(cpus, sfDir)
    val whDir = java.nio.file.Files.createTempDirectory("graft_wh")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", whDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (codegen, parquet footers, shuffle machinery) once so
    // per-query numbers measure the queries, not first-touch costs.
    graft.Tables.testTables.foreach { t =>
      try graft.Tables.t(spark, sfDir, t).count() catch { case _: Throwable => }
    }
    // Warm the write path too (output committer, csv/parquet writer codegen):
    // the sink queries otherwise pay several seconds of first-touch setup
    // that has nothing to do with their data volume.
    val warmDir = java.nio.file.Files.createTempDirectory("graft_warm")
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number, broadcast}
      import spark.implicits._
      val tiny = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
      Seq("csv", "parquet").foreach { fmt =>
        graft.etl.EtlOps.writePartitioned(
          tiny, s"$warmDir/$fmt", fmt, col("k"), col("k"))
      }
      // Warm the remaining cold codegen paths a first query would otherwise
      // pay for (typed Dataset encoders, broadcast-join build, window exec),
      // so per-key numbers measure the keys rather than first-touch
      // compilation.
      tiny.as[(Long, Double)].mapPartitions(_.map { case (k, v) => (k, v + 1) })
        .toDF("k", "v")
        .join(broadcast(tiny.select(col("k"))), "k")
        .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
        .count(): Unit
    } catch { case _: Throwable => }
    val meter = new Meter(spark)
    val keys = ((if (args.isEmpty) SparkEntry.queries
                 else SparkEntry.queries.view.filterKeys(args.toSet).toMap) -- excluded)
      .toSeq.sortBy(_._1)
    // Median-of-N per key (default 3). Reps run PASS-MAJOR — the whole key
    // list per pass, not each key back-to-back — so a multi-minute host-load
    // window pollutes each key in at most one pass, and /proc/loadavg
    // sampled at each pass boundary makes a polluted run self-identifying.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def loadavg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Hypervisor steal ticks (/proc/stat cpu field 9). Steal on this kind of
    // shared host is usage-dependent — ~0% sampled at idle, over 100% of one
    // CPU during a run — so only the run's own steal, emitted as
    // steal_pct_cpu (percent of ONE cpu stolen over the run's wall time),
    // tells what epoch its times were measured in.
    def stealTicks(): Long =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    val stealStart = stealTicks()
    val wallStart = System.nanoTime()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val calls = scala.collection.mutable.LinkedHashMap[String, Vector[Call]](
      keys.map { case (k, _) => k -> Vector.empty[Call] }: _*)
    val passLoads = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to reps) {
      passLoads += loadavg()
      keys.foreach { case (name, fn) =>
        val call = meter.firstCall(fn, sfDir)
        // A crashing key must never masquerade as a fast pass: record it in
        // `failed` (surfaced in both JSON lines + stderr), don't swallow it.
        call.failure.foreach { e =>
          if (!failed.contains(name)) failed += name
          System.err.println(s"WARNING: query '$name' FAILED: " +
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        calls(name) = calls(name) :+ call
      }
    }
    passLoads += loadavg()
    val stealPct: Double = {
      val end = stealTicks()
      if (stealStart < 0 || end < 0) -1.0
      else (end - stealStart) / 100.0 /
        math.max((System.nanoTime() - wallStart) / 1e9, 0.001) * 100.0
    }
    val contended = stealPct > ContendedStealPct
    meter.close()
    spark.stop()
    deleteRecursively(warmDir.toFile)
    deleteRecursively(whDir.toFile)

    // Lower median: the true median for an odd pass count.
    def median(ts: Seq[Double]): Double = ts.sorted.apply((ts.length - 1) / 2)
    val results = calls.toSeq.map { case (k, cs) => k -> median(cs.map(_.wallSec)) }
    val cpuByKey = calls.map { case (k, cs) => k -> median(cs.map(_.cpuSec)) }.toMap
    val observed = calls.toSeq.map { case (k, cs) => k -> cs.head.counts }
    observed.collect { case (k, None) if !failed.contains(k) => k }.foreach { k =>
      System.err.println(s"NOTE: query '$k': listener bus did not drain, its counters are unknown")
    }
    val changes = countChanges(committed, ns, observed)
    changes.groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      System.err.println(s"WARNING: query '$k' counters changed (expected -> observed): " +
        cs.map(c => s"${c.counter} ${c.expected} -> ${c.observed}").mkString(", "))
    }
    val countChanged = changes.map(_.key).distinct
    val nCompared = observed.count { case (k, o) => o.isDefined && committed.contains(s"$ns|$k") }
    System.err.println(s"NOTE: counters: $nCompared keys compared against $CountsFile " +
      s"namespace $ns, ${countChanged.size} changed" +
      (if (fullSuite) s"; namespace $ns written back" else ""))
    if (fullSuite) {
      val next = withNamespace(committed, ns, observed)
      if (next != committed) writeCounts(next)
    }

    def fmt(v: Double): String = f"$v%.3f"
    def arr(ks: Seq[String]): String = ks.map(k => s""""$k"""").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val cpuTotal = cpuByKey.values.sum
    val bySlowest = results.sortBy(-_._2)
    val stealJson = if (stealPct < 0) "-1" else f"$stealPct%.1f"
    val countsJson = observed.map { case (k, o) =>
      s""""$k":${o.fold("null")(c => s"[${c.rows},${c.shuffleRecords},${c.exchanges}]")}"""
    }.mkString("{", ",", "}")
    val bytesJson = calls.toSeq.map { case (k, cs) => s""""$k":${cs.head.shuffleBytes}""" }
      .mkString("{", ",", "}")
    // Subset runs (key args or excludes) must not clobber the committed
    // full-suite record.
    val benchOut = if (fullSuite) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""reps":$reps,"stat":"first_call_median","cpu_total":${fmt(cpuTotal)},""" +
        s""""loadavg":${passLoads.map(fmt).mkString("[", ",", "]")},""" +
        s""""steal_pct_cpu":$stealJson,"contended":$contended,""" +
        s""""failed":${arr(failed.sorted.toSeq)},"excluded":${arr(excluded)},""" +
        s""""count_changed":${arr(countChanged)},""" +
        s""""queries":${bySlowest.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")},""" +
        s""""queries_cpu":${bySlowest.map { case (k, _) => s""""$k":${fmt(cpuByKey(k))}""" }.mkString("{", ",", "}")},""" +
        s""""counts":$countsJson,"shuffle_bytes":$bytesJson,"sf":"$sfDir"}""" + "\n").getBytes("UTF-8"))
    // Guardrail: a degenerate operator must never hide inside a green round.
    val slow = bySlowest.takeWhile(_._2 > SlowGuardSec)
    slow.foreach { case (k, v) =>
      System.err.println(f"WARNING: query '$k' took $v%.1f s (> $SlowGuardSec%.0f s guardrail) — scale-suspect")
    }
    // Final line via BenchReport: every variable-length field hard-capped so
    // a 2,000-char tail capture of the output always holds the complete,
    // parseable JSON object. The full detail is in BENCH_FULL.json above.
    println(BenchReport.finalLine(
      total = total, nQueries = results.size, reps = reps, cpuTotal = cpuTotal,
      stealPctJson = stealJson, contended = contended, countChanged = countChanged,
      failed = failed.toSeq, excluded = excluded, slowOver60s = slow.map(_._1),
      queriesBySlowest = bySlowest, cpuByKey = cpuByKey, sf = sfDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
