package graft

import graft.Bench.{CountChange, Counts}

/** Pins Bench's exact-counter check: the pure comparison against the
  * committed `BENCH_COUNTS.json`, and the premise it rests on — a key's
  * first-call counters repeat exactly. */
class BenchCountsSpec extends SparkTestBase {

  private val ns = "c4:sf0.01"
  private val committed = Map(
    s"$ns|a" -> Counts(10, 100, 3),
    s"$ns|b" -> Counts(5, 0, 0),
    "c32:sf0.1|a" -> Counts(1000, 9000, 3))

  test("a namespace with no committed entries compares nothing") {
    assert(Bench.countChanges(committed, "c8:sf0.01",
      Seq("a" -> Some(Counts(11, 101, 4)))).isEmpty)
    assert(Bench.countsNamespace("4", "/data/sf0.01/") == ns)
  }

  test("a failed key or an unknown count is skipped, a new key compares nothing") {
    assert(Bench.countChanges(committed, ns,
      Seq("a" -> None, "b" -> None, "new_key" -> Some(Counts(1, 2, 3)))).isEmpty)
  }

  test("a single changed counter is named with expected and observed values") {
    assert(Bench.countChanges(committed, ns,
      Seq("a" -> Some(Counts(10, 100, 4)), "b" -> Some(Counts(5, 0, 0)))) ==
      Seq(CountChange("a", "exchanges", 3, 4)))
    assert(Bench.countChanges(committed, ns, Seq("a" -> Some(Counts(10, 100, 3)))).isEmpty)
  }

  test("a full-suite write-back replaces its namespace, keeping unknown keys' entries") {
    val next = Bench.withNamespace(committed, ns,
      Seq("a" -> Some(Counts(10, 90, 2)), "b" -> None, "c" -> Some(Counts(1, 0, 0))))
    assert(next == Map(
      s"$ns|a" -> Counts(10, 90, 2),
      s"$ns|b" -> Counts(5, 0, 0),
      s"$ns|c" -> Counts(1, 0, 0),
      "c32:sf0.1|a" -> Counts(1000, 9000, 3)))
    // a key gone from the suite drops out of its namespace
    assert(Bench.withNamespace(committed, ns, Seq("a" -> Some(Counts(10, 100, 3)))) ==
      committed - s"$ns|b")
  }

  test("a run outside the repo root exits 2 and names its working directory") {
    // BENCH_COUNTS.json is read from the working directory: a run started
    // anywhere else must fail before any key runs, not compare 0 keys.
    val cwd = new java.io.File(Tables.scratchDir("bench_cwd"))
    val errFile = new java.io.File(Tables.scratchDir("bench_err"), "stderr")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graft.Bench", "etl_gap_detect")
      .directory(cwd).redirectOutput(ProcessBuilder.Redirect.DISCARD).redirectError(errFile)
      .start()
    val exited = p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly().waitFor(): Unit
    val err = new String(java.nio.file.Files.readAllBytes(errFile.toPath), "UTF-8")
    assert(exited, s"Bench did not exit up front: $err")
    assert(p.exitValue() == 2, err)
    assert(err.contains("BENCH_COUNTS.json not found") && err.contains(cwd.getName), err)
    assert(cwd.list().isEmpty, "a run without its counts file wrote output")
  }

  test("first-call counters repeat exactly from one call to the next") {
    val meter = new Bench.Meter(spark)
    try {
      Seq("etl_gap_detect", "text_bigram_logprob", "agg_heavy_hitters").foreach { key =>
        val fn = SparkEntry.queries(key)
        val first = meter.firstCall(fn, sf)
        val second = meter.firstCall(fn, sf)
        assert(first.failure.isEmpty && second.failure.isEmpty, key)
        assert(first.counts.isDefined, s"$key: counters unknown")
        assert(first.counts.exists(_.rows > 0), s"$key: ${first.counts}")
        assert(first.counts == second.counts, key)
      }
    } finally meter.close()
  }

  test("a call's stage records sum to its CPU and shuffle-write counters") {
    // an independent tally of the same task ends, as the meter kept it
    // before it grouped them by stage
    val cpuNanos, writeRecords = new java.util.concurrent.atomic.AtomicLong
    val tally = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          cpuNanos.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
          writeRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
    }
    val meter = new Bench.Meter(spark)
    spark.sparkContext.addSparkListener(tally)
    try {
      Seq("etl_gap_detect", "text_bigram_logprob", "agg_heavy_hitters").foreach { key =>
        cpuNanos.set(0); writeRecords.set(0)
        val call = meter.firstCall(SparkEntry.queries(key), sf) // drains the bus before it returns
        val stages = call.stages
        assert(call.counts.isDefined && stages.nonEmpty, key)
        assert(stages.map(_.id).distinct == stages.map(_.id), key)
        assert(stages.forall(s => s.name.nonEmpty && s.tasks > 0 && s.medianTaskMs <= s.maxTaskMs), s"$key: $stages")
        assert(stages.map(_.cpuNanos).sum / 1e9 == call.cpuSec, key)
        assert(stages.map(_.cpuNanos).sum == cpuNanos.get, key)
        assert(stages.map(_.shuffleWriteRecords).sum == call.counts.get.shuffleRecords, key)
        assert(stages.map(_.shuffleWriteRecords).sum == writeRecords.get, key)
        assert(stages.map(_.shuffleWriteBytes).sum == call.shuffleBytes, key)
      }
      // a call that plans new code counts its compiles: the literal makes
      // the generated source unique to this run
      val nonce = System.nanoTime()
      val fresh = meter.firstCall((s, _) => s.range(10).toDF().where(s"id * ${nonce}L >= 0"), sf)
      assert(fresh.failure.isEmpty && fresh.compiles > 0, fresh.compiles)
      // a failed call records no stages, as its counts are unknown
      val failed = meter.firstCall((s, _) => { s.range(10).count(); sys.error("boom") }, sf)
      assert(failed.failure.isDefined && failed.counts.isEmpty && failed.stages.isEmpty)
      assert(failed.cpuSec > 0)
    } finally {
      spark.sparkContext.removeSparkListener(tally)
      meter.close()
    }
  }

  test("a stage AQE submits from its pool thread is named by its SQL execution") {
    val meter = new Bench.Meter(spark)
    try {
      val call = meter.firstCall(SparkEntry.queries("agg_heavy_hitters"), sf)
      assert(call.counts.isDefined && call.stages.nonEmpty)
      val names = call.stages.map(_.name)
      assert(!names.exists(_.contains("withThreadLocalCaptured")), names)
      // the action's call site: the meter's count() in firstCall
      assert(names.exists(_.startsWith("count at Bench.scala")), names)
    } finally meter.close()
  }
}
