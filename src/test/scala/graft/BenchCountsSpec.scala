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
}
