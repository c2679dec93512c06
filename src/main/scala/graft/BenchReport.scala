package graft

/** Builds `graft.Bench`'s FINAL printed JSON line.
  *
  * The driver captures only the last ~2,000 characters of the bench
  * process's output and parses the last line as JSON. From r09 to r17 the
  * "compact" line silently outgrew that window, so every round's PERF
  * comparison came back empty (`parsed: null` in BENCH_r09..r17.json). The
  * construction therefore lives here as a pure function with HARD caps on
  * every variable-length field, and BenchReportSpec asserts a worst-case
  * 206-key line stays under the capture window. Everything dropped from the
  * line (full per-query maps, loadavg, per-key counters) still lands in
  * BENCH_FULL.json.
  */
object BenchReport {
  /** Per-query entries in the printed line (wall and CPU maps each). */
  val LineTopN = 10
  /** Caps on the diagnostic lists; totals are carried as n_* counts so a
    * capped list never hides its true size. */
  val CountChangedCap = 4
  val FailedCap = 4
  val ExcludedCap = 3
  val SlowCap = 2
  /** Spec'd ceiling: the driver's capture is 2,000 chars; the line plus its
    * newline must always fit with margin. */
  val MaxLineChars = 1800

  private def fmt(v: Double): String = f"$v%.3f"
  private def kv(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
  private def arr(ks: Seq[String]): String =
    ks.map(k => s""""$k"""").mkString("[", ",", "]")

  /** The one line the driver parses. `queriesBySlowest` is the full
    * (key → first-call wall median) seq sorted slowest-first; `cpuByKey` the
    * CPU medians; `countChanged` the keys whose counters differ from the
    * committed record. All caps applied here so no caller can regrow the
    * line. */
  def finalLine(
      total: Double, nQueries: Int, reps: Int, cpuTotal: Double,
      stealPctJson: String, contended: Boolean, countChanged: Seq[String],
      failed: Seq[String], excluded: Seq[String], slowOver60s: Seq[String],
      queriesBySlowest: Seq[(String, Double)],
      cpuByKey: Map[String, Double], sf: String): String = {
    val top = queriesBySlowest.take(LineTopN)
    val topCpu = top.map { case (k, _) => k -> cpuByKey.getOrElse(k, 0.0) }
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":$nQueries,""" +
      s""""reps":$reps,"stat":"first_call_median","cpu_total":${fmt(cpuTotal)},""" +
      s""""steal_pct_cpu":$stealPctJson,"contended":$contended,""" +
      s""""n_count_changed":${countChanged.size},""" +
      s""""count_changed":${arr(countChanged.sorted.take(CountChangedCap))},""" +
      s""""n_failed":${failed.size},"failed":${arr(failed.sorted.take(FailedCap))},""" +
      s""""n_excluded":${excluded.size},"excluded":${arr(excluded.sorted.take(ExcludedCap))},""" +
      s""""slow_over_60s":${arr(slowOver60s.take(SlowCap))},""" +
      s""""queries":${kv(top)},"queries_cpu":${kv(topCpu)},"sf":"$sf"}"""
  }
}
