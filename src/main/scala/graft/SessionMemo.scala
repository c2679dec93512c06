package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoization for operator intermediates that are rebuilt
  * identically on every invocation: cached DataFrames reused within one
  * operator (both sides of a self-join) and across repeat calls
  * (Verify/Bench/tests), and staged on-disk index directories.
  *
  * Weak-keyed on the live SparkSession — NOT identityHashCode, which can
  * collide across distinct sessions and would then serve a DataFrame bound
  * to the wrong (possibly stopped) SparkContext — so when a session becomes
  * unreachable its entries, and the cached blocks they pin, are
  * GC-reclaimable instead of living for the rest of the JVM.
  */
object SessionMemo {
  private def weakMap[V]() = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, V]]())
  private val frames = weakMap[DataFrame]()
  private val dirs = weakMap[String]()
  private val scalars = weakMap[AnyRef]()

  private def per[V](m: java.util.Map[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, V]], spark: SparkSession) =
    m.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, V]())

  /** One `.cache()`d materialization per (session, tag); repeat calls reuse
    * it instead of stacking redundant cached copies in executor memory.
    *
    * NOT computeIfAbsent: a memoized build may itself reference another
    * memoized frame (the dedup operators share shingle/signature frames),
    * and a nested computeIfAbsent on the same ConcurrentHashMap violates
    * its contract — same-bin recursion throws "Recursive update" or
    * deadlocks on a resize. get → build outside the map → putIfAbsent is
    * reentrant. A lost putIfAbsent race is left as-is: Spark's CacheManager
    * keys cached entries by logical-plan equality, so the loser's cache()
    * of an identical plan is a no-op (no redundant copy exists to free) and
    * an unpersist() here would evict the WINNER's entry too.
    *
    * The cache is loaded before it is returned. A join over a cache still
    * being built is sized from the plan estimate, over a loaded one by its
    * real size, and which of the two AQE sees when it re-plans depends on
    * task timing — so planning over an unloaded cache makes the plan
    * (broadcast or shuffle), and with it the exchange and shuffle-record
    * counts Bench checks, vary from run to run. AQE builds every cached
    * partition either way, so loading first adds no build work. */
  def cache(spark: SparkSession, tag: String)(build: => DataFrame): DataFrame = {
    val m = per(frames, spark)
    val existing = m.get(tag)
    if (existing != null) existing
    else {
      val built = build.cache()
      built.count(): Unit
      val prev = m.putIfAbsent(tag, built)
      if (prev != null) prev else built
    }
  }

  /** One staged directory (persisted index / written artifact) per
    * (session, tag); the dirs themselves are reaped by Tables.scratchDir's
    * exit hook (a lost putIfAbsent race leaves only an extra dir for the
    * hook to reap). Reentrant for the same reason as [[cache]]. */
  def dir(spark: SparkSession, tag: String)(build: => String): String = {
    val m = per(dirs, spark)
    val existing = m.get(tag)
    if (existing != null) existing
    else {
      val built = build
      val prev = m.putIfAbsent(tag, built)
      if (prev != null) prev else built
    }
  }

  /** One computed scalar (a count, a probed threshold) per (session, tag).
    * Some operators run an eager bounded Spark job at plan-construction time
    * (the decontaminate broadcast-size probe): the FRAME was memoized but
    * the probe job re-ran on every invocation — once standalone and again
    * inside `llm_corpus_pipeline`. Memoizing the scalar drops the repeat
    * jobs and keeps construction lazy after first touch. Reentrant like
    * [[cache]]. */
  def scalar[T](spark: SparkSession, tag: String)(build: => T): T = {
    val m = per(scalars, spark)
    val existing = m.get(tag)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build.asInstanceOf[AnyRef]
      val prev = m.putIfAbsent(tag, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Drop this session's memoized frames (unpersisting their cached blocks)
    * and directory registrations. Bench calls this before every measured
    * call so each one pays the operator's true first-touch cost instead of
    * a warm cache hit. */
  def clear(spark: SparkSession): Unit = {
    val m = frames.remove(spark)
    if (m != null)
      m.values.forEach(df => try df.unpersist() catch { case _: Throwable => () })
    dirs.remove(spark): Unit
    scalars.remove(spark): Unit
  }
}
