package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes suites reuse it; keeps sbt test fast). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf: String = "/root/testdata/sf0.001"

  /** The `SparkEntry.queries` frame of `key` on [[sf]], built once per JVM
    * and shared by every suite. Operators keep no state across calls, so a
    * spec that only reads a key's plan or rows takes this fixture instead
    * of re-running the key's eager work; a spec that checks a fresh call
    * (determinism, staging) calls the operator itself. */
  def built(key: String): DataFrame = SparkTestBase.built(key, sf)
}

object SparkTestBase {
  // local[4, 2]: 4 threads, maxFailures=2 — one task retry, so specs can
  // exercise executor-side fault recovery (the flaky-fetch BlockRange
  // spec); plain local[4] fails the job on the first task failure.
  lazy val session: SparkSession = Sessions.local(threads = 4, maxFailures = 2)

  private val builtFrames = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  def built(key: String, sf: String): DataFrame =
    builtFrames.computeIfAbsent((key, sf), _ => SparkEntry.queries(key)(session, sf))
}
