package graft

import org.apache.spark.sql.SparkSession

/** Builds every local session the repo starts (Bench, Verify, the spec
  * base), so the session policy lives in one place.
  *
  * Shuffle partitions equal the thread count: map-side partitioning, and
  * with it the shuffle records Bench counts, follows that width. The
  * session time zone is UTC so answers do not depend on the host clock
  * (`Tables.t` relies on it to cast TIMESTAMP_NTZ losslessly).
  */
object Sessions {

  /** Threads of a main's session, from `SPARK_GRAFT_CPUS`; also the `c<cpus>`
    * of Bench's counts namespace. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[threads, maxFailures]` session with `threads` shuffle
    * partitions; `maxFailures` 1 fails a job on its first task failure.
    * The warehouse is a scratch dir the JVM's exit hook removes. */
  def local(threads: Int = cpus, maxFailures: Int = 1): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads, $maxFailures]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Tables.scratchDir("wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
