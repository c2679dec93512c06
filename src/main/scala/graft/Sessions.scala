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

  // parent -> (confs -> child); weak on the parent, so a dropped parent
  // takes its children with it
  private val children =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[Map[String, String], SparkSession]]()

  /** The child session of `parent` that carries `confs`, built on the first
    * call for this (parent, confs) and returned on every later one. A child
    * shares the parent's SparkContext and cache and has its own SQL conf, so
    * a plan that needs other thresholds runs there without touching the
    * parent's conf. Reuse matters because each session's tasks run under
    * their own executor class loader, and Spark's compiled-code cache is
    * keyed by loader: a fresh child per call recompiles every generated
    * class of its plan. The child holds no data and no plan of its own,
    * only its session state and its file-status cache. */
  def child(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val key = confs.toMap
    children.synchronized {
      children.computeIfAbsent(parent, _ => new java.util.HashMap())
        .computeIfAbsent(key, _ => {
          val s = parent.newSession()
          key.foreach { case (k, v) => s.conf.set(k, v) }
          s
        })
    }
  }
}
