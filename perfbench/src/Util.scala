package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  /** Full precision; JSON has no NaN or infinity. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** CPU of one call: the calling thread's CPU plus the executor CPU of every
  * Spark task that ended meanwhile, from a listener. Process CPU would also
  * count JIT compiler and GC threads, whose work follows class loading, not
  * the call. */
final class CpuMeter(sc: SparkContext) {
  private val taskNs = new AtomicLong()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskNs.addAndGet(e.taskMetrics.executorCpuTime): Unit
  })
  private val threads = ManagementFactory.getThreadMXBean

  /** Wait until every job whose start the listener has seen has ended. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (started.get != ended.get && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** (result, wall seconds, CPU seconds) of `body`. */
  def timed[A](body: => A): (A, Double, Double) = {
    settle()
    val c0 = threads.getCurrentThreadCpuTime + taskNs.get
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    settle()
    (a, wall, (threads.getCurrentThreadCpuTime + taskNs.get - c0) / 1e9)
  }
}

/** Host contention stamp from /proc: steal share of CPU time and load. */
final case class HostStamp(steal: Long, total: Long, load1: Double)

object HostStamp {
  def read(): HostStamp = {
    def slurp(p: String) = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))).getOrElse("")
    val cpu = slurp("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    val load = scala.util.Try(slurp("/proc/loadavg").split(" ")(0).toDouble).getOrElse(Double.NaN)
    HostStamp(if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, load)
  }
  def stealPct(a: HostStamp, b: HostStamp): Double =
    if (b.total == a.total) 0.0 else 100.0 * (b.steal - a.steal) / (b.total - a.total)
}

/** Heap in use after a full collection: the live set the run retains. The
  * second collection takes what Spark's ContextCleaner released once the
  * first had cleared the weak references it watches. Between runs it reads
  * one of two values about 16 MB apart (G1 and Parallel GC alike), so it is
  * a per-layer figure, not a bounded one. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
