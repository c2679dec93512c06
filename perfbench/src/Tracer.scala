package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrument, all of it outside the program: a
  * `SparkListener` and a `QueryExecutionListener` registered by the
  * benchmark attribute jobs, stages and tasks to spans the benchmark opens
  * around each call into a layer. The benchmark thread names the open span
  * in the `perfbench.span` local property, which Spark copies onto every job
  * the call submits. Spans live in memory and are written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val traceId = f"${System.nanoTime()}%x"
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, SqlRec]()
  private val sqlEnds = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val actions = new ConcurrentLinkedQueue[QueryExecution]()
  // adaptive execution's skew-split counters: accumulator id -> SQL execution, and values
  private val skewAccums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val driverAccums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobRec(e.jobId, e.time, prop(SpanProp).getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong), prop("spark.job.description").getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, SqlRec(s.time, s.description + "\n" + s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd => sqlEnds.put(s.executionId, s.time)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        def walk(p: SparkPlanInfo): Unit = {
          p.metrics.filter(_.name == SkewSplitsMetric).foreach(m => skewAccums.put(m.accumulatorId, u.executionId))
          p.children.foreach(walk)
        }
        walk(u.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) => driverAccums.put(id, v) }
      case _ =>
    }
  }
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.add(qe)
  }

  /** Start and stop recording: the listeners are registered only while an
    * operation is traced. */
  def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(qel) }
  def detach(): Unit = { sc.removeSparkListener(listener); spark.listenerManager.unregister(qel) }

  /** Open a span as a child of the innermost open one; jobs submitted from
    * this thread until `end()` carry its id. */
  def begin(name: String): Span = {
    val s = Span(spans.size, name, System.currentTimeMillis(), open.headOption.map(_.id))
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  def end(): Span = {
    val s = open.head
    s.endMs = System.currentTimeMillis()
    open = open.tail
    sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    s
  }

  def span[A](name: String)(body: => A): A = {
    begin(name)
    try body finally end(): Unit
  }

  /** Block until the listener bus has delivered every job and SQL execution
    * that has started, and `nActions` action callbacks. */
  def drain(nActions: Int): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def settled = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      sqlStarts.keySet.asScala.forall(sqlEnds.containsKey) && actions.size >= nActions
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def actionCount: Int = actions.size
  def lastAction: QueryExecution = actions.asScala.last

  private def jobsIn(s: Span): Seq[JobRec] = {
    val ids = descendants(s).map(_.id.toString).toSet
    jobs.asScala.toSeq.filter(j => ids(j.span))
  }
  private def descendants(s: Span): Seq[Span] =
    s +: spans.toSeq.filter(_.parent.contains(s.id)).flatMap(descendants)
  private def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.id).toSet
    tasks.asScala.toSeq.filter(t => ids(stageJob.getOrDefault(t.stageId, -1)))
  }

  /** Split one export span into the pipeline's stages by output path: a
    * stage ends with the last job whose description or plan names
    * `<lake>/<stage>`, and begins where the previous stage ended. Adds a
    * child span per stage and returns per-stage (wall, cpu) seconds. */
  def exportStages(root: Span, lakeDir: String, stages: Seq[String]): ExportSplit = {
    drain(0)
    val js = jobsIn(root)
    val pathRe = (java.util.regex.Pattern.quote(lakeDir) + "/(\\w+)").r
    def named(j: JobRec): Set[String] = {
      val text = j.description + j.sqlId.flatMap(id => Option(sqlStarts.get(id))).map(_.text).getOrElse("")
      pathRe.findAllMatchIn(text).map(_.group(1)).toSet
    }
    val stageEnd = stages.map { st =>
      st -> js.filter(j => named(j)(st)).map(j => jobEnds.get(j.id).longValue).maxOption
    }.collect { case (st, Some(e)) => st -> e }.sortBy(_._2)
    var start = root.startMs
    val perStage = stageEnd.map { case (st, endMs) =>
      val sp = Span(spans.size, s"pipeline.$st", start, Some(root.id))
      sp.endMs = endMs
      spans += sp
      val inStage = js.filter(j => j.startMs >= start && j.startMs <= endMs)
      start = endMs
      st -> ((endMs - sp.startMs) / 1e3, tasksOf(inStage).map(_.cpuNs).sum / 1e9)
    }
    // write executions: the SQL executions that name an output table
    val writes = js.flatMap(_.sqlId).distinct.filter { id =>
      Option(sqlStarts.get(id)).exists(r => r.text.contains("InsertIntoHadoopFsRelationCommand"))
    }
    val writeIdleS = writes.map { id =>
      val t0 = sqlStarts.get(id).startMs
      val t1 = Option(sqlEnds.get(id)).map(_.longValue).getOrElse(t0)
      val execTasks = tasksOf(js.filter(_.sqlId.contains(id)))
      (t1 - t0 - covered(execTasks.map(t => (t.launchMs max t0, t.finishMs min t1)))) / 1e3
    }.sum
    val skew = writes.flatMap { id =>
      tasksOf(js.filter(_.sqlId.contains(id))).groupBy(_.stageId).values
        .filter(_.size > 1).map { ts =>
          val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
          d.max / math.max(Stats.median(d), 1.0)
        }
    }.maxOption.getOrElse(1.0)
    val all = tasksOf(js)
    ExportSplit(perStage.toMap, (root.endMs - start) / 1e3, writeIdleS, skew,
      all.map(_.shuffleBytes).sum.toDouble, all.map(_.shuffleRecords).sum.toDouble,
      all.map(_.spillBytes).sum.toDouble)
  }

  /** Shuffle records written and bytes spilled by the tasks of a span's
    * jobs, its child spans' included. */
  def shuffleAndSpill(s: Span): (Double, Double) = {
    val ts = tasksOf(jobsIn(s))
    (ts.map(_.shuffleRecords).sum.toDouble, ts.map(_.spillBytes).sum.toDouble)
  }

  /** Skewed partitions that adaptive execution split in the SQL
    * executions of a span's jobs, its child spans' included. */
  def skewSplits(s: Span): Double = {
    val execs = jobsIn(s).flatMap(_.sqlId).toSet
    skewAccums.asScala.collect {
      case (id, exec) if execs(exec) => Option(driverAccums.get(id)).fold(0.0)(_.toDouble)
    }.sum
  }

  /** Drop the recorded events, so that the heap measured after the run holds
    * the program's data, not the tracer's. */
  def release(): Unit = {
    jobs.clear(); jobEnds.clear(); stageJob.clear(); tasks.clear()
    sqlStarts.clear(); sqlEnds.clear(); actions.clear(); skewAccums.clear(); driverAccums.clear()
  }

  /** Write every span as one JSON line: name, start, end, parent, trace id. */
  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f)
    try spans.foreach { s =>
      w.println(Json.obj(Seq("trace" -> Json.str(traceId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "parent" -> s.parent.map(_.toString).getOrElse("null"))))
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val SkewSplitsMetric = "number of skewed splits"

  final case class Span(id: Int, name: String, startMs: Long, parent: Option[Int]) {
    var endMs: Long = startMs
  }
  final case class JobRec(id: Int, startMs: Long, span: String, sqlId: Option[Long], description: String)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
                           shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long)
  final case class SqlRec(startMs: Long, text: String)
  final case class ExportSplit(stages: Map[String, (Double, Double)], gapS: Double,
                               writeIdleS: Double, writeSkew: Double, shuffleBytes: Double,
                               shuffleRecords: Double, spillBytes: Double)

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files, bytes and rows the executed plan's file scans read. */
  def scanCounts(qe: QueryExecution): (Double, Double, Double) = {
    val scans = Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
    (m("numFiles"), m("filesSize"), m("numOutputRows"))
  }

  /** Catalyst analysis + optimization + planning time of one action. */
  def catalystS(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
}
