package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

// scratch profiling main (test scope, not shipped): runs one declared query
// with a stage-completion listener and prints per-stage executor CPU / run
// time so a key's CPU total can be attributed to specific stages.
//   graft.DevStageCpu <sfDir> <key> [reps]
object DevStageCpu {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val key = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local()
    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Int)]()
    var shuffleWrite = 0L
    var shuffleRecords = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.taskMetrics.executorCpuTime / 1000000L,
          si.taskMetrics.executorRunTime, si.numTasks))
        shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        shuffleRecords += si.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
    })
    var lastDf: org.apache.spark.sql.DataFrame = null
    (1 to reps).foreach { r =>
      stages.clear(); shuffleWrite = 0L; shuffleRecords = 0L
      val t0 = System.nanoTime()
      lastDf = SparkEntry.queries(key)(spark, dir)
      lastDf.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let stage-completed events drain to the listener
      println(f"=== pass $r wall=$wall%.3f s cpuSum=${stages.map(_._3).sum / 1000.0}%.3f s " +
        f"shuffleWrite=${shuffleWrite / 1048576.0}%.2f MiB ($shuffleRecords%d records) ===")
      stages.sortBy(-_._3).take(25).foreach { case (id, name, cpuMs, runMs, nt) =>
        println(f"stage $id%4d cpu=${cpuMs / 1000.0}%7.3f run=${runMs / 1000.0}%7.3f tasks=$nt%4d  $name")
      }
    }
    if (args.contains("--metrics") || sys.env.contains("DEV_METRICS")) {
      def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
        val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }.mkString(", ")
        println(("  " * depth) + p.nodeName + (if (m.nonEmpty) s"  [$m]" else ""))
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, depth + 1)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, depth + 1)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            walk(r.child, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      walk(lastDf.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
