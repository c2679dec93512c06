package graft

// scratch plan-dump main (test scope, not shipped): writes the
// explain("formatted") output of declared queries to <outDir>/<key>.txt so
// before/after plan evidence can be committed under plans/r17/. Usage:
//   graft.DevExplain <outDir> <sfDir> <key> [key...]
// The session is Bench's (Sessions.local), so the plans match what the
// bench runs at the same SPARK_GRAFT_CPUS.
object DevExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val dir = args(1)
    val keys = args.drop(2)
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$k.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/$k.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
