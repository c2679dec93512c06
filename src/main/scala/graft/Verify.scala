package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), keyFilter) = args.splitAt(2)
    val selected =
      if (keyFilter.isEmpty) SparkEntry.queries
      else {
        val unknown = keyFilter.filterNot(SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(keyFilter.toSet).toMap
      }
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try graft.etl.EtlOps.overwrite(fn(spark, sfDir).coalesce(1)).parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every string JSON-escaped, control chars included: a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load fail
    // and silently zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${BenchReport.quote(k)}: ${BenchReport.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
