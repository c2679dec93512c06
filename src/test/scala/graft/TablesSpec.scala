package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins [[Tables.t]]: its footer-read schema is the one Spark's inference
  * gives, and building the frame submits no job. */
class TablesSpec extends SparkTestBase {

  // the three corpora that sit next to the suite's own
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"${new java.io.File(sf).getParent}/$d")

  /** Every testdata table, and two tables that a Spark write made as
    * directories of three part files each, as the specs' corpora are. */
  private lazy val tables: Seq[(String, String)] = {
    val written = Tables.scratchDir("tables_written")
    Seq("orders", "documents").foreach { name =>
      inferred(sf, name).repartition(3).write.parquet(s"$written/$name.parquet")
    }
    sfDirs.flatMap(dir => Tables.testTables.map(dir -> _)) ++
      Seq(written -> "orders", written -> "documents")
  }

  /** The frame as inference builds it: the footer read by a Spark job, then
    * the same events.ts handling as [[Tables.t]]. */
  private def inferred(dir: String, name: String) = {
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  test("every table's footer schema equals its inferred schema, metadata included") {
    for ((dir, name) <- tables) {
      val want = inferred(dir, name).schema
      val got = Tables.t(spark, dir, name).schema
      assert(got == want, s"$dir/$name")
      assert(got.fields.map(_.metadata) sameElements want.fields.map(_.metadata), s"$dir/$name")
    }
  }

  test("building a table's frame submits no Spark job") {
    tables // written before the listener counts
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((dir, name) <- tables) {
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        val before = jobs.get
        Tables.t(spark, dir, name)
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        assert(jobs.get == before, s"$dir/$name submitted ${jobs.get - before} job(s)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
