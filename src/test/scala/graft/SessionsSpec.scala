package graft

/** Pins the policy [[Sessions.local]] gives the shared test session. */
class SessionsSpec extends SparkTestBase {

  test("the shared session runs in UTC on 4 shuffle partitions with the UI off") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4, 2]")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the shared session's warehouse is a scratch dir the exit hook reaps") {
    val wh = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(Tables.scratchDirs.contains(wh), s"$wh is not a registered scratch dir")
  }

  test("a child session is built once per parent and conf set") {
    val a = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "3")
    assert(a eq Sessions.child(spark, "spark.sql.shuffle.partitions" -> "3"))
    assert(!(a eq spark))
    assert(a.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val b = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "2")
    assert(!(b eq a) && b.conf.get("spark.sql.shuffle.partitions") == "2")
  }

  test("the operators that plan on a child session reuse one child per conf set") {
    def childOf(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) = {
      val s = fn(spark, sf).sparkSession
      assert(s eq fn(spark, sf).sparkSession)
      assert(!(s eq spark))
      s
    }
    val bloom = childOf(ops.ScalePatterns.joinBloomPruned)
    assert(bloom.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(bloom.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold") == "0")
    val skew = childOf(ops.ScalePatterns.joinSkewAqe)
    assert(!(skew eq bloom))
    assert(skew.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor") == "2")
    // sf0.001 takes tokenBudgetGate's narrow path: a child at width 1
    val narrow = childOf(streaming.StreamOps.tokenBudgetGate)
    assert(narrow.conf.get("spark.sql.shuffle.partitions") == "1")
  }
}
