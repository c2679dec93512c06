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
}
