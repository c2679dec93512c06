package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Pins [[Dedup.healScanStarvation]]'s byte-floored gate (r15 verdict):
  * a starved-looking scan is only repartitioned when its LEAF bytes keep
  * every healed task above ~4 MB — so a tiny single-file table keeps its
  * one-task map-only plan, while a dense single-file input wide enough to
  * matter fans out to ceil(bytes/4MB) capped at the shuffle width. */
class HealSpec extends SparkTestBase {

  test("heal is a no-op on a tiny single-file scan (byte floor)") {
    val dir = Tables.scratchDir("heal_tiny")
    spark.range(500)
      .select(col("id").as("doc_id"), md5(col("id").cast("string")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.rdd.getNumPartitions === 1) // precondition: starved-looking
    val healed = Dedup.healScanStarvation(df, col("doc_id"))
    assert(healed.rdd.getNumPartitions === 1,
      "584-KB-class scans must keep their map-only plan")
    assert(healed.queryExecution.optimizedPlan.canonicalized ===
      df.queryExecution.optimizedPlan.canonicalized,
      "no-op branch must not rewrite the plan at all")
  }

  test("heal fans a dense single-file scan out to ceil(bytes/4MB), capped at width") {
    val dir = Tables.scratchDir("heal_dense")
    // ~90 MB raw of incompressible hex (sha512 of distinct ids) in ONE file:
    // parquet can't squeeze it under the 8 MB needed to clear the floor.
    spark.range(150000)
      .select(col("id").as("doc_id"),
        concat((1 to 3).map(s => sha2(concat(col("id").cast("string"), lit(s)), 512)): _*)
          .as("text"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // reproduce the probe-corpus condition (one planned task for the whole
    // file — there it was a single pyarrow row group): pin the split floor
    // so the scan plans 1 partition despite the bytes
    val saveMin = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions === 1)
      val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      assert(leafBytes > BigInt(8L << 20), s"fixture too small: $leafBytes")
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt // 4 in tests
      val expect = ((leafBytes + (4L << 20) - 1) / (4L << 20)).min(BigInt(width)).toInt
      assert(expect > 1)
      val healed = Dedup.healScanStarvation(df, col("doc_id"))
      assert(healed.rdd.getNumPartitions === expect)
    } finally {
      saveMin match {
        case Some(v) => spark.conf.set("spark.sql.files.minPartitionNum", v)
        case None => spark.conf.unset("spark.sql.files.minPartitionNum")
      }
    }
  }

  test("heal fires even when planned count already equals the byte target (row-group skew insurance)") {
    // A single-ROW-GROUP file plans ceil(bytes/split) tasks but delivers
    // every row to one of them (the r16 100x catch: planned 15, ran at
    // parallelism 1). The gate cannot see row-group layout driver-side,
    // so byBytes >= planned must still repartition — pin that the heal
    // fires when the scan PLANS exactly the byte-derived width.
    val dir = Tables.scratchDir("heal_skew")
    spark.range(150000)
      .select(col("id").as("doc_id"),
        concat((1 to 3).map(s => sha2(concat(col("id").cast("string"), lit(s)), 512)): _*)
          .as("text"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df0 = spark.read.parquet(dir)
    val leafBytes = df0.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    // a wide session (the bench's 32) so a ~dozen-partition scan still
    // reads as starved; restored below
    val saveW = spark.conf.get("spark.sql.shuffle.partitions")
    val saveMax = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val saveMin = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val target = ((leafBytes + (4L << 20) - 1) / (4L << 20)).min(BigInt(32)).toInt
    assert(target >= 2 && target * 2 < 32, s"fixture sized wrong: target=$target")
    // make the scan plan EXACTLY `target` partitions
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      ((leafBytes.toLong + target - 1) / target + (1L << 16)).toString)
    try {
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions === target, "fixture must plan exactly target")
      val healed = Dedup.healScanStarvation(df, col("doc_id"))
      assert(healed.queryExecution.optimizedPlan.canonicalized !=
        df.queryExecution.optimizedPlan.canonicalized,
        "planned == byte target must still repartition (row-group skew)")
      assert(healed.rdd.getNumPartitions === target)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saveW)
      Seq(("spark.sql.files.maxPartitionBytes", saveMax),
        ("spark.sql.files.minPartitionNum", saveMin)).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
