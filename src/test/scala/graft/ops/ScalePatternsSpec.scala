package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

class ScalePatternsSpec extends SparkTestBase {

  test("salted two-phase aggregation equals the direct aggregation exactly") {
    val salted = ScalePatterns.aggSkewSalted(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val direct = graft.Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("s"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(salted.toSeq == direct.toSeq)
  }

  test("runtime bloom filter is injected into the pruned fact join") {
    val plan = ScalePatterns.bloomJoinPlan(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("bloom_filter_agg"),
      s"expected a bloom build over the selective side, got:\n$plan")
    assert(plan.contains("might_contain"),
      s"expected a might_contain probe at the fact scan, got:\n$plan")
    // superset filter + exact join ⇒ same rows as the unfiltered formulation
    val expected = graft.Tables.t(spark, sf, "lineitem")
      .join(graft.Tables.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(ScalePatterns.bloomJoinPlan(spark, sf).count() == expected)
  }

  test("dim-side year filter dynamically prunes the month-partitioned fact") {
    val df = ScalePatterns.dppJoinPlan(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery at the fact scan, got:\n$plan")
    // pruned result == statically filtered source (same data-derived year
    // as the operator, so the check can't go vacuous on regeneration)
    val orders = graft.Tables.t(spark, sf, "orders")
    val minYear = orders.agg(min(year(col("o_orderdate")))).head().getInt(0)
    val expected = orders.filter(year(col("o_orderdate")) === minYear).count()
    assert(expected > 0, "testdata has no orders at all — spec precondition")
    assert(df.count() == expected)
  }

  test("catalog-resolved scan prunes to one month partition via the metastore") {
    val df = ScalePatterns.scanCatalog(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // name-resolved: the scan identifies the catalog table, not a bare path
    assert(plan.contains("orders_by_month"),
      s"expected a catalog-table scan, got:\n$plan")
    // metastore partition pruning: the o_month predicate reached the
    // partition filters and the file index kept a single month directory
    assert(plan.contains("PartitionFilters") && plan.contains("o_month"),
      s"expected an o_month partition filter at the catalog scan, got:\n$plan")
    assert(plan.contains("(1 paths)"),
      s"expected the file index pruned to exactly 1 partition path, got:\n$plan")
    // answer == statically filtered source at the same data-derived month
    val orders = graft.Tables.t(spark, sf, "orders")
    val minMonth = orders
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM"))).head().getString(0)
    val expected = orders
      .filter(date_format(col("o_orderdate"), "yyyy-MM") === minMonth).count()
    assert(expected > 0, "testdata has no orders at all — spec precondition")
    assert(df.head().getLong(1) == expected)
  }

  test("z-order sink clusters files in both dimensions") {
    val back = Relational.sinkZorder(spark, sf)
    val src = graft.Tables.t(spark, sf, "orders")
    assert(back.count() == src.count())
    // per-file [min,max] spans: a z-ordered layout localizes BOTH columns;
    // a single-column sort would leave the other column's span ≈ global.
    // input_file_name() must be captured at the scan — `back` has an orderBy
    // (a shuffle) after which it evaluates to "", collapsing all rows into
    // one pseudo-file — so re-read the written files directly.
    val spans = spark.read.parquet(back.inputFiles: _*)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("o_custkey") - min("o_custkey")).as("cust_span"),
        (max("d") - min("d")).as("d_span"))
      .agg(avg("cust_span").as("avg_cust"), avg("d_span").as("avg_d"))
      .head()
    val Seq(globalCust, globalD) = {
      val r = back.agg(
        (max("o_custkey") - min("o_custkey")).cast("double"),
        (max("d") - min("d")).cast("double")).head()
      Seq(r.getDouble(0), r.getDouble(1))
    }
    assert(spans.getDouble(0) < 0.75 * globalCust,
      s"customer span per file ${spans.getDouble(0)} not clustered vs global $globalCust")
    assert(spans.getDouble(1) < 0.75 * globalD,
      s"day span per file ${spans.getDouble(1)} not clustered vs global $globalD")
  }

  test("AQE splits the skewed join partition at runtime, result unchanged") {
    val df = ScalePatterns.skewJoinPlan(spark, sf)
    // collect() executes THIS DataFrame's queryExecution (count() would
    // build a separate one and leave this plan isFinalPlan=false)
    val nRows = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected OptimizeSkewedJoin to mark the hot partition, got:\n$plan")
    // plan repair must not change results: compare against the plain join
    // on the default session (no threshold overrides)
    val expected = graft.Tables.t(spark, sf, "lineitem")
      .withColumn("skew_key",
        when(pmod(col("l_orderkey"), lit(10)) === 0, col("l_orderkey")).otherwise(lit(0L)))
      .join(graft.Tables.t(spark, sf, "orders"), col("skew_key") === col("o_orderkey"))
      .count()
    assert(nRows == expected)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val join = ScalePatterns.bucketedJoinPlan(spark, sf)
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected merge join, got:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans, got:\n$plan")
    // and it still returns the right row count (every order has a customer)
    assert(join.count() == graft.Tables.t(spark, sf, "orders").count())
  }

  test("sink_catalog_table: dynamic overwrite replaced exactly the re-exported partition") {
    val tbl = ScalePatterns.ensureCatalogSink(spark, sf)
    // partitioned managed table with one partition per returnflag
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).sorted
    assert(parts.length == 3 && parts.forall(_.startsWith("l_returnflag=")), parts.mkString(","))
    // per-flag row counts equal the source (the re-export replaced, never appended)
    val src = graft.Tables.t(spark, sf, "lineitem")
    val wantCounts = src.groupBy("l_returnflag").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val gotCounts = spark.table(tbl).groupBy("l_returnflag").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotCounts == wantCounts)
    // R quantities doubled, others byte-identical to the first write
    val sums = spark.table(tbl).groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("qty").as("s")).collect()
      .map(r => (r.getString(0), r.getDecimal(1))).toMap
    val base = src.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum(
        col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("s"))
      .collect().map(r => (r.getString(0), r.getDecimal(1))).toMap
    base.foreach { case (flag, b) =>
      val factor = if (flag == "R") 2 else 1
      assert(sums(flag).compareTo(b.multiply(java.math.BigDecimal.valueOf(factor.toLong))) == 0,
        s"flag $flag: got ${sums(flag)} want ${b} x$factor")
    }
    // catalog partition pruning: filtering one flag reads a strict subset of files
    val all = spark.table(tbl).inputFiles.length
    val one = spark.table(tbl).filter(col("l_returnflag") === "N").inputFiles.length
    assert(one > 0 && one < all, s"pruning: $one of $all files")
  }

  test("firConvolve: boundary-exchange FIR equals the sequential reference, incl. partitions shorter than the horizon") {
    import spark.implicits._
    // 16-tap horizon over 8 range partitions of ~5 rows each: every
    // partition is SHORTER than the filter, so each carry must chain
    // across several predecessors — the stitch logic's hard case
    val n = 41
    val xs = Array.tabulate(n)(i => ((i * 37 + 11) % 97).toLong)
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize((0 until n).map(i => org.apache.spark.sql.Row(i.toLong, xs(i))), 8),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType, nullable = false))))
    val weights = Array.tabulate(16)(k => 1L << (15 - k))
    val got = WindowConv.firConvolve(spark, df, Seq("seq"), "x", weights, "y")
      .orderBy("seq").collect().map(r => (r.getLong(0), r.getLong(2)))
    val want = (0 until n).map { t =>
      (t.toLong, (0 until math.min(16, t + 1)).map(k => weights(k) * xs(t - k)).sum)
    }
    assert(got.toSeq == want, s"first diff: ${got.toSeq.zip(want).find(p => p._1 != p._2)}")

    // win_ewma's physical plan carries no Window and no single-partition
    // exchange — the global-order trap the operator exists to remove
    val plan = Aggregates.winEwma(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
  }

  test("star-contraction components converge on a diameter-4096 chain (the graph class that breaks label propagation)") {
    // Probe #21: multimodal near-dup components are long hamming CHAINS,
    // and min-label propagation pays one full edge-list round per diameter
    // step (measured: 40 rounds at sf0.1, ceiling-grazing at 10x). This
    // pins the property the fix rests on: the large-small-star closure
    // resolves a maximal-diameter path in its internal O(log^2 n) round
    // bound (its require(rounds < 40) throws otherwise — label propagation
    // would need 4,096 rounds here), with every node labeled by the
    // component min. Guards against the cluster keys silently reverting
    // to the diameter-bound algorithm.
    val sess = spark
    import sess.implicits._
    val n = 4096L
    val nodes = sess.range(0, n).select(col("id").as("doc_id"))
    val edges = sess.range(0, n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val cc = graft.llm.Dedup.connectedComponentsLogStar(sess, nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == n)
    assert(cc.forall(_._2 == 0L), "chain must resolve to one component rooted at 0")
  }
}
