package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t
import graft.etl.EtlOps

/** The relational surface of SURVEY.md §2.2 — scans, predicates, joins.
  * Every function is a complete query over the driver testdata keyed by a
  * `SparkEntry.queries` name and hash-checked against a DuckDB oracle.
  *
  * Scale notes are inline per operator: the sf0.01 oracle checks correctness;
  * the plan shape (broadcast vs shuffle, pushdown, single-shuffle windows)
  * is what carries to 100 TB.
  */
object Relational {

  /** A fresh staging dir for the write-then-read operators, written by
    * `write` on every call; scratchDir's exit hook reaps it. */
  private[ops] def staged(tag: String)(write: String => Unit): String = {
    val dir = graft.Tables.scratchDir(tag)
    write(dir)
    dir
  }

  // --- scans -----------------------------------------------------------------

  /** `scan_parquet` — columnar scan, pruned to 4 of 11 columns. At scale this
    * is the difference between reading 4 column chunks and the whole table;
    * `.explain` shows ReadSchema with only these fields. */
  def scanParquet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** `scan_csv_schema` — the reference's ingest format (headered CSV with a
    * pinned schema, config.py:37): round-trip nation through CSV with an
    * explicit StructType (no schema inference pass — one read, not two). */
  def scanCsvSchema(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("csv") { p =>
      t(spark, dir, "nation").write.mode("overwrite").option("header", "true").csv(p)
    }
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    spark.read.schema(schema).option("header", "true").csv(tmp)
      .orderBy("n_nationkey")
  }

  /** `scan_partition_pruned` — write orders Hive-partitioned by status, read
    * back with a partition predicate. Catalyst's PruneFileSourcePartitions
    * drops non-matching directories before any IO — the same mechanism the
    * reference's start_block=/end_block= layout enables for consumers. */
  def scanPartitionPruned(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("part") { p =>
      t(spark, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(p)
    }
    spark.read.parquet(tmp)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** `scan_rowgroup_pruned` — statistics-based row-group skipping, the
    * pruning layer BELOW partition pruning: lineitem re-staged SORTED by
    * `l_orderkey` (so each parquet row group's min/max stats span a narrow
    * key range — the physical precondition; an unsorted write interleaves
    * the full range into every group and stats prune nothing), then a
    * selective key-range filter reads back. Correctness is the trivial
    * filter; the operator's substance is the plan+metrics evidence the
    * spec pins: the predicate reaches the scan as `PushedFilters`, and the
    * scan's `numOutputRows` metric shows row groups outside the range were
    * never materialized. At 100 TB this is the difference between reading
    * one row group and reading every file the partition layer admits —
    * sort-on-write (or Z-order, `sink_zorder`) is what makes min/max
    * footers selective. */
  def scanRowgroupPruned(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("rgsort") { p =>
      t(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .repartition(1) // one file, many row groups: isolates stat skipping from file pruning
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 24 * 1024) // small groups so even sf0.001 has several
        .parquet(p)
    }
    spark.read.parquet(tmp)
      .filter(col("l_orderkey") <= 100)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast(DecimalType(18, 2)))
        .cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** `join_lateral` — LATERAL correlated subquery in FROM: per customer, a
    * one-row aggregate over their orders. The interesting part is the plan:
    * Catalyst DECORRELATES the lateral (RewriteCorrelatedScalarSubquery /
    * DecorrelateInnerQuery) into one global orders aggregation joined back
    * on the key — per-row re-execution never happens, so the operator costs
    * two shuffles total at any scale, not |customer| subqueries.
    *
    * Temp view names are operator-scoped: session-global names like
    * `customer_v` would be a silent cross-operator collision hazard if any
    * other operator registered the same name over different contents. */
  def joinLateral(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("join_lateral_customer_v")
    t(spark, dir, "orders").createOrReplaceTempView("join_lateral_orders_v")
    spark.sql(
      """SELECT c.c_custkey, l.n_orders, l.last_date
        |FROM join_lateral_customer_v c,
        |LATERAL (SELECT count(o.o_orderkey) AS n_orders, max(o.o_orderdate) AS last_date
        |         FROM join_lateral_orders_v o WHERE o.o_custkey = c.c_custkey) l
        |ORDER BY c.c_custkey""".stripMargin)
  }

  // --- projection / predicates ----------------------------------------------

  /** `project_column` — A5's single-column extraction (config.py:40,46,56). */
  def projectColumn(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select("l_orderkey").orderBy("l_orderkey")

  /** `project_expr` — computed columns + aliasing (A7 generalization). */
  def projectExpr(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 2).cast(DecimalType(38, 2)).as("double_price"),
      upper(col("o_orderstatus")).as("status_u"),
      year(col("o_orderdate")).cast(IntegerType).as("order_year"))
      .orderBy("o_orderkey")

  /** `filter_predicate` — conjunction/disjunction + null-safe equality;
    * the whole predicate pushes to the parquet row-group level. */
  def filterPredicate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter((col("value") > 100 && col("event_type") === "purchase")
        || col("event_type") <=> "error")
      .select("event_id", "event_type", "value")
      .orderBy("event_id")

  /** `filter_in_set` — small-set membership (A11's key-file pattern). */
  def filterInSet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")

  /** `distinct_sorted` — A6's `sort | uniq` (config.py:56): hash-based
    * dedup (partial aggregation map-side, one shuffle) then order. */
  def distinctSorted(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select("l_suppkey").distinct().orderBy("l_suppkey")

  // --- joins -----------------------------------------------------------------

  /** `join_inner_hash` — fact⋈fact equi-join (transactions→blocks analogue:
    * lineitem→orders on orderkey). Both sides shuffle on the join key; the
    * aggregate after it reuses the exchange. At 100 TB this is the canonical
    * sort-merge join; AQE converts to broadcast if one side turns out small. */
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** `join_broadcast` — fact⋈small-dim⋈small-dim with explicit broadcast
    * hints: zero shuffle for the join itself (dims ship to every executor);
    * the only exchange is the final group-by. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_bal"))
      .orderBy("r_name")

  /** `join_left_outer` — keep customers with zero orders (count(col) skips
    * nulls so they report 0). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** `join_left_semi` — A11's staged dependency as a query: customers having
    * a big order. Semi-join never duplicates the left side (vs inner+distinct). */
  def joinLeftSemi(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    t(spark, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** `join_left_anti` — customers with no order in the corpus's LATEST month
    * (NOT EXISTS). The excluded set is data-derived (max of the month key)
    * rather than a fixed predicate: the original "customers with no orders at
    * all" phrasing went vacuous when a testdata regeneration gave every
    * customer at least one order, and a 0-row anti-join hash-matches its
    * oracle without exercising the anti path at all (r10 verdict item 2).
    * With ~10 orders per customer spread over ~84 months, "no order in any
    * single month" holds for ~88% of customers under any regeneration, so
    * the key stays non-empty by construction. The 1-row max-month aggregate
    * is broadcast into the filter — no scalar collect, no extra shuffle. */
  def joinLeftAnti(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM").as("m"))
    val latest = o.agg(max(col("m")).as("mm"))
    val latestMonthOrders = o.join(broadcast(latest), col("m") === col("mm"))
    t(spark, dir, "customer")
      .join(latestMonthOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** `join_range_theta` — non-equi containment join (the reference's
    * `number BETWEEN start_block AND end_block` semantics, config.py:10-14):
    * orders priced into fixed bands.
    *
    * r15: rewritten from the naive broadcast theta join (a
    * BroadcastNestedLoopJoin — one predicate evaluation per (order, band)
    * pair, the shape this key held a lint-allowlist entry for since r13)
    * to the bucketed EQUI-join + residual recipe its scale twin
    * `join_interval_bucketed` documents: each band explodes to the
    * fixed-width grid buckets it covers (bands here are grid-aligned so
    * that's 1 row each; arbitrary bands would explode to O(span/bucket)
    * rows, still bounded), each order projects to its one bucket, and the
    * join is a broadcast HASH join on bucket_id with the exact containment
    * predicate as a residual. Same answer (the oracle is still the naive
    * non-equi SQL), hash-join plan — predicate evaluations drop from
    * |orders|·|bands| to |orders|·(matches + residual misses in the same
    * bucket). */
  def joinRangeTheta(spark: SparkSession, dir: String): DataFrame = {
    val W = 50000L // bucket grid width (== the demo band width)
    val bands = spark.range(0, 20).select(
        col("id").as("band_id"),
        (col("id") * W).cast(DoubleType).as("lo"),
        ((col("id") + 1) * W).cast(DoubleType).as("hi"))
      // integer bucket span of [lo, hi): hi is exclusive, so its last
      // covered bucket is (hi - 1) / W in exact integer arithmetic
      .withColumn("b_bucket", explode(sequence(
        (col("lo").cast(LongType) / W).cast(LongType),
        ((col("hi").cast(LongType) - 1) / W).cast(LongType))))
    t(spark, dir, "orders")
      .withColumn("bucket", (col("o_totalprice") / W).cast(LongType))
      .join(broadcast(bands),
        col("bucket") === col("b_bucket") &&
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"))
      .orderBy("band_id")
  }

  /** `join_interval_bucketed` — interval-overlap join at scale: which events
    * fall inside the 3-day window after a signup event of the same user?
    * The doc'd scale move from `join_range_theta` made concrete: instead of
    * a theta join (quadratic) each interval EXPLODES to the day buckets it
    * covers (4 rows — bounded by window/bucket) and each point maps to its
    * one bucket, so the join is a plain shuffled EQUI-join on (user, day)
    * with the exact range predicate as a residual filter. One event
    * day-bucket meets one interval row per covered day, so no pair
    * deduplication is needed. The oracle is the naive non-equi formulation —
    * result equality is the point. */
  def joinIntervalBucketed(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000
    val winDays = 3
    val intervals = t(spark, dir, "events")
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("i_user"), unix_micros(col("ts")).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(winDays * dayUs))
      .withColumn("day", explode(sequence(
        (col("start_us") / dayUs).cast(LongType),
        ((col("end_us") - 1) / dayUs).cast(LongType))))
    val points = t(spark, dir, "events")
      .filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("day", (col("us") / dayUs).cast(LongType))
    points.join(intervals,
        points("user_id") === intervals("i_user") &&
          points("day") === intervals("day") &&
          points("us") >= intervals("start_us") && points("us") < intervals("end_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_events_covered"))
      .orderBy("user_id")
  }

  /** `join_asof` — latest order date at-or-before each event, per user.
    * Spark has no native as-of join; the scalable formulation is
    * union-both-sides + a single partitioned window (one shuffle on the key,
    * no row explosion) rather than a theta-join (quadratic) or per-row
    * subquery (driver loop). Orders sort before events at equal timestamps
    * (is_event tiebreak) to get <= semantics. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events").select(
      col("user_id").as("k"), col("ts").as("tm"),
      lit(1).as("is_event"), col("event_id"),
      lit(null).cast(TimestampType).as("payload"))
    val orders = t(spark, dir, "orders").select(
      col("o_custkey").as("k"), col("o_orderdate").as("tm"),
      lit(0).as("is_event"), lit(null).cast(LongType).as("event_id"),
      col("o_orderdate").as("payload"))
    val w = Window.partitionBy("k").orderBy(col("tm"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.unionByName(orders)
      .withColumn("asof_date", last(col("payload"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("asof_date"))
      .orderBy("event_id")
  }

  /** `source_blockrange` — the custom DataSourceV2 source end-to-end: 100k
    * synthetic blocks in 10k-block input partitions (A3's unit of
    * parallelism), aggregated per miner. The `number >= 20000` predicate
    * prunes the first two partitions before any read. */
  def sourceBlockRange(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.BlockRangeSource")
      .option("start", 0L).option("end", 99999L).option("batchSize", 10000L)
      .load()
      .filter(col("number") >= 20000L)
      .groupBy("miner")
      .agg(count(lit(1)).as("n"),
        sum("gas_used").as("sum_gas"),
        sum("difficulty").cast(DecimalType(38, 0)).as("sum_difficulty"))
      .orderBy("miner")

  /** `source_blockrange_stream` — the same extraction through the source's
    * MICRO-BATCH path: `readStream` follows the simulated chain head
    * (blocksPerTrigger blocks admitted per trigger, offsets = block
    * numbers durable in the checkpoint), lands each microbatch in a
    * parquet sink, and the aggregation runs over the committed sink. The
    * stream runs once per call, into a fresh scratch dir; the oracle is the
    * SAME deterministic-content SQL as the batch `source_blockrange`, i.e.
    * the check asserts stream ≡ batch. */
  def sourceBlockRangeStream(spark: SparkSession, dir: String): DataFrame = {
    val sink = {
      val root = graft.Tables.scratchDir("brs_stream")
      val q = spark.readStream.format("graft.sources.BlockRangeSource")
        .option("start", 0L).option("end", 99999L)
        .option("batchSize", 10000L).option("blocksPerTrigger", 25000L)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        // NOT AvailableNow: that snapshots latestOffset() ONCE, which for a
        // chain-following head admits a single blocksPerTrigger advance and
        // stops at block 24999. processAllAvailable drains trigger by
        // trigger until the head reaches `end` and stabilizes.
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try q.processAllAvailable() finally q.stop()
      s"$root/sink"
    }
    spark.read.schema(graft.sources.BlockRangeSource.schema).parquet(sink)
      .filter(col("number") >= 20000L)
      .groupBy("miner")
      .agg(count(lit(1)).as("n"),
        sum("gas_used").as("sum_gas"),
        sum("difficulty").cast(DecimalType(38, 0)).as("sum_difficulty"))
      .orderBy("miner")
  }

  /** `join_asof_native` — the same as-of semantics as `join_asof`, through
    * the custom LogicalPlan/Strategy/SparkPlan operator
    * ([[graft.plans.NativeAsofJoin]]): one merge scan per co-clustered
    * partition instead of union + window. Same oracle as `join_asof`. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.NativeAsofJoin.asof(
      left = t(spark, dir, "events").select("event_id", "user_id", "ts"),
      // o_orderdate is TIMESTAMP_NTZ; the native operator requires exact
      // time-type equality (UTC session makes this cast value-preserving)
      right = t(spark, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast(TimestampType)),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      payloadCols = Seq("o_orderdate"))
      .select(col("event_id"), col("user_id"), col("asof_o_orderdate").as("asof_date"))
      .orderBy("event_id")

  /** `filter_correlated_subquery` — orders above their own customer's
    * average spend: Catalyst decorrelates the scalar subqueries into
    * aggregates + joins (RewriteCorrelatedScalarSubquery), so this runs as
    * scans + one shuffle, not a per-row probe. The "above average" test is
    * cross-multiplied (price * n > sum) so everything stays exact decimal —
    * no division rounding to diverge between engines. */
  def filterCorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM graft_orders_v o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT count(*) FROM graft_orders_v i WHERE i.o_custkey = o.o_custkey) >
        |      (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |       FROM graft_orders_v i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // --- set ops ---------------------------------------------------------------

  /** `set_union_dedup` — address-set algebra analogue (A6 generalization). */
  def setUnionDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_custkey").as("key"))
      .union(t(spark, dir, "orders").select(col("o_custkey").as("key")))
      .distinct()
      .orderBy("key")

  /** `set_intersect` — custkeys that both placed an order and hold a large
    * balance. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(col("o_custkey").as("key"))
      .intersect(
        t(spark, dir, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("key")))
      .orderBy("key")

  /** `set_except` — custkeys with orders but small/negative balance. */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(col("o_custkey").as("key"))
      .except(
        t(spark, dir, "customer").filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("key")))
      .orderBy("key")

  // --- Tier-A ETL ops surfaced as queries ------------------------------------

  /** `range_batcher` — A1: the reference's 131-partition plan
    * (config.py:10-14) materialized as rows. */
  def rangeBatcher(spark: SparkSession, dir: String): DataFrame =
    EtlOps.referencePartitionPlan(spark).orderBy("batch_id")

  /** `partition_plan` — A2's skew-aware non-uniform bucketing applied to
    * data: small buckets where keys are dense-heavy, large where sparse. */
  def partitionPlan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("part_id",
        when(col("o_orderkey") < 10000, floor(col("o_orderkey") / 2000.0))
          .otherwise(lit(5) + floor((col("o_orderkey") - 10000) / 500.0))
          .cast(LongType))
      .groupBy("part_id")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("part_id")

  /** `etl_gap_detect` — export-completeness audit: the maximal runs of
    * missing keys in a sparse key space (which block ranges were never
    * exported and need a backfill — the operational question behind the
    * reference's re-runnable range-partitioned export,
    * export_pipeline_template.py:62-199, where a failed activity leaves its
    * [start,end] range absent from the lake). The finished-status subset
    * (`o_orderstatus = 'F'`) stands in for "successfully exported": its key
    * set is sparse over the dense order domain, exactly a partially
    * exported chain.
    *
    * The textbook gaps-and-islands query is `lead(k) OVER (ORDER BY k)` — a
    * SINGLE-partition exchange over every exported key, the canonical
    * scale-killer this repo has removed three times. Distributed shape
    * (r17): ONE range exchange gives ordered, disjoint partitions with
    * equal keys colocated, so "pair each key with its successor" is a
    * partition-local adjacent scan plus an O(partitions) boundary stitch —
    * each partition's FIRST key is collected (one Long per partition, the
    * PrefixSum driver-state bound) and broadcast back so partition p can
    * close its last pair against the first key of the next non-empty
    * partition. The upstream `distinct()` folds into the same scan
    * (duplicates sort adjacent and are skipped in-loop), and the r16 shape
    * — exclusive rank + equi self-join on `rank+1` — is gone: that join
    * re-evaluated the rank bridge on both sides and paid two hash
    * exchanges plus a SortMergeJoin over every exported key. Corpus-width
    * exchanges: 4 → 1 (plus the presentation sort). Pairs with
    * `next > k+1` are exactly the gaps.
    *
    * The checkpoint between the three jobs is load-bearing for CORRECTNESS,
    * not just cost (the PrefixSum rule): the range partitioner SAMPLES its
    * bounds, so the boundary-collect job and the pair-scan job must read
    * the same materialized layout. */
  def etlGapDetect(spark: SparkSession, dir: String): DataFrame =
    gapsOf(spark,
      t(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k")))

  /** Core of [[etlGapDetect]] over any LongType `k` column: the maximal
    * runs absent from the key set, as (gap_start, gap_end, n_missing).
    * Duplicate keys are fine (they sort adjacent in their range partition
    * and are skipped by the `cur > prev + 1` test). Factored so the spec
    * can drive constructed key sets — duplicates, gaps exactly on
    * partition boundaries, empty partitions — through the identical
    * plumbing. */
  private[graft] def gapsOf(spark: SparkSession, keys: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val sorted = keys.repartitionByRange(col("k")).sortWithinPartitions("k").localCheckpoint()
    val internal = sorted.queryExecution.toRdd
    val nParts = internal.getNumPartitions
    // job 1 — O(P) driver state: each non-empty partition's first key
    val firsts: Map[Int, Long] = internal.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) Iterator.single((pid, it.next().getLong(0))) else Iterator.empty
    }.collect().toMap
    // successor(p) = first key of the next non-empty partition (range
    // partitions are ordered, so this is the global successor of p's last
    // key); the last non-empty partition has none — its max key ends no gap
    val succ = new Array[Long](nParts)
    val hasSucc = new Array[Boolean](nParts)
    var nxt = Option.empty[Long]
    (nParts - 1 to 0 by -1).foreach { p =>
      hasSucc(p) = nxt.isDefined
      succ(p) = nxt.getOrElse(0L)
      firsts.get(p).foreach(f => nxt = Some(f))
    }
    val bc = spark.sparkContext.broadcast((succ, hasSucc))
    val outSchema = StructType(Seq(
      StructField("gap_start", LongType), StructField("gap_end", LongType),
      StructField("n_missing", LongType)))
    // job 2 — partition-local adjacent scan; getLong copies by value, so no
    // row.copy() is needed (the PrefixSum needCopy rule: all-numeric rows)
    val gaps = internal.mapPartitionsWithIndex { (pid, it) =>
      val (succV, hasSuccV) = bc.value
      var prev = 0L
      var havePrev = false
      def gapRow(a: Long, b: Long): InternalRow =
        new GenericInternalRow(Array[Any](a + 1, b - 1, b - a - 1))
      val body = it.flatMap { r =>
        val cur = r.getLong(0)
        val out: Iterator[InternalRow] =
          if (havePrev && cur > prev + 1) Iterator.single(gapRow(prev, cur))
          else Iterator.empty
        prev = cur; havePrev = true
        out
      }
      // `++` takes its operand by name: the boundary pair is evaluated only
      // after `body` is exhausted, when `prev` holds the partition's max key
      body ++ (
        if (havePrev && hasSuccV(pid) && succV(pid) > prev + 1)
          Iterator.single(gapRow(prev, succV(pid)))
        else Iterator.empty)
    }
    org.apache.spark.sql.GraftBridge.ofInternalRows(spark, gaps, outSchema)
      .orderBy("gap_start")
  }

  /** `apply_mapping` — A7 over orders, including the reference's signature
    * string→decimal(38,0) cast (convert_transactions_to_parquet.py:36). */
  def applyMappingQ(spark: SparkSession, dir: String): DataFrame =
    EtlOps.applyMapping(
      t(spark, dir, "orders").withColumn("okey_str", col("o_orderkey").cast(StringType)),
      Seq(
        ("o_orderkey", "id", LongType),
        ("o_custkey", "cust", LongType),
        ("okey_str", "key_dec", DecimalType(38, 0)),
        ("o_orderpriority", "priority", StringType)))
      .orderBy("id")

  /** `resolve_choice` — A8 policy: candidate try_casts materialized side by
    * side instead of failing on type conflict. */
  def resolveChoiceQ(spark: SparkSession, dir: String): DataFrame =
    EtlOps.resolveChoice(
      t(spark, dir, "events").select("event_id", "props"),
      "props", Seq(LongType, StringType))
      .orderBy("event_id")

  /** `drop_null_fields` — A9: a planted all-null column is dropped, a
    * sometimes-null column survives. */
  def dropNullFieldsQ(spark: SparkSession, dir: String): DataFrame =
    EtlOps.dropNullFields(
      t(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("always_null", lit(null).cast(StringType))
        .withColumn("maybe", when(col("value") > 100, col("value"))))
      .orderBy("event_id")

  /** `staged_semi_join` — A11 end-to-end: extract keys from stage k
    * (F-status orders), fetch only matching entities in stage k+1. */
  def stagedSemiJoinQ(spark: SparkSession, dir: String): DataFrame =
    EtlOps.stagedSemiJoin(
      t(spark, dir, "customer"),
      t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
      "c_custkey", "o_custkey")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** `etl_upsert_latest` — rerun/overwrite semantics as a query: a
    * re-exported batch (keys % 10 == 0, doubled price, version 2)
    * supersedes the original rows; one survivor per key, latest version. */
  def etlUpsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val priceDec = col("o_totalprice").cast(DecimalType(18, 2))
    val current = t(spark, dir, "orders")
      .select(col("o_orderkey"), lit(1).as("version"), priceDec.as("price"))
    val updates = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(2).as("version"),
        (priceDec * 2).cast(DecimalType(18, 2)).as("price"))
    EtlOps.upsertLatest(current, updates, Seq("o_orderkey"), "version")
      .select(col("o_orderkey"), col("version"), col("price").cast(DecimalType(38, 2)).as("price"))
      .orderBy("o_orderkey")
  }

  /** `etl_cdc_apply` — the end state after an ordered I/U/D change log:
    * each order is a change event on its customer's balance ('D' for
    * orderkey % 31, else 'U' to the order total; % 17 keys shifted past
    * the customer range so genuine INSERTS exist), applied in
    * (date, seq) order over the customer base. Last-op-wins via
    * [[graft.etl.EtlOps.cdcApply]]. */
  def etlCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
    val log = t(spark, dir, "orders").select(
      when(col("o_orderkey") % 17 === 0, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("key"),
      col("o_orderdate").as("change_ts"), col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 31 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("new_bal"))
    EtlOps.cdcApply(base, log, Seq("key"), Seq("change_ts", "seq"), "op", "D",
        Seq("bal" -> "new_bal"))
      .select(col("key"), col("bal").cast(DecimalType(38, 2)).as("bal"), col("from_cdc"))
      .orderBy("key")
  }

  /** `etl_snapshot_diff` — CDC between two runs: updates (keys % 10),
    * deletes (keys % 97), inserts (5 new high keys), unchanged rest. */
  def etlSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val before = t(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val after = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(t(spark, dir, "orders").filter(col("o_orderkey") < 5)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice")))
    EtlOps.snapshotDiff(before, after, Seq("o_orderkey"), Seq("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** `scan_schema_evolution` — schema drift at the scan: two export batches
    * of the same table, the later one carrying a new column, read together
    * with `mergeSchema` — old rows surface the new column as null. This is
    * the scan-level half of the reference's ResolveChoice story (its Glue
    * jobs re-map drifting CSV schemas per batch); Spark merges parquet
    * footers instead of re-reading data. */
  def scanSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("evolve") { p =>
      t(spark, dir, "nation").select(col("n_nationkey"), col("n_name"), lit("v1").as("src"))
        .write.mode("overwrite").parquet(s"$p/v1")
      t(spark, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"), lit("v2").as("src"))
        .write.mode("overwrite").parquet(s"$p/v2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .select("n_nationkey", "n_name", "n_regionkey", "src")
      .orderBy("src", "n_nationkey")
  }

  /** `scan_orc` — the lake's second columnar format: lineitem staged as
    * ORC (predicate-pushdown-capable, like parquet — the format a consumer
    * inherits from a Hive-era lake), read back and aggregated. The
    * aggregate must equal the parquet-sourced oracle exactly: a format
    * round-trip is a pure layout change, same contract as
    * [[etlCompactSmallFiles]]. */
  def scanOrc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("orc") { p =>
      t(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").orc(p)
    }
    spark.read.orc(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** `join_null_safe` — null-safe equi-join (`<=>`): early-month vs
    * late-month per-(user, event-type) activity where the type key has been
    * NULL-normalized first (`nullif(event_type, 'error')` — the standard
    * cleanup that turns a sentinel into NULL before joining). Plain `=`
    * would silently drop every normalized row because NULL = NULL is never
    * true; `<=>` matches them, and Spark still plans a HASH join —
    * EqualNullSafe is an extractable equi-key (coalesced internally), not a
    * nested-loop residual, so the 100 TB plan is the same sort-merge/hash
    * shuffle as any equi-join. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val etype = nullif(col("event_type"), lit("error")).as("etype")
    def half(pred: Column, n: String) =
      t(spark, dir, "events").filter(pred)
        .groupBy(col("user_id").as(s"user_$n"), etype)
        .agg(count(lit(1)).as(s"n_$n"))
        .withColumnRenamed("etype", s"etype_$n")
    val early = half(dayofmonth(col("ts")) < 15, "early")
    val late = half(dayofmonth(col("ts")) >= 15, "late")
    early.join(late,
        col("user_early") === col("user_late") &&
          col("etype_early") <=> col("etype_late"))
      .select(col("user_early").as("user_id"), col("etype_early").as("etype"),
        col("n_early"), col("n_late"))
      .orderBy("user_id", "etype")
  }

  /** `etl_compact_small_files` — lake compaction: 64 ingest-sized files
    * rewritten to ~4 MiB targets via one metadata-sized listing + one
    * repartition (EtlOps.compact). The read-back aggregation is the result:
    * compaction must be a pure layout change, so it oracle-matches the
    * source-table aggregate exactly. File-count/size assertions live in the
    * spec. */
  def etlCompactSmallFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(compactionDirs(spark, dir)._2)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .orderBy("event_type")

  /** The staging step of [[etlCompactSmallFiles]]: writes the 64-file
    * ingest layout, compacts it, and returns both dirs (small, compacted)
    * — the spec's file-count assertion reads them. */
  private[ops] def compactionDirs(spark: SparkSession, dir: String): (String, String) = {
    val small = staged("smallfiles") { sp =>
      t(spark, dir, "events").select("event_id", "user_id", "event_type", "value")
        .repartition(64).write.mode("overwrite").parquet(sp)
    }
    (small, staged("compacted") { p => EtlOps.compact(spark, small, p, 4L << 20) })
  }

  /** `etl_scd2` — type-2 slowly-changing dimension from a change log: each
    * customer's order stream is read as successive versions of a "latest
    * priority" attribute; SCD2 assigns `[valid_from, valid_to)` intervals
    * and flags the open one. Timestamps surface as exact epoch micros. */
  def etlScd2(spark: SparkSession, dir: String): DataFrame = {
    val changes = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(TimestampType).as("change_ts"),
        col("o_orderpriority").as("priority"))
    EtlOps.scd2(changes, Seq("o_custkey"), "change_ts", Seq("o_orderkey"))
      .select(col("o_custkey"), col("version"), col("o_orderkey"), col("priority"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"))
      .orderBy("o_custkey", "version")
  }

  /** `sink_partitioned_parquet` — A10: zero-padded Hive layout round-trip;
    * the group-by on the read-back proves padding survived. */
  /** `join_full_outer` — customers ⊔ a derived order-summary keyed beyond
    * the customer range: both unmatched sides survive with nulls. Same
    * physical shape as the inner SMJ (shuffle both sides on the key); the
    * outer semantics only change the merge step, so the plan scales
    * identically. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    // shift a slice of order keys past the customer range so the right side
    // has genuinely unmatched rows (plain o_custkey ⊆ c_custkey in testdata)
    val ords = t(spark, dir, "orders")
      .select((col("o_custkey") + when(col("o_orderkey") % 13 === 0, 1000000).otherwise(0)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_orders"))
    cust.join(ords, col("c_custkey") === col("k"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("k")).as("key"),
        col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("key")
  }

  /** `join_skew_salted` — the salted-join twin of `agg_skew_salted`: the
    * fact side's 25-key join column would route ~1/25 of the table through
    * single reducers; salting the fact key 8 ways and replicating the small
    * side once per salt bounds per-task input at scale. Result is
    * hash-identical to the naive join (the salt is derived, never surfaced).
    * (AQE's skew handling only splits sort-merge partitions after the fact;
    * explicit salting also covers the shuffled-hash and pre-AQE paths.) */
  def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val nSalt = 8
    val cust = t(spark, dir, "customer")
      .withColumn("salt", pmod(xxhash64(col("c_custkey")), lit(nSalt)))
    val nations = t(spark, dir, "nation")
      .withColumn("salt", explode(array((0 until nSalt).map(lit(_)): _*)))
    cust.join(broadcast(nations),
        col("c_nationkey") === col("n_nationkey") && cust("salt") === nations("salt"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_bal"))
      .orderBy("n_name")
  }

  /** `scan_jsonl` — newline-delimited JSON ingest (the lingua franca of
    * web-crawl / training-data drops): events round-trip through JSONL and
    * are read back with an explicit schema — no inference pass, so the read
    * is one scan, and a corrupt line lands in the PERMISSIVE null row rather
    * than failing the job. */
  def scanJsonl(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("jsonl") { p =>
      t(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(p)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    spark.read.schema(schema).json(tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .orderBy("event_type")
  }

  /** One 16→32-bit Morton spread (gap bit between every payload bit) built
    * from codegen'd bit ops — no UDF. Two spreads OR-ed a bit apart give a
    * 2-D Z-order value. */
  private[ops] def spread16(c: Column): Column = {
    val steps = Seq(8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L, 1 -> 0x55555555L)
    steps.foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }
  }

  /** `sink_zorder` — Z-order-clustered write: orders sorted by the bit
    * interleave of (customer, order-day) before writing, so every file is a
    * small rectangle in BOTH dimensions, not a stripe in one. Per-file
    * parquet min/max stats then skip files for predicates on either column —
    * the multi-dimensional data-skipping layout single-column sorting can't
    * give (asserted in the spec via per-file spans). Range-partition on the
    * z-value keeps files size-balanced; the readback is the query result, so
    * the oracle checks the interleave math bit-for-bit. */
  def sinkZorder(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("zorder") { p =>
      val src = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast(LongType).as("d"))
      // Min-max bounds: 4 longs on the driver. Both dimensions are scaled to
      // the full 16-bit domain BEFORE interleaving — raw interleaving lets
      // whichever column has the wider absolute range own every high bit, so
      // the narrow column gets no clustering at all (observed: 8 files, cust
      // span == global span). Scaling aligns bit significance so each range
      // split alternates between dimensions.
      val b = src.agg(min("o_custkey"), max("o_custkey"), min("d"), max("d")).head()
      def scale16(c: Column, lo: Long, hi: Long): Column =
        floor((c - lit(lo)) * lit(65535.0) / lit(math.max(hi - lo, 1L))).cast(LongType)
      src
        .withColumn("zval",
          spread16(scale16(col("o_custkey"), b.getLong(0), b.getLong(1)))
            .bitwiseOR(shiftleft(spread16(scale16(col("d"), b.getLong(2), b.getLong(3))), 1)))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(tmp).orderBy("o_orderkey")
  }

  def sinkPartitionedParquet(spark: SparkSession, dir: String): DataFrame =
    sinkPartitioned(spark, dir, "parquet")

  /** `sink_partitioned_csv` — A4: same layout, CSV ingest format. */
  def sinkPartitionedCsv(spark: SparkSession, dir: String): DataFrame =
    sinkPartitioned(spark, dir, "csv")

  private def sinkPartitioned(spark: SparkSession, dir: String, format: String): DataFrame = {
    val tmp = staged(s"sink_$format") { p =>
      val src = t(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
      // 5000-key ranges: few, size-balanced partitions (the reference hand-
      // balances 131 for the full chain). 1000-key ranges produced 150 tiny
      // files at sf0.1 — the small-files anti-pattern this sink must avoid
      // at scale, and most of the old write+discover wall time.
      val bucket = (col("l_orderkey") / 5000).cast(LongType) * 5000
      EtlOps.writePartitioned(src, p, format, bucket, bucket + 4999)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType)))
    EtlOps.readPartitioned(spark, tmp, format, schema)
      .groupBy("start_block", "end_block")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("start_block")
  }

  /** `scan_nested_pruned` — nested-schema pruning: events re-staged as a
    * nested parquet (actor/payload structs — the shape real event lakes
    * have), then read selecting TWO leaves out of five. Spark's
    * `spark.sql.optimizer.nestedSchemaPruning.enabled` (default on) pushes
    * the leaf selection into the parquet ReadSchema, so at 100 TB the scan
    * reads 2 column chunks, not the whole struct subtree — the nested
    * analogue of `scan_parquet`'s flat pruning, and just as load-bearing
    * when payload structs carry wide blobs. RelationalSpec pins the pruned
    * ReadSchema in the plan text. */
  def scanNestedPruned(spark: SparkSession, dir: String): DataFrame = {
    val tmp = staged("nested") { p =>
      t(spark, dir, "events")
        .select(col("event_id"),
          struct(col("user_id"), col("event_type")).as("actor"),
          struct(col("value"), col("props"), col("ts")).as("payload"))
        .write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(tmp)
      .select(col("event_id"), col("actor.event_type").as("event_type"),
        get_json_object(col("payload.props"), "$.k").cast(LongType).as("k"))
      .filter(col("k") % 7 === 0)
      .orderBy("event_id")
  }

  /** `etl_observe_metrics` — in-flight audit accounting via Spark's
    * `Observation` (CollectMetrics): row counts / exact decimal totals /
    * bounds ride along with the sink write itself, so the pipeline's audit
    * row costs ZERO extra scans. At 100 TB the difference between this and
    * the naive write-then-re-aggregate audit is a second full pass over the
    * table; the reference's Data Pipeline activities have no audit at all —
    * this is the Spark-native upgrade. The observed metrics surface as a
    * one-row DataFrame, oracle-checked against the same aggregates in SQL.
    * Every call runs the write and collects the observed row. */
  def etlObserveMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation(s"audit_$dir")
    t(spark, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        min(unix_micros(col("l_shipdate").cast("timestamp"))).as("min_ship_us"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("max_ship_us"))
      .write.mode("overwrite").parquet(graft.Tables.scratchDir("observe"))
    val m = obs.get
    // On an empty input sum/min/max observe as null (sum_qty would NPE and
    // the bounds would silently unbox to epoch-1970 zeros — a plausible-
    // looking but fabricated audit row). An audit over nothing is a
    // pipeline bug upstream; fail loudly instead.
    require(m("n_rows").asInstanceOf[Long] > 0L,
      "etl_observe_metrics: lineitem is empty — audit metrics undefined")
    Seq((
      m("n_rows").asInstanceOf[Long],
      m("sum_qty").asInstanceOf[java.math.BigDecimal].toPlainString,
      m("n_returned").asInstanceOf[Long],
      m("min_ship_us").asInstanceOf[Long],
      m("max_ship_us").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_returned", "min_ship_us", "max_ship_us")
  }
}
