package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.{deleteRecursively, t}

/** Shuffle-shaping patterns for skew and co-location (SURVEY.md §2.2 /
  * BASELINE north-star: "repartition/bucketing for co-located joins,
  * salting for skew"). Each is a real query over testdata whose *result*
  * oracle-matches the naive formulation — the value is the plan shape.
  */
object ScalePatterns {

  /** `agg_skew_salted` — two-phase aggregation for heavy group keys:
    * phase 1 aggregates (key, salt) — 8-way fan-out spreads one hot key
    * across 8 reducers; phase 2 merges the partials. With decimal partials
    * the result is bit-equal to the direct aggregation. On a 3-distinct-key
    * column like l_returnflag the direct plan would route every row of a
    * key to one task; salting bounds per-task load at scale. (Spark's AQE
    * skew handling covers joins, not aggregations — hence the manual salt.) */
  def aggSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val salted = t(spark, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(8)))
    val partial = salted
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("psum"))
    partial
      .groupBy("l_returnflag")
      .agg(sum("pn").as("n"),
        sum("psum").cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** `join_bucketed_colocated` — pre-bucketed co-located join: both sides
    * written `bucketBy(8, key)`, so the join reads bucket-aligned files and
    * the plan has NO shuffle exchange before the join (asserted in the
    * spec). At 100 TB this is the difference between shuffling two fact
    * tables per query and shuffling once at write time. */
  /** Drop a managed table AND its physical warehouse location: with the
    * in-memory catalog a previous session's directory survives the catalog
    * and CREATE fails with LOCATION_ALREADY_EXISTS. */
  private def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(new java.io.File(wh, table))
  }

  /** Create the bucketed tables once per (session, sfDir) — the write IS
    * the amortized shuffle bucketing exists for; re-creating per call would
    * rewrite both tables for every plan built from them. Table names encode
    * the source dir so different scale factors in one session can't read
    * each other's buckets. */
  private def ensureBucketTables(spark: SparkSession, dir: String): (String, String) = {
    val suffix = (dir.hashCode & Int.MaxValue).toString
    val (ot, ct) = (s"graft_b_orders_$suffix", s"graft_b_customer_$suffix")
    // only the join/agg columns are bucketed away: at 100 TB a co-location
    // table carries the keys + measures it serves, not the whole row
    if (!spark.catalog.tableExists(ot)) {
      dropManaged(spark, ot)
      t(spark, dir, "orders").select("o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ot)
    }
    if (!spark.catalog.tableExists(ct)) {
      dropManaged(spark, ct)
      t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(ct)
    }
    (ot, ct)
  }

  def joinBucketedColocated(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = ensureBucketTables(spark, dir)
    spark.table(ot)
      .join(spark.table(ct),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** The shuffle join Catalyst injects a runtime bloom filter into — shared
    * by the query and the plan-shape spec. Built on a child session so the
    * thresholds that surface the 100 TB behavior at test scale (application-
    * side size gate 0, broadcast off to model a fact⋈fact shuffle join)
    * can't leak into other queries' plans. */
  private[ops] def bloomJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Sessions.child(spark,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** `join_bloom_pruned` — runtime bloom-filter join pruning: Catalyst's
    * InjectRuntimeFilter plants a `bloom_filter_agg` over the selective
    * build side (urgent orders) and a `might_contain` probe at the fact scan
    * (spec asserts both), so ~95% of lineitem rows drop BEFORE the shuffle
    * instead of after it. At 100 TB that is the difference between shuffling
    * the whole fact table and shuffling the matching 5% — the single biggest
    * shuffle-volume lever for selective fact⋈dim joins. The bloom is a
    * superset filter (false positives only) and the join re-checks keys
    * exactly, so results are oracle-exact. */
  def joinBloomPruned(spark: SparkSession, dir: String): DataFrame =
    bloomJoinPlan(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag")

  /** The partitioned-orders fact for DPP, written on every call: Hive
    * layout `o_month=yyyy-MM/` — the on-disk shape DPP prunes. */
  private def ensureMonthPartitionedOrders(spark: SparkSession, dir: String): String =
    Relational.staged("dpp_orders") { p =>
      t(spark, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(p)
    }

  /** `join_dpp_partitioned` — dynamic partition pruning: the fact is
    * partitioned by month and the filter (year = earliest corpus year) lives on the DIM
    * side, so no static pruning applies; Catalyst reuses the dim broadcast
    * as a runtime IN-set on the fact's partition column and reads 12 of ~84
    * month directories (spec asserts `dynamicpruning` in the scan). This is
    * the star-schema access path at 100 TB: partition the fact on the join
    * date key and dim predicates prune I/O before it happens. */
  def joinDppPartitioned(spark: SparkSession, dir: String): DataFrame =
    dppJoinPlan(spark, dir)
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_price"))
      .orderBy("o_month")

  /** The DPP join alone (no aggregate) — also used by the spec to assert
    * the dynamic-pruning subquery reached the fact scan. The dim-side filter
    * year is DATA-DERIVED (the corpus's earliest order year) instead of a
    * literal: the r10 regeneration moved the date range off the hardcoded
    * 1994 and the key went green on 0 rows — a vacuous hash match. The min
    * year comes from a bounded driver-side aggregate over the ~84 distinct
    * months (O(1) rows at any scale, same class as the decontaminate
    * broadcast-size probe) so the dim filter stays a simple literal
    * equality and the DPP plan shape — broadcast dim reused as a runtime
    * IN-set on the fact's partition column — is unchanged. */
  private[ops] def dppJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(ensureMonthPartitionedOrders(spark, dir))
    val dim = t(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m")).distinct()
      .withColumn("y", substring(col("m"), 1, 4))
    // a bounded aggregate, probed at plan construction
    val minYear = dim.agg(min(col("y"))).head().getString(0)
    fact.join(broadcast(dim.filter(col("y") === minYear)), col("o_month") === col("m"))
  }

  /** Catalog registration for the testdata orders table and its
    * month-partitioned staged copy: external tables in the SESSION catalog
    * (Spark's in-memory metastore — no Hive needed), names scoped by sfDir
    * so sf0.001/sf0.01 runs in one JVM can't collide. This mirrors the
    * reference's Glue-catalog access path
    * (`create_dynamic_frame.from_catalog`, convert_blocks_to_parquet.py:20-21):
    * a lake user resolves TABLE NAMES, not paths, and partition pruning
    * must come from catalog partition metadata (`RECOVER PARTITIONS` →
    * CatalogFileIndex), not from directory listing at plan time. At 100 TB
    * the metastore lookup prunes to the matching partitions without ever
    * listing the other ~84 month directories. Idempotence is
    * `tableExists`, the natural per-session memo. */
  private[ops] def ensureCatalogOrders(spark: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val baseT = s"graft_${tag}_orders"
    val partT = s"graft_${tag}_orders_by_month"
    if (!spark.catalog.tableExists(baseT)) {
      spark.sql(s"CREATE TABLE $baseT USING parquet LOCATION '$dir/orders.parquet'"): Unit
    }
    // The partitioned table points at this call's scratch dir. An earlier
    // call's registration (or, in a PERSISTENT metastore such as
    // spark-shell's Hive/derby in cwd, a dead JVM's) points at another dir
    // that may be gone — SHOW PARTITIONS then lists 80 phantom partitions
    // over zero files and every scan is silently empty. Self-heal: if the
    // registered location is not this call's staged dir, drop and
    // re-register.
    val p = ensureMonthPartitionedOrders(spark, dir)
    val staleLoc = spark.catalog.tableExists(partT) && {
      val loc = spark.sql(s"DESCRIBE FORMATTED $partT")
        .filter(col("col_name") === "Location").head().getString(1)
      loc.stripPrefix("file:") != p
    }
    if (staleLoc) spark.sql(s"DROP TABLE $partT"): Unit
    if (staleLoc || !spark.catalog.tableExists(partT)) {
      val ddl = spark.read.parquet(p).schema.toDDL
      spark.sql(s"CREATE TABLE $partT ($ddl) USING parquet PARTITIONED BY (o_month) LOCATION '$p'"): Unit
      spark.sql(s"ALTER TABLE $partT RECOVER PARTITIONS"): Unit
    }
    (baseT, partT)
  }

  /** `scan_catalog` — name-resolved catalog scan with metastore partition
    * pruning: the earliest corpus month (a bounded 1-row aggregate over the
    * name-resolved base table) prunes the partitioned catalog table to ONE
    * of ~84 month partitions; the spec asserts the pruned CatalogFileIndex
    * scan. Data-derived month, so the key cannot go vacuous when testdata
    * regenerates. */
  def scanCatalog(spark: SparkSession, dir: String): DataFrame = {
    val (baseT, partT) = ensureCatalogOrders(spark, dir)
    val minMonth = spark.table(baseT)
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM"))).head().getString(0)
    catalogPrunedScan(spark, partT, minMonth)
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_price"))
      .orderBy("o_month")
  }

  /** The pruned catalog scan alone — shared with the spec so the plan-shape
    * assertion (partition filter reached the catalog file index) covers the
    * exact frame the query aggregates. */
  private[ops] def catalogPrunedScan(spark: SparkSession, partT: String, month: String): DataFrame =
    spark.table(partT).filter(col("o_month") === month)

  /** The bucketed join alone (no aggregate), merge-hinted — used by the
    * spec to assert the shuffle-free plan. (Unhinted, Catalyst rightly
    * broadcasts the small side and ignores bucketing; the merge hint models
    * the fact⋈fact case bucketing exists for, where both sides are too big
    * to broadcast and the bucket layout saves the shuffle.) */
  def bucketedJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = ensureBucketTables(spark, dir)
    spark.table(ot).hint("merge")
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
  }

  /** The skewed shuffle join AQE repairs at runtime — shared by the query
    * and the plan-shape spec. 90% of lineitem rows remap to one hot
    * orderkey (deterministic arithmetic the oracle mirrors), making one
    * shuffle partition an order of magnitude over the median. The child
    * session lowers the AQE skew thresholds so the 100 TB behavior —
    * OptimizeSkewedJoin splitting the hot partition into parallel
    * sub-joins and replicating the matching build rows — surfaces at test
    * scale; broadcast is off to model the fact⋈fact sort-merge join skew
    * handling applies to. Thresholds live HERE, not in global conf, so no
    * other key's plan changes. */
  private[ops] def skewJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.Sessions.child(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB")
    // A skewed reduce partition can only be SPLIT along map-output
    // boundaries — and the tiny test file scans as ONE map task, which
    // would make the hot partition unsplittable. The round-robin
    // repartition models what a real fact scan has for free: many map
    // tasks feeding the join's shuffle.
    val skewed = t(s, dir, "lineitem").repartition(8).withColumn("skew_key",
      when(pmod(col("l_orderkey"), lit(10)) === 0, col("l_orderkey")).otherwise(lit(0L)))
    skewed.join(t(s, dir, "orders"), col("skew_key") === col("o_orderkey"))
  }

  /** `join_skew_aqe` — runtime skew-join repair, the AQE complement to the
    * manual salting of [[aggSkewSalted]]: no query rewrite, no salt column
    * — the optimizer detects the oversized partition AFTER the map stage
    * writes its shuffle files and splits it into parallel sub-joins. At
    * 100 TB this is the first line of defense against the hot-key straggler
    * (one task processing 90% of the data while 999 executors idle);
    * salting remains the tool when the skew is in an AGGREGATION (AQE's
    * skew repair only applies to join inputs). Results are plan-invariant,
    * so the oracle is the plain join. */
  def joinSkewAqe(spark: SparkSession, dir: String): DataFrame =
    skewJoinPlan(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Catalog-managed partitioned sink table: full write, then a dynamic
    * partition-overwrite re-export of ONE partition — the reference's rerun
    * unit (a Data Pipeline activity re-exports exactly its block-range
    * partition and must replace it idempotently,
    * export_pipeline_template.py:136 cascade + A10's partitioned layout).
    * `partitionOverwriteMode=dynamic` rewrites only partitions present in
    * the incoming frame; at 100 TB a re-export touches its own partition's
    * files and nothing else. Registered once per (JVM, dir) — tableExists
    * is the natural memo; the conf flip is scoped and restored. */
  private[ops] def ensureCatalogSink(spark: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_${tag}_lineitem_sink"
    if (!spark.catalog.tableExists(tbl)) {
      val src = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"), col("l_returnflag"))
      src.write.mode("overwrite").format("parquet")
        .partitionBy("l_returnflag").saveAsTable(tbl)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // the re-exported batch: R partition with doubled quantities — a
        // visible, oracle-checkable difference from the first write
        src.filter(col("l_returnflag") === "R")
          .withColumn("qty", (col("qty") * 2).cast(DecimalType(18, 2)))
          .write.mode("overwrite").insertInto(tbl)
      } finally {
        prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
    }
    tbl
  }

  /** `sink_catalog_table` — the catalog WRITE path (the read path is
    * `scan_catalog`): aggregate the table after the partition re-export.
    * Correct iff the overwrite replaced exactly the R partition — doubled
    * sums there, originals elsewhere, no duplicate rows anywhere. */
  def sinkCatalogTable(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureCatalogSink(spark, dir))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("qty")).cast(DecimalType(38, 2)).as("sum_qty"))
      .orderBy("l_returnflag")
}
