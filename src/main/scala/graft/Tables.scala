package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders + schemas for the two table families:
  *
  *  - the driver testdata (TPC-H-ish star schema + events/documents/embeddings,
  *    see /root/repo/FIXTURES.md §B) — schema carried by the parquet footers;
  *  - the reference's Ethereum entity tables (FIXTURES.md §A, attested in the
  *    reference's Glue ApplyMapping calls, e.g.
  *    ethereumetl/aws_glue_scripts/convert_blocks_to_parquet.py:26-46) —
  *    explicit StructTypes because the reference ingests headered CSV with a
  *    pinned schema (no inference at query time).
  */
object Tables {

  /** Read one testdata table from an sf directory. Parquet scan is Spark's
    * vectorized columnar reader; column pruning + predicate pushdown apply.
    *
    * events.ts has shipped as both TIMESTAMP(MICROS) and TIMESTAMP(NANOS)
    * across driver testdata generations. Spark refuses nanos by default, so
    * when the footer says nanos, read them as long (legacy conf) and truncate
    * to microsecond timestamps (the testdata carries no sub-microsecond
    * components, so this is lossless and matches DuckDB's view of the same
    * column). When the footer already says micros, read it as-is — applying
    * the nanos workaround to a micros file is an analysis error. A footer
    * that says TIMESTAMP_NTZ (isAdjustedToUTC=false) is cast to TIMESTAMP:
    * every session here pins spark.sql.session.timeZone=UTC, so the cast is
    * value-identical and keeps unix_micros()/window() call sites — which
    * require the LTZ type — working across testdata generations. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A /tmp staging directory removed when the JVM exits. The write-then-read
    * operators stage a fresh dir on every call; without the hook every
    * Verify/Bench/test JVM leaks its dirs into /tmp (observed: ~1,000 dirs
    * across a working session). Nothing reads the staged data after the JVM
    * ends: Verify persists results to its own outDir. */
  private[graft] val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  // ONE hook for all scratch dirs — a hook per dir grows the JVM's shutdown
  // hook set without bound in a long-lived process.
  private lazy val scratchHookOnce: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(): Unit
      }
      scratchDirs.forEach(p => rm(p.toFile))
    }))
  def scratchDir(tag: String): String = {
    scratchHookOnce
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    scratchDirs.add(dir)
    dir.toString
  }

  /** Dimensionality of the embeddings table's vector column. The ANN / dedup
    * operators assume one fixed dimensionality across the corpus (hyperplane
    * bases and centroids are dense arrays of this size). max(size) makes an
    * empty table an explicit error instead of a NoSuchElementException from
    * head(), and on a ragged corpus picks the widest row so shorter vectors
    * fail loudly downstream (null-poisoned zip_with → verify failure) rather
    * than silently truncating the basis to whatever row head() returned. */
  def embeddingDim(spark: SparkSession, sfDir: String): Int = {
    // a bounded aggregate, probed at plan construction
    import org.apache.spark.sql.functions.{col, max, size}
    val row = t(spark, sfDir, "embeddings").agg(max(size(col("embedding")))).head()
    require(!row.isNullAt(0),
      s"embeddings table at $sfDir is empty — cannot derive vector dimensionality")
    row.getInt(0)
  }

  // ---------------------------------------------------------------------------
  // Reference Ethereum schemas (FIXTURES.md §A). decimal(38,0) for uint256
  // columns mirrors convert_blocks_to_parquet.py:38-39 — a load-bearing
  // semantic: wei values overflow int64.
  // ---------------------------------------------------------------------------

  private def dec38 = DecimalType(38, 0)

  val blocksSchema: StructType = StructType(Seq(
    StructField("number", LongType),
    StructField("hash", StringType),
    StructField("parent_hash", StringType),
    StructField("nonce", StringType),
    StructField("sha3_uncles", StringType),
    StructField("logs_bloom", StringType),
    StructField("transactions_root", StringType),
    StructField("state_root", StringType),
    StructField("miner", StringType),
    StructField("difficulty", dec38),
    StructField("total_difficulty", dec38),
    StructField("size", LongType),
    StructField("extra_data", StringType),
    StructField("gas_limit", LongType),
    StructField("gas_used", LongType),
    StructField("timestamp", LongType),
    StructField("transaction_count", LongType)))

  val transactionsSchema: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("nonce", LongType),
    StructField("block_hash", StringType),
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("from_address", StringType),
    StructField("to_address", StringType),
    StructField("value", dec38),
    StructField("gas", LongType),
    StructField("gas_price", LongType),
    StructField("input", StringType)))

  val tokenTransfersSchema: StructType = StructType(Seq(
    StructField("token_address", StringType),
    StructField("from_address", StringType),
    StructField("to_address", StringType),
    StructField("value", dec38),
    StructField("transaction_hash", StringType),
    StructField("log_index", LongType),
    StructField("block_number", LongType)))

  /** Raw CSV-side schema: uint256 columns arrive as strings (the reference
    * exports CSV then casts string → decimal(38,0) in Glue). */
  val transactionsCsvSchema: StructType = StructType(
    transactionsSchema.fields.map {
      case StructField(n @ "value", _, _, _) => StructField(n, StringType)
      case f => f
    })
}
