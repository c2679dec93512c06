package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types._

/** Loaders for the testdata tables (TPC-H-ish star schema plus
  * events/documents/embeddings, FIXTURES.md §B), whose schema the parquet
  * footers carry, and the JVM's scratch directories. The Ethereum export's
  * table schemas are declared with its stages, in
  * [[graft.pipeline.ExportPipeline]].
  */
object Tables {

  /** Read one testdata table from an sf directory. Parquet scan is Spark's
    * vectorized columnar reader; column pruning + predicate pushdown apply.
    *
    * A table's schema comes from its parquet footer (its one file's, or
    * the first data file's of a directory a Spark write made), read on the
    * driver and converted by Spark's own footer reader
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge]]):
    * building the frame submits no Spark job, where schema inference submits
    * one per read. The schema equals the inferred one, nullability and
    * metadata included.
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
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // set before the footer is converted: the converter reads it
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.schema(GraftParquetBridge.footerSchema(spark, path)).parquet(path)
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
  }

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
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach(p => deleteRecursively(p.toFile))))
  def scratchDir(tag: String): String = {
    scratchHookOnce
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    scratchDirs.add(dir)
    dir.toString
  }

  /** Delete `f` and, if it is a directory, everything under it. A directory
    * whose listing fails (it vanished meanwhile, or is unreadable) is left
    * in place instead of throwing. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
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
}
