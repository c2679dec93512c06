package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[parquet]` schema reader, the parquet
  * counterpart of `org.apache.spark.sql.GraftBridge`. Lives in this package
  * solely for access; no Spark internals are modified. */
object GraftParquetBridge {

  /** The Spark schema of a parquet table, read on the driver from the
    * footer of its one file or, for a directory one Spark write made, of
    * its first data file: the file inference reads when the directory has
    * no summary file, all of whose part files carry one schema. Schema
    * inference would submit a job to read the same footer. The conversion
    * is Spark's own and builds its converter from `spark`'s conf
    * (binary-as-string, INT96, NTZ inference, nanos-as-long), so the result
    * is the schema inference would give. */
  def footerSchema(spark: SparkSession, table: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val file = if (!fs.getFileStatus(root).isDirectory) root
      else fs.listStatus(root).filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .minByOption(_.getName)
        .getOrElse(throw new IllegalArgumentException(s"$table: no parquet data file"))
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchema(Seq(new Footer(file, meta)), spark)
      .getOrElse(throw new IllegalStateException(s"$file: footer has no schema"))
  }
}
