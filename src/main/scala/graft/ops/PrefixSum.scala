package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Distributed exclusive prefix sum — the scalable replacement for a global
  * `sum(...) OVER (ORDER BY ...)` window, which Catalyst executes on a
  * SINGLE partition (every row through one task: the canonical scale-killer
  * for running totals over a 10^9-row corpus).
  *
  * Pattern (two-phase scan): range-partition on the order columns (ordered,
  * disjoint partitions) → job 1 computes ONE Long per partition (its value
  * total; collected driver state is O(partitions), independent of rows) →
  * the driver's exclusive scan of those totals broadcasts back as
  * per-partition starting offsets → job 2 emits offset + partition-local
  * running sum. Both jobs are embarrassingly parallel.
  *
  * The eager local checkpoint between the passes is load-bearing for
  * CORRECTNESS, not just cost: the range partitioner SAMPLES its bounds, so
  * the two passes must read the same materialized layout — re-executing the
  * exchange could re-sample a different partitioning and misalign the
  * offsets. The checkpoint lives as long as the returned frame.
  */
object PrefixSum {

  /** Returns `df` with an extra `outCol` column = the exclusive running sum
    * of `valueCol` (a non-null LongType column) in `orderCols` order.
    * Output rows are partition-ordered by `orderCols`; apply a final
    * orderBy for a globally sorted presentation. */
  def exclusiveRunningSum(spark: SparkSession, df: DataFrame,
                          orderCols: Seq[String], valueCol: String,
                          outCol: String): DataFrame =
    exclusiveRunningSumWithTotal(spark, df, orderCols, valueCol, outCol)._1

  /** [[exclusiveRunningSum]] plus the GLOBAL total of `valueCol` — the last
    * entry of the driver's exclusive scan, i.e. already computed from the
    * collected per-partition sums. Callers that need the total (quality
    * tiering's rank divisor) previously ran a separate `count()` job over
    * the sorted frame for a number the scan had in hand. */
  def exclusiveRunningSumWithTotal(spark: SparkSession, df: DataFrame,
                                   orderCols: Seq[String], valueCol: String,
                                   outCol: String): (DataFrame, Long) = {
    val sorted = df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .localCheckpoint()
    val vIdx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vIdx).dataType == LongType,
      s"$valueCol must be LongType, got ${sorted.schema(vIdx).dataType}")
    val vName = valueCol
    // both jobs run on toRdd (InternalRow) and emit internal rows through
    // GraftBridge.ofInternalRows: the external RDD[Row]→createDataFrame
    // route re-encodes every field via the RowEncoder, which probe #16
    // measured at ~2× the cost of a whole scan-pattern operator at 10M rows
    val internal = sorted.queryExecution.toRdd
    val partSums = internal
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach { r =>
          // a NULL here would NPE in getLong on some rows and, worse, a SQL
          // window-sum oracle SKIPS nulls — a silent offset divergence on
          // every row after the first null. Fail with the fix instead.
          if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
            s"$vName is NULL in a prefix-sum input row — filter nulls (or " +
              "coalesce to 0) upstream; SQL window sums skip NULLs so the " +
              "semantics must be pinned by the caller, not defaulted here")
          s += r.getLong(vIdx)
        }
        Iterator.single((pid, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _) // offsets(p) = total before p
    val bc = spark.sparkContext.broadcast(offsets)
    val types = sorted.schema.fields.map(_.dataType)
    val nFields = types.length
    // numeric/boolean/date-time fields copy by value in get(); string/
    // binary/nested values are VIEWS into the scan's reused row buffer and
    // must be detached via row.copy() before the iterator advances
    val needCopy = types.exists {
      case _: org.apache.spark.sql.types.NumericType => false
      case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType => false
      case _ => true
    }
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val rows = internal.mapPartitionsWithIndex { (pid, it) =>
      var run = bc.value(pid)
      it.map { r =>
        val src = if (needCopy) r.copy() else r
        val vals = new Array[Any](nFields + 1)
        var i = 0
        while (i < nFields) { vals(i) = src.get(i, types(i)); i += 1 }
        vals(nFields) = run
        run += src.getLong(vIdx)
        new GenericInternalRow(vals): InternalRow
      }
    }
    (org.apache.spark.sql.GraftBridge.ofInternalRows(spark, rows, outSchema), offsets.last)
  }
}
