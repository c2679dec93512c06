package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Distributed finite-horizon weighted convolution (FIR filter) over a
  * globally ordered stream — the scalable form of
  * `Σₖ wₖ·lag(x, k) OVER (ORDER BY …)`, which Catalyst executes on a
  * SINGLE partition (the same global-window trap [[PrefixSum]] removes for
  * running sums, here for the weighted-lag family: EWMA, moving averages,
  * any fixed-tap smoothing over a 10^9-row event stream).
  *
  * Pattern (boundary exchange): range-partition on the order columns →
  * job 1 collects each partition's LAST `W-1` values (driver state
  * O(W·partitions), independent of rows) → the driver stitches
  * per-partition carry-in windows by scanning those tails in partition
  * order → job 2 seeds a ring buffer with the carry and streams every row
  * through the W-tap dot product. Exact — no truncation beyond the
  * filter's own finite horizon, and all arithmetic is Long.
  *
  * Both jobs run on the sorted frame's `toRdd` (InternalRow), emitting
  * internal rows straight back through [[org.apache.spark.sql.GraftBridge
  * .ofInternalRows]]: the external `RDD[Row]`→DataFrame route re-encodes
  * every field through the RowEncoder, which probe #16 measured at ~2× the
  * whole operator's warm cost at 10M rows.
  *
  * The checkpoint between passes is load-bearing for correctness (the
  * range partitioner samples its bounds; both jobs must see one
  * materialized layout) — same contract as [[PrefixSum]].
  */
object WindowConv {

  /** Returns `df` plus `outCol` = Σₖ weights(k)·x_{t-k} for k in
    * [0, W), where x is `valueCol` (non-null LongType) in `orderCols`
    * order and rows before the stream start contribute 0 (the
    * `coalesce(lag(x,k),0)` convention). Output rows are
    * partition-ordered by `orderCols`; apply a final orderBy for a
    * globally sorted presentation. */
  def firConvolve(spark: SparkSession, df: DataFrame, orderCols: Seq[String],
                  valueCol: String, weights: Array[Long], outCol: String): DataFrame = {
    require(weights.nonEmpty, "at least one tap")
    val carryLen = weights.length - 1
    val sorted = df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .localCheckpoint()
    val vIdx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vIdx).dataType == LongType,
      s"$valueCol must be LongType, got ${sorted.schema(vIdx).dataType}")
    val vName = valueCol
    val nFields = sorted.schema.length
    val internal = sorted.queryExecution.toRdd

    // job 1: each partition's last <= carryLen values, in stream order.
    // (A short partition contributes all its rows — the driver stitch
    // below chains across as many predecessors as the horizon needs.)
    val tails: Array[(Int, Array[Long])] =
      if (carryLen == 0) Array.empty
      else internal.mapPartitionsWithIndex { (pid, it) =>
        val ring = new Array[Long](carryLen)
        var n = 0L
        it.foreach { r =>
          if (r.isNullAt(vIdx)) throw new IllegalArgumentException(
            s"$vName is NULL in a convolution input row — coalesce upstream; " +
              "SQL lag() would propagate the NULL so the semantics must be " +
              "pinned by the caller, not defaulted here")
          ring((n % carryLen).toInt) = r.getLong(vIdx)
          n += 1
        }
        val len = math.min(n, carryLen.toLong).toInt
        // unroll the ring into oldest..newest order
        val out = Array.tabulate(len)(i => ring(((n - len + i) % carryLen).toInt))
        Iterator.single((pid, out))
      }.collect().sortBy(_._1)

    // driver stitch: carry(p) = the last <= carryLen stream values before
    // partition p, assembled from predecessors' tails (only tails matter:
    // a long predecessor's tail fully covers the horizon; short ones chain)
    val nParts = internal.getNumPartitions
    val carries = new Array[Array[Long]](nParts)
    var window = Array.empty[Long]
    for (p <- 0 until nParts) {
      carries(p) = window
      val t = tails.lift(p).map(_._2).getOrElse(Array.empty)
      window = (window ++ t).takeRight(carryLen)
    }
    val bc = spark.sparkContext.broadcast(carries)
    val w = weights
    val types = sorted.schema.fields.map(_.dataType)
    // numeric/boolean fields copy by value in get(); string/binary/nested
    // values are VIEWS into the scan's reused row buffer and must be
    // detached via row.copy() before the iterator advances
    val needCopy = types.exists {
      case _: org.apache.spark.sql.types.NumericType => false
      case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType => false
      case _ => true
    }
    val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
    val rows = internal.mapPartitionsWithIndex { (pid, it) =>
      val W = w.length
      val ring = new Array[Long](W) // x_{t}, x_{t-1}, … by backward index
      var n = 0L                    // values seen (carry + rows)
      val carry = bc.value(pid)
      carry.foreach { v => ring((n % W).toInt) = v; n += 1 }
      it.map { r =>
        ring((n % W).toInt) = r.getLong(vIdx)
        n += 1
        var acc = 0L
        var k = 0
        val lim = math.min(W.toLong, n).toInt
        while (k < lim) {
          acc += w(k) * ring(((n - 1 - k) % W).toInt)
          k += 1
        }
        val src = if (needCopy) r.copy() else r
        val vals = new Array[Any](nFields + 1)
        var i = 0
        while (i < nFields) { vals(i) = src.get(i, types(i)); i += 1 }
        vals(nFields) = acc
        new GenericInternalRow(vals): InternalRow
      }
    }
    org.apache.spark.sql.GraftBridge.ofInternalRows(spark, rows, outSchema)
  }
}
