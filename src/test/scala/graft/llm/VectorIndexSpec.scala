package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The incremental vector index: lake mechanics (snapshot isolation of the
  * base version, append-not-rewrite), maintenance ≡ rebuild under the
  * frozen quantizer, and assignment validity. The cross-engine assignment
  * arithmetic itself is oracle-gated (sim_index_incremental interpolates
  * its centroid literals into DuckDB SQL). */
class VectorIndexSpec extends SparkTestBase {

  test("sim_index_incremental: append preserves v1, equals a full rebuild on the frozen quantizer") {
    import graft.etl.Snapshots
    val out = VectorIndex.simIndexIncremental(spark, sf).collect()
    assert(out.nonEmpty)
    val micro = VectorIndex.centsMicro(spark, sf)
    val root = VectorIndex.indexTable(spark, sf, micro)

    // two committed versions: base, then the OCC append
    assert(Snapshots.latestVersion(root) == 2L)
    val v1 = Snapshots.readSnapshot(spark, root, Some(1))
    val v2 = Snapshots.readSnapshot(spark, root, Some(2))
    // v1 is base-only and unchanged by the append (snapshot isolation)
    assert(v1.filter(col("vec_id") % 10 === 0).count() == 0)
    // the append referenced the base fileset instead of rewriting it
    val f1 = Snapshots.entries(root, 1).map(_.file).toSet
    val f2 = Snapshots.entries(root, 2).map(_.file).toSet
    assert(f1.subsetOf(f2) && (f2 -- f1).nonEmpty)

    // incremental maintenance ≡ full rebuild with the same frozen centroids:
    // v2's (vec_id, cell) set equals assigning the WHOLE corpus in one pass
    val cents = {
      import spark.implicits._
      micro.zipWithIndex.map { case (m, i) => (i.toLong, m.map(_ / 1e6).toSeq) }
        .toDF("cell", "c")
    }
    val rebuilt = Similarity.assignCells(
      graft.Tables.t(spark, sf, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")),
      cents).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = v2.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toSet
    assert(stored == rebuilt, "incremental index diverged from the frozen-quantizer rebuild")

    // every vector indexed exactly once; occupied cells within the trained k
    val nVecs = graft.Tables.t(spark, sf, "embeddings").count()
    assert(stored.size.toLong == nVecs)
    assert(stored.map(_._1).size == stored.size)
    assert(out.map(_.getAs[Long]("cell")).toSet.size <= micro.size)
    // the per-cell summary reconciles with the stored rows
    val byCell = stored.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_total") == byCell(r.getAs[Long]("cell")))
      assert(r.getAs[Long]("n_base") + r.getAs[Long]("n_delta") == r.getAs[Long]("n_total"))
    }
  }

  test("sim_index_incremental under a forced commit conflict: the delta retry lands with content identical to the uncontended table") {
    import graft.etl.Snapshots
    import spark.implicits._
    // Rebuild the index table with the REAL centroids/assigner, but inject
    // an interloper commit into the window between the delta committer's
    // base observation and its publish — the conditional put MUST observe
    // Conflicted exactly once and the retry must land the delta on the
    // interloper's base without losing either fileset.
    val root = graft.Tables.scratchDir("vidx_conflict_spec")
    val micro = VectorIndex.centsMicro(spark, sf)
    val cents = micro.zipWithIndex
      .map { case (m, i) => (i.toLong, m.map(_ / 1e6).toSeq) }
      .toDF("cell", "c")
    val vecs = Similarity.ivfVecs(spark, sf)
    def assigned(pred: org.apache.spark.sql.Column) =
      Similarity.assignCells(vecs.filter(pred), cents).select("vec_id", "cell")
    Snapshots.commit(root, 1,
      Snapshots.writeFileset(assigned(col("vec_id") % 10 =!= 0), root, "base", col("cell")))
    // the production delta (%10==0) split into two arriving batches
    val other = Snapshots.writeFileset(assigned(col("vec_id") % 20 === 0), root, "delta_other", col("cell"))
    val mine = Snapshots.writeFileset(assigned(col("vec_id") % 20 === 10), root, "delta_mine", col("cell"))
    var injected = false
    var retries = 0
    val v = Snapshots.commitRetry(root, cur => {
      if (!injected) {
        injected = true
        // someone else publishes AFTER this op has read its base
        Snapshots.commit(root, Snapshots.latestVersionOr0(root) + 1, cur ++ other)
      } else retries += 1
      cur ++ mine
    })
    assert(retries == 1, s"expected exactly one Conflicted retry, got $retries")
    assert(v == 3L, s"delta retry must land on the interloper's base, got v$v")
    // gap-free superset chain, both delta filesets live
    (2L to 3L).foreach { vv =>
      val prev = Snapshots.entries(root, vv - 1).map(_.file).toSet
      val cur = Snapshots.entries(root, vv).map(_.file).toSet
      assert(prev.subsetOf(cur) && (cur -- prev).nonEmpty)
    }
    // content identical to the UNCONTENDED production table (%20==0 ∪ %20==10
    // is exactly its %10==0 delta): the conflict changed nothing but the
    // version count
    val contended = Snapshots.readSnapshot(spark, root)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toSet
    val production = Snapshots.readSnapshot(spark, VectorIndex.indexTable(spark, sf, micro))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toSet
    assert(contended == production, "forced-conflict table diverged from the uncontended index")
  }
}
