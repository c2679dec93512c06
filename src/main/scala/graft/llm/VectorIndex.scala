package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Snapshots

/** Incremental vector-index maintenance on the snapshot lake — the
  * production pattern for a growing embedding corpus: the coarse quantizer
  * is trained ONCE on the base corpus (retraining on every arrival would
  * re-shuffle the whole index), new batches are assigned map-only against
  * the frozen centroids and APPENDED through the OCC manifest commit, and
  * every reader resolves a consistent snapshot. This composes three of the
  * engine's own pieces — the Lloyd trainer ([[Similarity.lloydCentroids]]),
  * the literal-centroid map-only assigner ([[Similarity.assignCells]]), and
  * the OCC lake ([[Snapshots]]) — into the FAISS-on-a-lakehouse shape:
  * index data is immutable filesets, a version is a manifest, and adding
  * vectors is one conditional put regardless of index size.
  *
  * Centroids are snapped to integer micro-units (×1e6), the
  * `embed_random_projection`/`embed_pca_project` trick: both engines then
  * assign cells from the IDENTICAL literals (cv[i]/1e6 is the same IEEE
  * division on both sides; the ascending-i squared-distance fold matches
  * DuckDB's list_sum comprehension term-for-term; ties break (d2, cell) in
  * both) — so the whole incremental index, not just its row count, is
  * oracle-checked.
  */
object VectorIndex {

  /** DuckDB mirror of `sim_index_incremental`, interpolated with the
    * data-derived centroid literals during the query's own run (Verify
    * dumps oracleSql AFTER running queries); absent if the key never ran
    * in this JVM → rows-only fallback. */
  @volatile private[graft] var incrOracle: Option[String] = None

  /** Micro-snapped centroids trained on the BASE split (vec_id % 10 != 0 —
    * the dedup_incremental arrival convention; % 10 == 0 is the new
    * batch), k by the FAISS √n rule on the base count. Bounded driver
    * state: k×dim longs. */
  private[graft] def centsMicro(spark: SparkSession, dir: String): Seq[Array[Long]] = {
    val base = Similarity.ivfVecs(spark, dir).filter(col("vec_id") % 10 =!= 0)
    val dim = graft.Tables.embeddingDim(spark, dir)
    val k = math.max(Similarity.IvfK,
      math.round(math.sqrt(base.count().toDouble)).toInt)
    Similarity.lloydCentroids(spark, base, dim, k)
      .map(_.map(x => math.round(x * 1e6)))
      .toSeq
  }

  private def centsFrame(spark: SparkSession, micro: Seq[Array[Long]]): DataFrame = {
    import spark.implicits._
    micro.zipWithIndex
      .map { case (m, i) => (i.toLong, m.map(_ / 1e6).toSeq) }
      .toDF("cell", "c")
  }

  /** Build the index table over the given [[centsMicro]] centroids, into a
    * fresh dir per call: v1 = the base
    * corpus assigned and committed; v2 = the delta batch assigned against
    * the SAME frozen centroids and appended via the OCC retrying commit.
    * Data files are written once and never rewritten — the append is pure
    * manifest metadata. */
  private[graft] def indexTable(spark: SparkSession, dir: String, micro: Seq[Array[Long]]): String = {
    val root = graft.Tables.scratchDir("vidx")
    val cents = centsFrame(spark, micro)
    val vecs = Similarity.ivfVecs(spark, dir)
    def assigned(pred: org.apache.spark.sql.Column) =
      Similarity.assignCells(vecs.filter(pred), cents).select("vec_id", "cell")
    Snapshots.commit(root, 1,
      Snapshots.writeFileset(assigned(col("vec_id") % 10 =!= 0), root, "base", col("cell")))
    val delta = Snapshots.writeFileset(assigned(col("vec_id") % 10 === 0), root, "delta", col("cell"))
    Snapshots.commitRetry(root, current => current ++ delta): Unit
    root
  }

  /** `sim_index_incremental` — per-cell occupancy of the index AFTER the
    * incremental append: (cell, n_base, n_delta, n_total), read through
    * the latest manifest snapshot. The oracle recomputes every assignment
    * from the centroid literals over the raw embeddings table, so a
    * mis-assigned vector, a lost delta row, or a double-committed fileset
    * all fail arithmetically. At 100 TB: train once on a sample, assign
    * map-only per arriving batch (embarrassingly parallel), one manifest
    * CAS per batch; per-cell counts are the index's load-balance health
    * metric (a hot cell here is a hot probe later). */
  def simIndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    val micro = centsMicro(spark, dir)
    val root = indexTable(spark, dir, micro)
    incrOracle = Some(incrOracleSqlOf(micro))
    Snapshots.readSnapshot(spark, root)
      .groupBy("cell")
      .agg(count(when(col("vec_id") % 10 =!= 0, 1)).as("n_base"),
        count(when(col("vec_id") % 10 === 0, 1)).as("n_delta"),
        count(lit(1)).as("n_total"))
      .orderBy("cell")
  }

  private def incrOracleSqlOf(micro: Seq[Array[Long]]): String = {
    val values = micro.zipWithIndex
      .map { case (m, i) => s"(CAST($i AS BIGINT), ${m.mkString("[", ", ", "]")})" }
      .mkString(", ")
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings), " +
      s"c(cell, cv) AS (VALUES $values), " +
      "d AS (SELECT vec_id, cell, list_sum([(ve[i] - cv[i] / 1000000.0) * (ve[i] - cv[i] / 1000000.0) " +
      "for i in range(1, len(ve) + 1)]) AS d2 FROM v CROSS JOIN c), " +
      "a AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r FROM d) WHERE r = 1) " +
      "SELECT cell, CAST(count(*) FILTER (vec_id % 10 <> 0) AS BIGINT) AS n_base, " +
      "CAST(count(*) FILTER (vec_id % 10 = 0) AS BIGINT) AS n_delta, " +
      "CAST(count(*) AS BIGINT) AS n_total " +
      "FROM a GROUP BY cell ORDER BY cell"
  }
}
