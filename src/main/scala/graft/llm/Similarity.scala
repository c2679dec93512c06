package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Similarity search over the embedding column (north-star operators).
  *
  * All vector math is double-precision sequential folds over the float
  * arrays — `zip_with` + `aggregate` compile to codegen'd loops, and the
  * DuckDB oracle mirrors the exact fold order (`list_reduce` over a
  * prepended 0.0) so scores are bit-identical, not just close.
  */
object Similarity {

  /** Floor for the IVF coarse-quantizer cell count (and the historical
    * fixed value — still the answer below 256 vectors). See [[ivfK]]. */
  val IvfK = 16

  /** IVF cell count for a corpus: the FAISS ~√n rule, floored at [[IvfK]].
    * r13 fix — this was a FIXED 16, which makes per-cell occupancy LINEAR
    * in corpus size and the symmetric kNN-graph candidate set QUADRATIC:
    * the 10× full-suite probe measured sim_knn_graph at 8.0 → 8,835
    * executor-CPU seconds (≈1,100×) before this change (PLANS.md probe
    * #20). With nlist = √n, occupancy is √n and knn candidates are
    * n·nprobe·√n — the n^1.5 an IVF index is supposed to give. One bounded
    * count() per training; every consumer of [[trainedCentroids]] (ivf /
    * ivfpq / coarse-refine / knn-graph / SemDeDup) picks the rule up
    * automatically. */
  private[graft] def ivfK(spark: SparkSession, dir: String): Int = {
    val n = ivfVecs(spark, dir).count()
    math.max(IvfK, math.round(math.sqrt(n.toDouble)).toInt)
  }

  /** Sequential-fold dot product in double precision — the codegen'd
    * kernel ([[graft.functions.DotProduct]]): same fold order as the
    * interpreted `aggregate(zip_with(...))` formulation and the DuckDB
    * `list_reduce` oracle, so scores stay bit-identical, but the loop runs
    * inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused cosine — dot and both norms in ONE codegen'd loop
    * ([[graft.functions.PrefixCosine]] at full width). Each of the three
    * sums folds in the same order as the separate dot/norm formulation,
    * so values are bit-identical to the DuckDB list_reduce oracles; the
    * fusion saves two array traversals and all intermediate folds on the
    * family's hottest path (every scan-score site below). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.vecCosinePrefix(a, b, Int.MaxValue)

  /** `sim_search_topk` — exact brute-force top-5 cosine neighbors for each
    * query vector (vec_id < 10), excluding self.
    *
    * Plan shape: the 10 queries broadcast to every executor; candidates
    * stream through one codegen'd projection (no shuffle for the scoring),
    * then a per-query window takes the top 5. At 100 TB the same plan holds:
    * broadcast Q, scan-score-reduce; the window input is only |Q| x k after
    * AQE-combined partial top-k. The IVF/LSH scale path is
    * `simSearchLshBucketed`. */
  def simSearchTopk(spark: SparkSession, dir: String): DataFrame = {
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q"))

    val scored = vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q"), col("v")))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Recall floor the ANN contract keys assert, as an integer percent so
    * the boolean is computed in exact integer arithmetic:
    * sum(hits)·100 ≥ floor·sum(n_exact) — the denominator is the TOTAL
    * exact-neighbor count, not 5·n_queries, so a query with < 5 exact
    * neighbors can't make a perfect answer read FALSE. The floor lives on
    * the SPARK side only: the oracle SQL states the exact anchors and a
    * literal TRUE for `recall_floor_ok` (an approximate path can never be
    * reproduced by DuckDB; what the oracle checks is that the REAL ANN
    * path clears the floor — a degenerated bucketing turns the Spark
    * boolean FALSE and the hash comparison fails). 80 is the floor the
    * specs have pinned since r5 (measured 0.86–0.94). */
  val RecallFloorPct = 80

  /** The exact top-5 reference set every ANN contract key compares
    * against — same answer as [[simSearchTopk]] (same fused-cosine kernel,
    * same (cosine DESC, vec_id) tie-break), but computed MAP-ONLY: the 10
    * query vectors collect to the driver (bounded, 10×dim doubles — the
    * [[centroidMatrix]] pattern) and score as literal vectors inside one
    * codegen'd projection, so the contract keys add no join — in
    * particular not the broadcast nested-loop scan-score shape
    * `sim_search_topk` itself deliberately (and allowlistedly) plans; the
    * PlanLinter allowlist stays exactly the five scan-score contracts.
    * Cosines are bit-identical: the kernel's three folds run in the same
    * index order whichever side is literal. Each contract key builds its
    * own (the 10-vector collect runs at construction time). */
  private[graft] def exactTop5(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val queries: Array[(Long, Seq[Double])] = vecs.filter(col("vec_id") < 10)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val scored = vecs
      .select(col("vec_id"), explode(array(queries.map { case (qid, q) =>
        struct(lit(qid).as("query_id"), cosine(typedLit(q), col("v")).as("cosine"))
      }: _*)).as("s"))
      .filter(col("s.query_id") =!= col("vec_id"))
      .select(col("s.query_id").as("query_id"), col("vec_id"), col("s.cosine").as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Contract form of an ANN key (r15, the `agg_approx_quantile` /
    * `agg_hll_partitioned` recipe): the ANN RESULT itself is
    * approximate-by-design and can never hash-match a SQL oracle, but the
    * key's CONTRACT is oracle-checkable — per query, the EXACT top-5
    * anchor (brute-force cosine, rank order, which DuckDB reproduces
    * bit-identically via the `sim_search_topk` CTE) plus one boolean the
    * Spark side derives from the REAL ANN path: mean recall@5 over all
    * queries ≥ [[RecallFloorPct]]%, evaluated in pure integers
    * (sum(hits)·100 ≥ 5·floor·n_q). The oracle states the anchors and
    * TRUE; a degenerated bucketing (the r3 failure mode the specs' recall
    * floors were built against) now fails the DRIVER gate arithmetically,
    * not just the spec.
    *
    * Plan shape: the ANN frame and the exact reference each collapse to
    * 10 (query, set) rows before the join, and the global tally rides a
    * single-partition window over those 10 rows — O(queries) state, no
    * corpus-sized exchange beyond what the ANN path itself does. */
  private[graft] def annRecallContract(spark: SparkSession, dir: String,
                                       ann: DataFrame): DataFrame = {
    val exact = exactTop5(spark, dir)
    val exactAgg = exact.groupBy("query_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("rank"), col("neighbor_id")))),
        s => s.getField("neighbor_id").cast(StringType)), ",").as("exact_top5"),
      collect_set(col("neighbor_id")).as("exact_set"),
      count(lit(1)).as("n_exact"))
    val annAgg = ann.groupBy("query_id")
      .agg(collect_set(col("neighbor_id")).as("ann_set"))
    // left join: a query the ANN path returned NOTHING for counts 0 hits
    // (degenerate bucketing must lower recall, not shrink the denominator).
    // Coalesce the ARRAY, not the size: size(NULL) is NULL only under
    // ANSI / legacy.sizeOfNull=false — under legacy semantics it is -1 and
    // a missing query would SUBTRACT a hit (r16 advice); the empty-array
    // default is correct under both.
    val perQ = exactAgg.join(annAgg, Seq("query_id"), "left")
      .withColumn("hits",
        size(array_intersect(
          coalesce(col("ann_set"), array().cast("array<bigint>")),
          col("exact_set")))
          .cast(LongType))
    // denominator = TOTAL exact neighbors (sum of n_exact), not 5×queries:
    // on a corpus where a query has < 5 exact neighbors a perfect ANN
    // answer must still read TRUE
    val all = Window.partitionBy(lit(1))
    perQ
      .withColumn("recall_floor_ok",
        sum(col("hits")).over(all) * 100 >=
          lit(RecallFloorPct.toLong) * sum(col("n_exact")).over(all))
      .select(col("query_id"), col("n_exact"), col("exact_top5"),
        col("recall_floor_ok"))
      .orderBy("query_id")
  }

  /** Audit-panel size for the [[simKnnGraphContract]] recall gate: the 32
    * lowest vec_ids. A panel — not the full node set — is the scale-correct
    * form: the exact anchors cost 32·n map-only cosines at ANY corpus size
    * (the [[exactTop5]] literal-vector pattern), where a full exact graph
    * is n² and would turn the operator's measured n^1.5 decade asymptote
    * quadratic the moment the contract runs at probe scale. This is also
    * how production ANN recall is monitored at 100 TB: a fixed query panel
    * audited against brute force, never the whole corpus. The full-graph
    * mean-recall evidence stays in the driver spec at spec scale. */
  private[graft] val KnnPanelSize = 32

  /** Exact top-3 reference neighbors for the [[KnnPanelSize]]-node audit
    * panel — the [[exactTop5]] recipe (literal panel vectors, one codegen'd
    * scan-score projection, no join) at rank ≤ 3 over vec_id < 32. */
  private[graft] def exactKnnPanel(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val panel: Array[(Long, Seq[Double])] = vecs.filter(col("vec_id") < KnnPanelSize)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val scored = vecs
      .select(col("vec_id"), explode(array(panel.map { case (qid, q) =>
        struct(lit(qid).as("panel_id"), cosine(typedLit(q), col("v")).as("cosine"))
      }: _*)).as("s"))
      .filter(col("s.panel_id") =!= col("vec_id"))
      .select(col("s.panel_id").as("panel_id"), col("vec_id"), col("s.cosine").as("cosine"))
    val w = Window.partitionBy("panel_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("panel_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** `sim_knn_graph` in contract form (r16 verdict ask #4 — the
    * [[annRecallContract]] / `text_compression_ratio` graduation recipe):
    * per panel node, the EXACT top-3 anchor (brute-force cosine, rank
    * order — DuckDB reproduces it bit-identically) plus one boolean from
    * the REAL ANN graph: panel recall@3 ≥ [[RecallFloorPct]]% in pure
    * integer arithmetic (sum(hits)·100 ≥ floor·sum(n_exact)). The oracle
    * states the anchors and TRUE; a degenerated IVF bucketing flips the
    * Spark boolean and fails the hash compare. The graph itself stays the
    * operator under test — its panel rows feed the intersect — and the
    * full-graph recall/structure evidence remains in the driver spec. */
  def simKnnGraphContract(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactKnnPanel(spark, dir)
    val exactAgg = exact.groupBy("panel_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("rank"), col("neighbor_id")))),
        s => s.getField("neighbor_id").cast(StringType)), ",").as("exact_top3"),
      collect_set(col("neighbor_id")).as("exact_set"),
      count(lit(1)).as("n_exact"))
    val annAgg = simKnnGraph(spark, dir)
      .filter(col("vec_id") < KnnPanelSize)
      .groupBy(col("vec_id").as("panel_id"))
      .agg(collect_set(col("neighbor_id")).as("ann_set"))
    // left join + array-level coalesce: a panel node the ANN graph returned
    // nothing for counts 0 hits (it must lower recall, not the denominator),
    // and size(NULL) is -1 under legacy.sizeOfNull (the annRecallContract
    // rule)
    val perQ = exactAgg.join(annAgg, Seq("panel_id"), "left")
      .withColumn("hits",
        size(array_intersect(
          coalesce(col("ann_set"), array().cast("array<bigint>")),
          col("exact_set")))
          .cast(LongType))
    val all = Window.partitionBy(lit(1))
    perQ
      .withColumn("recall_floor_ok",
        sum(col("hits")).over(all) * 100 >=
          lit(RecallFloorPct.toLong) * sum(col("n_exact")).over(all))
      .select(col("panel_id").as("vec_id"), col("n_exact"), col("exact_top3"),
        col("recall_floor_ok"))
      .orderBy("vec_id")
  }

  /** `sim_search_lsh` in contract form — [[simSearchLshBucketed]] is the
    * ANN path under test; see [[annRecallContract]]. */
  def simSearchLshContract(spark: SparkSession, dir: String): DataFrame =
    annRecallContract(spark, dir, simSearchLshBucketed(spark, dir))

  /** `sim_search_ivf` in contract form — [[simSearchIvf]] under test. */
  def simSearchIvfContract(spark: SparkSession, dir: String): DataFrame =
    annRecallContract(spark, dir, simSearchIvf(spark, dir))

  /** `sim_search_ivfpq` in contract form — [[simSearchIvfPq]] under test. */
  def simSearchIvfPqContract(spark: SparkSession, dir: String): DataFrame =
    annRecallContract(spark, dir, simSearchIvfPq(spark, dir))

  /** `sim_search_ivf` — IVF (inverted-file) ANN index: k-means coarse
    * quantizer trained in 3 Lloyd iterations, vectors assigned to their
    * nearest centroid cell, queries probing only the nprobe nearest cells.
    * This is the structure that scales past LSH when the corpus is
    * clusterable: the index join touches |corpus| * nprobe/k vectors.
    *
    * Determinism: Lloyd training broadcasts the k×dim centroid matrix and
    * computes per-partition partial sums that merge on the driver in fixed
    * partition order, so for a given partition layout the double-sum order —
    * and therefore every assignment — is reproducible. Determinism is
    * per-layout: changing the partition count/order of the input reorders
    * the double sums and may perturb centroids. Approximate by design →
    * rows-only driver check. */
  def simSearchIvf(spark: SparkSession, dir: String): DataFrame =
    simSearchIvfImpl(spark, dir, returnCandidates = false)

  /** Candidate set of [[simSearchIvf]] (post cell-probing, pre scoring) —
    * exposed so scale probes measure candidate-volume growth on the REAL
    * code path instead of re-deriving the bucketing. Every call trains its
    * own quantizer. */
  private[graft] def ivfCandidates(spark: SparkSession, dir: String): DataFrame =
    simSearchIvfImpl(spark, dir, returnCandidates = true)

  /** The (vec_id, v) frame every IVF-family operator reads: a scan and a
    * cast, with no exchange, so each job re-reads it rather than caching. */
  private[graft] def ivfVecs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))

  /** Nearest-cell assignment for any (vec_id, v, …) frame against a (cell,
    * c) centroid frame — appends `cell` and `d2c`, preserving every input
    * column, as a MAP-ONLY pass (see [[scoredCellArray]]). */
  private[graft] def assignCells(vframe: DataFrame, cents: DataFrame): DataFrame = {
    // r12 rewrite eliminated the crossJoin(broadcast)+groupBy argmin (BNLJ
    // + corpus reshuffle) in favor of a map-only expression; r13 swaps the
    // literal-per-centroid array_sort for the matrix-reference kernel
    // ([[graft.functions.NearestCentroid]]): one generated loop whose
    // bytecode size is independent of k — the literal formulation
    // overflowed JIT inlining near k≈100 (667 s IVF at the 100× probe's
    // k=447) once ivfK began scaling with √n. Distances fold in the same
    // ascending order over the same doubles and ties keep the lowest cell,
    // so assignments are bit-identical to both prior formulations (parity
    // incl. exact-tie behavior spec-pinned in CustomFnsSpec).
    val (m, ids) = centroidMatrix(cents)
    vframe
      .withColumn("m", graft.functions.VectorOps.vecNearestCentroid(col("v"), m, ids))
      .withColumn("cell", col("m.cell"))
      .withColumn("d2c", col("m.d2"))
      .drop("m")
  }

  /** Centroid frame → (matrix, cellIds), ascending cell order — the
    * bounded collect (k×dim doubles) every map-only cell kernel rides on. */
  private def centroidMatrix(cents: DataFrame): (Array[Array[Double]], Array[Long]) = {
    val arr = cents.select(col("cell"), col("c")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    (arr.map(_._2), arr.map(_._1))
  }

  /** The shared literal-centroid scoring expression: an array of
    * struct(d2, cell), one element per trained centroid, each d2 a
    * codegen'd [[graft.functions.VectorOps.vecSqDist]] against that
    * centroid's LITERAL vector. `array_sort` over it orders by
    * (distance, cell) — the family's deterministic tie-break — so
    * element 1 is the home cell ([[assignCells]]) and a slice of the
    * first nprobe is a probe list ([[simKnnGraph]], [[simSearchIvfImpl]]),
    * all map-only. */
  private def scoredCellArray(cents: DataFrame, v: Column): Column = {
    val sqdist = (a: Column, b: Column) => graft.functions.VectorOps.vecSqDist(a, b)
    val centArr = cents.select(col("cell"), col("c")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    array(centArr.map { case (cellId, cvec) =>
      struct(sqdist(v, typedLit(cvec)).as("d2"), lit(cellId).as("cell"))
    }: _*)
  }

  /** Top-nprobe nearest cells of `v` as an array column — map-only, no
    * centroid join, no window; the selection kernel
    * ([[graft.functions.NearestCentroids]]) replaces the k-literal
    * array_sort for the same constant-codegen-size reason as
    * [[assignCells]]. */
  private def probeCellsExpr(cents: DataFrame, v: Column, nprobe: Int): Column = {
    val (m, ids) = centroidMatrix(cents)
    graft.functions.VectorOps.vecNearestCentroids(v, m, ids, nprobe)
  }

  /** Lloyd training runs as broadcast-centroids + per-partition partial sums
    * over the vectors — ONE job and zero new Catalyst plans per
    * iteration. (A DataFrame loop re-optimizes and re-codegens 3 shuffles
    * every iteration; that compilation dominated this operator's wall time.)
    * The broadcast is k×dim doubles; per-partition partials fan in through
    * [[treeMergePartials]], so driver state is ≤ fanout·k·dim doubles at
    * ANY scan partition count (r16 fix — the flat collect was O(P·k·dim),
    * tens of GB at 100 TB's ~10⁵ partitions) and double-sum order is a
    * fixed tree, so training is deterministic. Ties in the argmin keep the
    * lowest cell id, matching assignCells' min(struct(d2, cell, ...))
    * ordering.
    *
    * The 3 Lloyd iterations are 4 synchronous driver-blocking jobs — by far
    * this operator family's dominant cost — and training is deterministic,
    * so every call retrains to the same centroids. The result is a local
    * (k-row) frame. */
  private[graft] def trainedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lloydCentroids(spark, ivfVecs(spark, dir),
      graft.Tables.embeddingDim(spark, dir), ivfK(spark, dir))
      .zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "c")
  }

  /** Deterministic fan-in tree merge of per-partition trainer partials,
    * bounding DRIVER state to ≤ fanout partials regardless of scan
    * partition count (r16 verdict: the flat `.collect()` of per-partition
    * (sums, counts) is O(P·k·dim) on the driver — tens of GB at 100 TB's
    * ~10⁵ partitions with √n-scaled k; the EmbedStats treeAggregate
    * precedent, made ORDER-FIXED here because double addition is not
    * associative and the trainers' output must be bit-reproducible).
    *
    * Determinism: group membership at each level is pid/fanout (fixed by
    * the partition layout, not by task completion order), within-group
    * merge order is ascending pid via an explicit sort + reduceLeft, and
    * group indices preserve global order across levels — so the fold tree
    * is a pure function of (nParts, fanout). With nParts ≤ fanout (every
    * probe corpus: ≤ 32 scan partitions) no level fires and the result is
    * the exact collect-and-sort the trainers always did — bit-identical
    * centroids, spec-pinned. `merge` may mutate its left argument: each
    * task sees its own shuffle-deserialized copies (the EmbedStats
    * in-place-mutation argument). */
  private[llm] def treeMergePartials[P](partials: org.apache.spark.rdd.RDD[(Int, P)],
                                   nParts: Int, merge: (P, P) => P,
                                   fanout: Int = 32)
                                  (implicit ct: scala.reflect.ClassTag[P]): Array[(Int, P)] = {
    var cur = partials
    var n = nParts
    while (n > fanout) {
      n = (n + fanout - 1) / fanout
      cur = cur.map { case (pid, p) => (pid / fanout, (pid, p)) }
        .groupByKey(math.max(1, n))
        .map { case (g, it) =>
          (g, it.toArray.sortBy(_._1).map(_._2).reduceLeft(merge))
        }
    }
    cur.collect().sortBy(_._1)
  }

  /** The Lloyd core behind [[trainedCentroids]], reusable over any
    * (vec_id, v) frame (r13: the incremental vector index trains on the
    * base split only). Deterministic init: the k lowest vec_ids (cells
    * renumbered 0..k-1) — expressed as TakeOrdered so it holds on any id
    * domain, and identical to the historical `vec_id < k` filter on the
    * dense-from-0 full corpus. */
  private[graft] def lloydCentroids(spark: SparkSession, vecs: DataFrame,
                                    dim: Int, k: Int, iters: Int = 3): Array[Array[Double]] = {
    import spark.implicits._
    // primitive arrays end to end: at √n-scaled k the assignment loop is
    // k·dim·n·iters operations (17 Gflop at the 100× probe's k=447), and a
    // boxed Seq[Double] element access inside it cost ~600 s where the
    // unboxed loop costs seconds — the r13 100× ANN probe's finding
    val rdd = vecs.as[(Long, Seq[Double])].rdd
      .map { case (id, v) => (id, v.toArray) }
    var cents: Array[Array[Double]] = vecs.orderBy(col("vec_id")).limit(k)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)

    // merge b into a (in place; both are task-local or driver-local copies)
    def mergeP(a: (Array[Array[Double]], Array[Long]),
               b: (Array[Array[Double]], Array[Long])): (Array[Array[Double]], Array[Long]) = {
      var c = 0
      while (c < a._2.length) {
        var i = 0
        while (i < dim) { a._1(c)(i) += b._1(c)(i); i += 1 }
        a._2(c) += b._2(c)
        c += 1
      }
      a
    }
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cents)
      val partialsRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
        val cs = bc.value
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val counts = new Array[Long](cs.length)
        it.foreach { case (_, v) =>
          val cell = nearestCellArr(v, cs, dim)
          val s = sums(cell)
          var i = 0
          while (i < dim) { s(i) += v(i); i += 1 }
          counts(cell) += 1
        }
        Iterator.single((pid, (sums, counts)))
      }
      val merged = treeMergePartials(partialsRdd, rdd.getNumPartitions, mergeP)
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      merged.foreach { case (_, p) => mergeP((sums, counts), p) }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c) // an emptied cell keeps its centroid
        else sums(c).map(_ / counts(c))
      }
      bc.destroy()
    }
    cents
  }

  /** Executor-side nearest-centroid argmin. Fails loudly on ragged vectors,
    * like the zip_with DataFrame paths (where a short vector null-poisons
    * the score): a partial distance computed over a truncated prefix would
    * silently mis-assign. */
  private[graft] def nearestCell(v: Seq[Double], cs: Array[Array[Double]],
                                 dim: Int): Int =
    nearestCellArr(v.toArray, cs, dim)

  /** Primitive-array argmin — the hot trainer loop. A Seq[Double] here
    * boxes every element access: ~600 s vs seconds at the 100× probe's
    * k=447 (r13). Same fold and strict-< tie-break as every other cell
    * kernel. */
  private[graft] def nearestCellArr(v: Array[Double], cs: Array[Array[Double]],
                                    dim: Int): Int = {
    require(v.length == dim, s"ragged embedding: length ${v.length}, expected $dim")
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val w = cs(c)
      var d = 0.0; var i = 0
      while (i < dim) { val t = v(i) - w(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def simSearchIvfImpl(spark: SparkSession, dir: String,
                               returnCandidates: Boolean): DataFrame = {
    val nprobe = 4
    val vecs = ivfVecs(spark, dir)
    val centroids = trainedCentroids(spark, dir)
    val index = assignCells(vecs, centroids).drop("d2c")

    // probe: nprobe nearest cells per query via the shared literal-centroid
    // expression (r12 — the crossJoin(broadcast(centroids)) + row_number
    // formulation planned a BroadcastNestedLoopJoin and a query-side
    // window; this is map-only)
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q"))
    val probes = queries.select(col("query_id"), col("q"),
      explode(probeCellsExpr(centroids, col("q"), nprobe)).as("cell"))

    val candidates = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    if (returnCandidates) return candidates

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .withColumn("cosine", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** `sim_search_ivfpq` — IVF + product quantization with asymmetric
    * distance computation (ADC) and an exact refine pass: the memory-scale
    * path past plain IVF. Jégou et al., "Product Quantization for Nearest
    * Neighbor Search" (TPAMI 2011) — the structure FAISS's IndexIVFPQ
    * implements:
    *
    *  1. coarse quantizer = the IVF centroids ([[trainedCentroids]]);
    *  2. RESIDUALS r = v − c(cell) are split into M=4 subspaces and each
    *     subspace gets its own ks=16-entry codebook (Lloyd, same
    *     deterministic broadcast+partition-ordered-partial-sum pattern as
    *     the coarse training — driver state M×ks×(dim/M) doubles);
    *  3. every vector is ENCODED as M small codes — 4 bytes instead of
    *     dim×4 float bytes (64× compression at dim=64): at 100 TB the
    *     encoded index for a 10^10-vector corpus is ~40 GB, small enough to
    *     keep hot, while raw vectors stay in cold storage and are touched
    *     only by the refine join;
    *  4. queries probe nprobe=4 cells; per (query, cell) a LUT of
    *     per-subspace squared distances to the query's residual is
    *     DRIVER-computed (nqueries×nprobe×M×ks doubles — bounded) and
    *     broadcast; the ADC scan is then a pure table-lookup sum per
    *     encoded candidate — no float vector is read;
    *  5. the ADC top-20 per query get EXACT cosine re-ranking (FAISS's
    *     refine stage) by joining the true vectors back — touching 20
    *     vectors per query, not the cell.
    *
    * Approximate by design (PQ cells + ADC ranking) → rows-only driver
    * check; the spec pins recall@5 >= 0.8 against the oracle-checked exact
    * [[simSearchTopk]], and determinism across invocations. */
  def simSearchIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqWithCodes(spark, dir)._1

  /** [[simSearchIvfPq]]'s result and the encoded index it scanned
    * (vec_id, cell, codes) — the spec checks the codes' structure. */
  private[graft] def ivfPqWithCodes(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val M = 8
    val ks = 16
    val nprobe = 4
    val refine = 64

    import spark.implicits._
    val vecs = ivfVecs(spark, dir)
    val centroids = trainedCentroids(spark, dir)
    // checkpointed: the codebook init, both training passes and the
    // encoding read it
    val index = assignCells(vecs, centroids).drop("d2c").localCheckpoint()

    // centroid matrix driver-side: k×dim doubles — the same bounded state
    // the coarse trainer already collects
    val centArr: Array[Array[Double]] = centroids.as[(Long, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
    val dim = centArr.head.length // the training's embedding dimensionality
    require(dim % M == 0, s"dim $dim not divisible into $M subspaces")
    val sub = dim / M

    def residual(v: Seq[Double], cell: Int): Array[Double] = {
      val c = centArr(cell)
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    def subDist(r: Array[Double], m: Int, code: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < sub) { val t = r(m * sub + i) - code(i); d += t * t; i += 1 }
      d
    }

    // per-subspace codebooks trained on residuals — Lloyd with the same
    // broadcast + partition-ordered partial merge as the coarse quantizer,
    // all M subspaces in ONE pass per iteration (driver state M×ks×sub)
    val codebooks: Array[Array[Array[Double]]] = {
      val rdd = index.select("vec_id", "v", "cell")
        .as[(Long, Seq[Double], Long)].rdd
      // deterministic init: residuals of the ks lowest vec_ids
      var cbs: Array[Array[Array[Double]]] = {
        val seed = index.filter(col("vec_id") < ks)
          .select("vec_id", "v", "cell").as[(Long, Seq[Double], Long)]
          .collect().sortBy(_._1)
          .map { case (_, v, cell) => residual(v, cell.toInt) }
        Array.tabulate(M)(m => seed.map(r =>
          java.util.Arrays.copyOfRange(r, m * sub, (m + 1) * sub)))
      }
      // merge b into a (in place) — the [[treeMergePartials]] op, so the
      // driver holds ≤ fanout partials instead of O(P) (r16 fix)
      def mergeP(a: (Array[Array[Array[Double]]], Array[Array[Long]]),
                 b: (Array[Array[Array[Double]]], Array[Array[Long]])): (Array[Array[Array[Double]]], Array[Array[Long]]) = {
        var m = 0
        while (m < M) {
          var j = 0
          while (j < ks) {
            var i = 0
            while (i < sub) { a._1(m)(j)(i) += b._1(m)(j)(i); i += 1 }
            a._2(m)(j) += b._2(m)(j)
            j += 1
          }
          m += 1
        }
        a
      }
      (1 to 2).foreach { _ =>
        val bc = spark.sparkContext.broadcast(cbs)
        val partialsRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
          val cb = bc.value
          val sums = Array.fill(M, ks)(new Array[Double](sub))
          val counts = Array.fill(M)(new Array[Long](ks))
          it.foreach { case (_, v, cell) =>
            val r = residual(v, cell.toInt)
            var m = 0
            while (m < M) {
              var best = 0; var bestD = Double.MaxValue
              var j = 0
              while (j < ks) {
                val d = subDist(r, m, cb(m)(j))
                if (d < bestD) { bestD = d; best = j }
                j += 1
              }
              val s = sums(m)(best)
              var i = 0
              while (i < sub) { s(i) += r(m * sub + i); i += 1 }
              counts(m)(best) += 1
              m += 1
            }
          }
          Iterator.single((pid, (sums, counts)))
        }
        val merged = treeMergePartials(partialsRdd, rdd.getNumPartitions, mergeP)
        val sums = Array.fill(M, ks)(new Array[Double](sub))
        val counts = Array.fill(M)(new Array[Long](ks))
        merged.foreach { case (_, p) => mergeP((sums, counts), p) }
        cbs = Array.tabulate(M, ks) { (m, j) =>
          if (counts(m)(j) == 0) cbs(m)(j)
          else sums(m)(j).map(_ / counts(m)(j))
        }
        bc.destroy()
      }
      cbs
    }

    // encode the corpus: M codes per vector — the compressed index
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val encoded = index.select("vec_id", "v", "cell").as[(Long, Seq[Double], Long)]
      .mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (id, v, cell) =>
          val r = residual(v, cell.toInt)
          val codes = new Array[Int](M)
          var m = 0
          while (m < M) {
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < ks) {
              val d = subDist(r, m, cb(m)(j))
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            codes(m) = best
            m += 1
          }
          (id, cell, codes.toSeq)
        }
      }.toDF("vec_id", "cell", "codes")

    // queries + probes + LUTs: all driver-side bounded state
    // (10 queries × nprobe cells × M×ks doubles)
    val queries: Array[(Long, Array[Double])] = vecs.filter(col("vec_id") < 10)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) }
    val luts: Map[(Long, Long), Array[Array[Double]]] = queries.flatMap {
      case (qid, q) =>
        val cellsByDist = centArr.zipWithIndex.map { case (c, cell) =>
          var d = 0.0; var i = 0
          while (i < dim) { val t = q(i) - c(i); d += t * t; i += 1 }
          (d, cell)
        }.sortBy(identity).take(nprobe).map(_._2)
        cellsByDist.map { cell =>
          val r = residual(q.toSeq, cell)
          val lut = Array.tabulate(M, ks)((m, j) => subDist(r, m, codebooks(m)(j)))
          ((qid, cell.toLong), lut)
        }
    }.toMap
    val bcLut = spark.sparkContext.broadcast(luts)

    // ADC scan: per encoded candidate, distance = sum of M table lookups
    val adc = encoded.as[(Long, Long, Seq[Int])].mapPartitions { it =>
      val lut = bcLut.value
      it.flatMap { case (id, cell, codes) =>
        lut.iterator.collect {
          case ((qid, c), tab) if c == cell && qid != id =>
            var d = 0.0; var m = 0
            while (m < M) { d += tab(m)(codes(m)); m += 1 }
            (qid, id, d)
        }
      }
    }.toDF("query_id", "vec_id", "adc")

    // ADC top-`refine` per query, then exact cosine re-rank of those few
    val wa = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val shortlist = adc
      .withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= refine)
      .select("query_id", "vec_id")

    val qdf = queries.toSeq.map { case (id, q) => (id, q.toSeq) }.toDF("query_id", "q")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    (shortlist
      .join(vecs, "vec_id")
      .join(broadcast(qdf), "query_id")
      .withColumn("cosine", cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank"), encoded)
  }

  /** `sim_knn_graph` — the all-corpus k-nearest-neighbor graph (k=3) every
    * semantic-clustering / SemDeDup-style curation stage starts from, built
    * on the shared IVF index instead of the O(n²) all-pairs join:
    *
    *  1. every vector is assigned to its cell (the
    *     [[trainedCentroids]] + [[assignCells]] index — the same build as
    *     `sim_search_ivf`/`sim_search_ivfpq`/`dedup_semantic`);
    *  2. every vector PROBES its nprobe=5 nearest cells (a per-vector
    *     window over the n×k broadcast-centroid distances — k is the only
    *     fan-out, no corpus self-join yet);
    *  3. candidates = probes ⋈ index on cell, ids-only, SYMMETRIZED —
    *     (a,b) is a candidate if either endpoint probes the other's home
    *     cell — then canonicalized to unordered pairs and deduped (a hash
    *     shuffle where each cell contributes |cell| × probes-landing
    *     pairs; with the FAISS rule k ~ √n, per-cell work stays √n-bounded
    *     and candidate volume is n·√n·nprobe/… instead of n²; a skewed hot
    *     cell is AQE skew-join territory, same as every bucketed family
    *     member);
    *  4. vectors re-join for the surviving pairs only; exact cosine scored
    *     ONCE per unordered pair (cosine is symmetric), mirrored into both
    *     directions, per-vector top-k window.
    *
    * k-means cells are not SQL-expressible → rows-only driver check; the
    * spec (LlmOpsSpec "sim_knn_graph: recall@3…") pins mean recall@3 ≥ 0.8
    * against the exact brute-force graph plus the structural contract (no
    * self-edges, ≤ k neighbors, contiguous ranks, determinism). Measured
    * 0.52 asymmetric/nprobe=3 → 0.69 symmetric → green at nprobe=5. */
  def simKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    // 6 (was 5): the r13 √n nlist shrank the probed cell FRACTION at spec
    // scale (5/16 → 5/22) and recall@3 grazed 0.799 against the 0.8 spec
    // floor; one more probe buys it back at +20% candidates while keeping
    // the n·nprobe·√n asymptote. nprobe stays constant by design — scaling
    // it with nlist would put per-query candidates back at Θ(n).
    val nprobe = 6
    val k = 3
    val vecs = ivfVecs(spark, dir)
    val centroids = trainedCentroids(spark, dir)
    val index = assignCells(vecs, centroids).drop("d2c")

    // top-nprobe cell selection is MAP-ONLY via the shared literal-centroid
    // expression — no centroid join and, unlike a crossJoin+row_number
    // formulation, NO corpus-wide window shuffle for the probe list.
    val probes = vecs.select(
      col("vec_id").as("qid"), col("v").as("vq"),
      explode(probeCellsExpr(centroids, col("v"), nprobe)).as("cell"))

    // SYMMETRIC candidates (the r12 recall fix — asymmetric probing
    // measured recall@3 = 0.52 on testdata): edge (a,b) is a candidate if
    // EITHER endpoint probes the other's home cell, because a boundary
    // vector's true neighbor often sits in a cell the vector itself does
    // not probe while the neighbor probes back.
    //
    // r13 plan rework: score INSIDE the cell join. The r12 formulation was
    // ids-only candidates + distinct + two vector re-joins — the dedup
    // family's discipline, but wrong here: with candidates at n·nprobe·√n
    // the SECOND re-join shuffled every candidate row dragging a dim-sized
    // array (measured ~9 GB of exchange at 10×, the bulk of 731 CPU-s).
    // Scoring in the join stage means the only vector-bearing exchanges
    // are the INPUTS (index: n rows, probes: n·nprobe rows — ~70 MB at
    // 10×); the scored output leaves the stage as narrow (id, id, double)
    // rows and pair-dedup happens AFTER scoring via groupBy-max (cosine is
    // a pure function of the pair, so max = dedup; the fold is
    // bit-deterministic because dot(a,b) ≡ dot(b,a) term-for-term).
    val hits = index.select(col("cell"), col("vec_id"), col("v"))
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("vq"), col("v")).as("cosine"))
    val directed = hits
      .select(col("qid").as("vid"), col("vec_id").as("nid"), col("cosine"))
      .union(hits.select(col("vec_id").as("vid"), col("qid").as("nid"), col("cosine")))
      .groupBy("vid", "nid").agg(max(col("cosine")).as("cosine"))

    val w = Window.partitionBy("vid").orderBy(col("cosine").desc, col("nid"))
    directed
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("vid").as("vec_id"), col("rank"),
        col("nid").as("neighbor_id"), col("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** `embed_quantize_int8` — symmetric per-vector int8 scalar quantization
    * (the storage/serving compression every large ANN deployment applies
    * before or alongside PQ): scale = 127/max|xᵢ|, qᵢ = round(xᵢ·scale) ∈
    * [−127, 127] — 4× smaller than float32 with the per-vector max-abs
    * preserved exactly for dequantization. Map-only (explode is the output
    * shape, not a shuffle); at 100 TB this is a pure scan→project pass
    * whose output is column-prunable. round() is half-away-from-zero in
    * both engines and the single multiply-divide chain is IEEE-identical,
    * so the key triple-matches despite the float math. */
  def embedQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("ve"))
    vecs
      .withColumn("max_abs", array_max(transform(col("ve"), x => abs(x))))
      .select(col("vec_id"), col("max_abs"), posexplode(col("ve")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast(LongType).as("i"), col("max_abs"),
        when(col("max_abs") === 0d, 0L)
          .otherwise(round(col("x") * lit(127d) / col("max_abs")).cast(LongType)).as("q"))
      .orderBy("vec_id", "i")
  }

  /** `embed_random_projection` — Johnson–Lindenstrauss sign projection to
    * 16 dims over the int8-quantized embedding: pⱼ = Σᵢ qᵢ·sᵢⱼ with
    * sᵢⱼ ∈ {±1} drawn from md5 parity (the Achlioptas construction with a
    * hash-derived matrix, so BOTH engines can regenerate it — no shipped
    * state). Everything after quantization is integer arithmetic, so the
    * sums are order-independent and the key triple-matches exactly —
    * unlike a float projection, whose sum order would diverge between
    * engines. At 100 TB this is the dimensionality-reduction pass ahead of
    * ANN: map-only (no shuffle before the presentation sort), output 4×
    * narrower than the input vectors, and the sign matrix is 16×dim driver
    * literals folded into codegen — the dot products run in the fused
    * [[graft.functions.VectorOps.vecDot]] kernel (exact for these
    * magnitudes: |pⱼ| ≤ 127·dim ≪ 2^53). */
  def embedRandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.embeddingDim(spark, dir)
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("ve"))
      .withColumn("max_abs", array_max(transform(col("ve"), x => abs(x))))
      .withColumn("q", when(col("max_abs") === 0d,
          transform(col("ve"), _ => lit(0d)))
        .otherwise(transform(col("ve"), x => round(x * lit(127d) / col("max_abs")))))
    val projCols = (0 until 16).map { j =>
      val signs = array((0 until dim).map(i => lit(rpSign(j, i).toDouble)): _*)
      graft.functions.VectorOps.vecDot(col("q"), signs).cast(LongType).as(s"p$j")
    }
    vecs.select(col("vec_id") +: projCols: _*).orderBy("vec_id")
  }

  /** ±1 sign for projection row `j`, input dim `i`: parity of md5's first
    * hex digit over "rp:j:i" — reproducible in any engine with md5. */
  private[graft] def rpSign(j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  /** `sim_search_lsh` — the approximate scale path: random-hyperplane LSH
    * buckets as a coarse quantizer (IVF-style); each query probes its own
    * bucket per band PLUS the band's Hamming-1 neighbor buckets
    * (multi-probe LSH: flipping each of the 4 band bits costs 5 probes per
    * band but recovers neighbors that disagree on one marginal hyperplane —
    * on this near-orthogonal synthetic corpus that lifts recall@5 vs the
    * exact answer from ~0.5 to ~0.9, pinned by the spec at >= 0.8).
    * Probe fan-out multiplies only the broadcast QUERY side — 20 (band,
    * key) probes per query — while the corpus is still scanned and banded
    * exactly once; candidate volume per query stays bucket-sized.
    * Approximate → no SQL oracle (driver rows-only check); the exact
    * verifier is still applied inside probed buckets. */
  def simSearchLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    val candidates = lshCandidates(spark, dir)
      .withColumn("cosine", cosine(col("q"), col("v")))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Candidate set of [[simSearchLshBucketed]] (post multi-probe bucket
    * join + distinct, pre scoring) — the probe-measurable boundary for
    * candidate-volume growth, same code path as the query key. */
  private[graft] def lshCandidates(spark: SparkSession, dir: String): DataFrame = {
    // derive from data: a dim mismatch null-poisons zip_with and silently
    // degenerates the LSH to one bucket (full cross join)
    val dim = graft.Tables.embeddingDim(spark, dir)
    val nPlanes = 16
    val bandBits = 4
    val nBands = nPlanes / bandBits

    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))

    def plane(p: Int): Column = {
      val rnd = new scala.util.Random(7000 + p)
      array(Array.fill(dim)(lit(rnd.nextDouble() * 2 - 1)): _*)
    }
    val signBit = (p: Int) =>
      when(graft.functions.VectorOps.vecDot(col("v"), plane(p)) > 0, 1L).otherwise(0L)

    val sigs = vecs.withColumn("bits", array((0 until nPlanes).map(signBit): _*))
    val bands = sigs.select(col("vec_id"), col("v"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          (0 until bandBits).foldLeft(lit(0L): Column)((acc, j) =>
            acc * 2 + element_at(col("bits"), b * bandBits + j + 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("bk.band"), col("bk.key"))

    // multi-probe: the band's own key, then each single-bit flip of it
    val probeMasks = 0L +: (0 until bandBits).map(j => 1L << j)
    val queryBands = bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q"),
        col("band").as("qband"),
        explode(array(probeMasks.map(m => col("key").bitwiseXOR(lit(m))): _*)).as("qkey"))

    bands.join(broadcast(queryBands),
        col("band") === col("qband") && col("key") === col("qkey") &&
          col("vec_id") =!= col("query_id"))
      .select("query_id", "q", "vec_id", "v")
      .distinct()
  }

  /** `sim_hard_negatives` constants, interpolated into the oracle SQL so
    * the two sides cannot drift (the countmin rule). */
  object HardNeg {
    val Anchors = 8       // bounded anchor sample: the NA smallest doc_ids
    val Negatives = 2     // hard negatives mined per anchor
    val PosThreshold = 0.8 // 3-gram Jaccard floor defining "positive"
    val NegCeiling = 0.2   // lexical ceiling: a hard negative must NOT be a near-dup
  }

  /** Staged exact anchor search for [[simHardNegatives]]: the anchors are
    * the [[HardNeg.Anchors]] smallest doc_ids owning a J ≥ 0.8 partner,
    * each with its positive chosen by argmax (jaccard, min partner id).
    * The r13 form ran the exact prefix-filter join over the WHOLE corpus
    * and kept 8 rows — paying ~34 executor-CPU-s at sf0.1 for the full
    * pair set just to select the smallest ids. Exactness lemma for the
    * staged form: [[Dedup.setsimPrefixPairs]] restricted to min-id < K
    * keeps the COMPLETE pair set of every document with doc_id < K (a
    * pair (a, p) with a < K has min(a, p) ≤ a < K), so both anchor
    * membership and the positive argmax are exact for ids < K; and once
    * ≥ NA anchors with id < K exist, the NA smallest anchors overall all
    * have id < K and are exactly the NA found. The lemma holds for ANY
    * bound value, so the stage ladder is free to pick its K's for cost:
    * it walks the OBSERVED id distribution — K_i = the doc_id at rank
    * ≈ firstBound·8^i (one approxQuantile pass seeds the whole ladder) —
    * rather than the raw id value space, so the stage count is
    * ≤ log8(n/firstBound)+1 even when doc_ids are sparse or hashed
    * (value-space ×8 growth from 256 could walk ~log8(maxId) ≈ 20 stages
    * of a 2^63 hashed id space, each re-shuffling the checkpointed prefix
    * index; ADVICE r14). The final rung is the unbounded join. Per-stage
    * candidate volume grows ~×8 in ROWS by construction, so the total
    * stays within a constant factor of the final stage. Driver state: NA
    * (id, positive) pairs per stage + the ladder (≤ ~log8(n) longs) —
    * O(NA). Spec-pinned equal to the unbounded join's anchors
    * (LlmOpsSpec). */
  /** The rank-seeded bound ladder for [[stagedAnchors]]: doc_id values at
    * observed ranks ≈ firstBound·8^i (one bounded-state approxQuantile
    * pass), final rung unbounded. Walking RANKS instead of the raw id
    * value space bounds the stage count at ⌈log8(n/firstBound)⌉ + 1
    * regardless of how sparse or hashed the id domain is — the property
    * the r15 advice asked to pin (each extra stage re-shuffles the
    * checkpointed prefix index, so a 2^63 value-space walk would cost ~20
    * re-shuffles). Spec: LlmOpsSpec asserts the bound on a hashed-sparse
    * id domain. */
  private[graft] def anchorLadder(shsSel: DataFrame, nDocs: Long,
                                  firstBound: Long): Seq[Long] = {
    val fracs = Iterator.iterate(firstBound.toDouble)(_ * 8)
      .takeWhile(_ < nDocs).map(_ / nDocs).toArray
    (if (fracs.isEmpty) Seq.empty[Long]
     else shsSel.stat.approxQuantile("doc_id", fracs, 0.01)
       .map(q => math.max(q.toLong + 1, firstBound)).toSeq)
      .distinct.sorted :+ Long.MaxValue
  }

  private[graft] def stagedAnchors(
      spark: SparkSession, dir: String, sigDocs: DataFrame,
      firstBound: Long = 256L): DataFrame = {
    import HardNeg._
    import spark.implicits._
    val shsSel = sigDocs.select(col("doc_id"), col("shs"))
    // checkpointed: every stage of the ladder probes the same prefix index
    val prefix = Some(Dedup.setsimPrefixIndex(shsSel, 8, 10).localCheckpoint())

    def anchorsBelow(bound: Long): Array[(Long, Long)] = {
      val pairs = Dedup.setsimPrefixPairs(spark, shsSel, 8, 10, bound, prefix)
      // symmetrize, then keep only anchors whose pair set is provably
      // complete under the bound (the larger side of a kept pair may have
      // id ≥ bound and be missing pairs where IT is the smaller side)
      val sym = pairs.select(col("doc_a").as("anchor_id"), col("doc_b").as("p"), col("jaccard"))
        .unionAll(pairs.select(col("doc_b").as("anchor_id"), col("doc_a").as("p"), col("jaccard")))
        .filter(col("anchor_id") < bound)
      val wPos = Window.partitionBy("anchor_id").orderBy(col("jaccard").desc, col("p"))
      sym.withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
        .select(col("anchor_id"), col("p"))
        .orderBy("anchor_id").limit(Anchors)
        .as[(Long, Long)].collect()
    }

    // Rank-seeded bound ladder: ids at observed ranks ~firstBound·8^i (one
    // bounded-state quantile pass), final rung unbounded. Any bound is
    // exact per the lemma above; rank-targeting only fixes the stage count
    // at log8(n/firstBound) independent of how sparse the id space is.
    val ladder = anchorLadder(shsSel, shsSel.count(), firstBound)
    var found = Array.empty[(Long, Long)]
    var i = 0
    while (found.length < Anchors && i < ladder.length) {
      found = anchorsBelow(ladder(i))
      i += 1
    }
    spark.createDataset(found.toSeq).toDF("anchor_id", "positive_id")
  }

  /** `sim_hard_negatives` — contrastive-pair mining for embedding-model
    * training: for each anchor document that has a lexical near-duplicate
    * (3-gram Jaccard ≥ 0.8 — the positive), mine the top-k HARD negatives:
    * the highest-cosine documents that are NOT lexical near-dups of the
    * anchor (Jaccard < 0.2). High-cosine/low-overlap is exactly the pair a
    * contrastive loss learns the most from (semantically close, lexically
    * distinct); this is the data-side mining step of a dual-encoder
    * training pipeline run directly on the lake.
    *
    * Determinism & oracle: anchors are the [[HardNeg.Anchors]] smallest
    * doc_ids with a verified partner (`orderBy.limit` → TakeOrdered,
    * driver state O(NA)); the positive is the argmax-(jaccard, min-id)
    * partner; negatives rank by the exact fused-cosine kernel, so every
    * number is reproducible arithmetic and the whole pipeline has a
    * COMPLETE DuckDB mirror (near-dup CTE + cosine CTE + two windows).
    *
    * Plan shape at 100 TB: the near-dup pair set comes from the EXACT
    * prefix-filter join at t = 0.8 ([[graft.llm.Dedup.setsimPrefixPairs]] —
    * recall 1.0, no all-pairs join, so the mirror really is drift-proof),
    * run as a STAGED id-prefix search (see [[stagedAnchors]]) so anchor
    * selection pays for the anchor prefix, not the corpus pair set;
    * the bounded anchor frame
    * (vector + shingle set, NA rows) BROADCASTS and candidates stream
    * through one codegen'd scan-score projection — cosine via the fused
    * kernel, anchor-Jaccard via the sorted-set two-pointer merge against
    * the broadcast set; no shuffle touches the corpus until the per-anchor
    * top-k, whose literal rank bound keeps WindowGroupLimit's partial
    * top-k ahead of the exchange (the sim_search_topk contract). */
  def simHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import HardNeg._
    val sigDocs = Dedup.minhashSignatureIndex(spark, t(spark, dir, "documents"))
    val anchors = stagedAnchors(spark, dir, sigDocs)

    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val aFull = anchors
      .join(vecs.select(col("vec_id").as("anchor_id"), col("v").as("qv")), "anchor_id")
      .join(sigDocs.select(col("doc_id").as("anchor_id"), col("shs").as("qsh")), "anchor_id")

    // candidate scan: every embedded doc, shingle set optional (a doc too
    // short to shingle has Jaccard 0 vs everything — eligible negative)
    val corpus = vecs.join(
      sigDocs.select(col("doc_id").as("vec_id"), col("shs")), Seq("vec_id"), "left")
    val inter = when(col("shs").isNull, lit(0))
      .otherwise(graft.functions.SortedSetOps.sortedIntersectSize(col("qsh"), col("shs")))
    val scored = corpus.join(broadcast(aFull), col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", cosine(col("qv"), col("v")))
      .withColumn("jac", inter.cast(DoubleType) /
        // coalesce the ARRAY, not the size: under legacy.sizeOfNull=true,
        // size(NULL) is -1 (not NULL), so coalesce(size(...)) never fires
        // and the union denominator loses 1 per shingle-less doc — same
        // fix as annRecallContract's ann_set (r16 advice)
        (size(col("qsh")) +
          size(coalesce(col("shs"), array().cast("array<bigint>"))) - inter))
      .filter(col("jac") < NegCeiling)

    val wNeg = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("neg_rank", row_number().over(wNeg).cast(LongType))
      .filter(col("neg_rank") <= Negatives)
      .select(col("anchor_id"), col("positive_id"), col("neg_rank"),
        col("vec_id").as("negative_id"), col("cosine"))
      .orderBy("anchor_id", "neg_rank")
  }
}
