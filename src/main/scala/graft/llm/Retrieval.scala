package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** The retrieval stack over the corpus: lexical ranking (BM25), dense/sparse
  * hybrid fusion (reciprocal-rank fusion), and radius search — the query-side
  * operators a RAG / retrieval-augmented training pipeline runs against the
  * same lake the curation operators build. All three follow the repo's
  * determinism discipline: scores snap to integer micro-units BEFORE any
  * order-dependent fold, ranks tie-break on ids, and the DuckDB oracles
  * reproduce every arithmetic step in the same IEEE order.
  */
object Retrieval {

  /** BM25 free parameters (Robertson–Spärck Jones defaults). Interpolated
    * into the oracle SQL from here so the two sides cannot drift. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The fixed query-term set: four high-df terms plus the one genuinely
    * rare corpus token ("dup", df 25/500 — the discriminative, high-idf
    * term that dominates the ranking, exactly BM25's design case). */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "scan", "vector", "dup")

  val Bm25TopK = 10

  /** `text_bm25_topk` — Okapi BM25 ranking of every document against the
    * fixed query [[Bm25Terms]]:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)); each term's contribution snaps
    * to integer micro-units before the per-doc sum (order-independent
    * exact BIGINT fold, the family's standard numeric contract).
    *
    * Plan shape at 100 TB: because the query is a LITERAL term set, the
    * corpus statistics the formula needs collapse to |Q|+2 numbers — one
    * scan computes N, Σdl, and per-term document frequencies as
    * conditional counts (the etl_quality_audit single-scan pattern), the
    * bounded result collects to the driver and returns as literals. The
    * scoring pass is then MAP-ONLY — per-term tf via a codegen'd array
    * filter, no explode, no join, no shuffle — and the top-k is
    * orderBy().limit(k) = TakeOrderedAndProject (per-task heaps, driver
    * merges P·k rows). Total: one bounded aggregate + zero wide shuffles.
    */
  def textBm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))

    // one scan: N, sum(dl), df per query term (bounded |Q|+2 aggregate)
    val aggCols = Seq(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl")) ++ Bm25Terms.map(term =>
      sum(when(array_contains(col("toks"), term), 1L).otherwise(0L)).as(s"df_$term"))
    val statsRow = docs.agg(aggCols.head, aggCols.tail: _*).head()
    val nDocs = statsRow.getAs[Long]("n")
    val avgdl = statsRow.getAs[Long]("sum_dl").toDouble / nDocs.toDouble

    // per-term contribution in micro-units; arithmetic order mirrors the
    // oracle SQL text exactly (same parenthesization → same IEEE doubles)
    def contrib(term: String): Column = {
      val df = statsRow.getAs[Long](s"df_$term")
      val idf = log(lit(1.0) + lit((nDocs - df).toDouble + 0.5) / lit(df.toDouble + 0.5))
      val tf = size(filter(col("toks"), x => x === lit(term)))
      round((idf * ((tf * lit(Bm25K1 + 1)) /
        (tf + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * (col("dl") / lit(avgdl)))))) * 1e6)
        .cast(LongType)
    }

    docs
      .withColumn("score_micro", Bm25Terms.map(contrib).reduce(_ + _))
      .select(col("doc_id"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Oracle SQL for `text_bm25_topk`, generated from the same constants. */
  def bm25OracleSql: String = {
    val dfSelects = Bm25Terms.map(term =>
      s"sum(CASE WHEN list_contains(toks, '$term') THEN 1 ELSE 0 END) AS df_$term").mkString(", ")
    val k1p1 = Bm25K1 + 1
    val oneMinusB = 1 - Bm25B
    val contribs = Bm25Terms.map { term =>
      val tf = s"len(list_filter(toks, x -> x = '$term'))"
      s"CAST(round((ln(1.0 + ((n - df_$term) + 0.5) / (df_$term + 0.5)) * " +
        s"(($tf * $k1p1) / ($tf + $Bm25K1 * ($oneMinusB + $Bm25B * (dl / avgdl))))) * 1000000.0) AS BIGINT)"
    }.mkString(" + ")
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS dl " +
      "FROM documents WHERE text IS NOT NULL), " +
      s"st AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl, $dfSelects FROM d) " +
      s"SELECT doc_id, CAST($contribs AS BIGINT) AS score_micro FROM d CROSS JOIN st " +
      s"ORDER BY score_micro DESC, doc_id LIMIT $Bm25TopK"
  }

  /** Ranks deeper lists feed the fusion; the fused output keeps the top 10. */
  val RrfDepth = 20
  val RrfK = 60
  val RrfTopK = 10

  private def vecsOf(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))

  private def densePairs(spark: SparkSession, dir: String): DataFrame = {
    // the |Q|·dim cosine fan-out is CPU-dense per scanned byte: heal scan
    // starvation on dense single-file inputs (probe #21 rollout queue —
    // sim_search_hybrid_rrf read 39 s wall at parallelism ~1 at 100×);
    // byte-floored no-op at sf0.1 and at real file counts
    val vecs = Dedup.healScanStarvation(vecsOf(spark, dir), col("vec_id"))
    val queries = vecsOf(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q"))
    vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        Similarity.cosine(col("q"), col("v")))
  }

  /** `sim_search_hybrid_rrf` — hybrid dense+sparse retrieval fused by
    * reciprocal-rank fusion (Cormack et al., SIGIR 2009): for each query
    * document (doc_id < 10, vec_id-aligned),
    *  - the DENSE list ranks the corpus by exact embedding cosine
    *    (top [[RrfDepth]], ties → vec_id);
    *  - the SPARSE list ranks by distinct-token overlap with the query's
    *    text (top [[RrfDepth]], overlap > 0, ties → doc_id);
    *  - fusion: rrf_micro = Σ_lists round(10⁶ / (60 + rank)) — each list's
    *    reciprocal snaps to integer micro-units before the sum, so the
    *    fold is exact — then the top [[RrfTopK]] per query
    *    (ties → doc_id).
    *
    * Plan shape at 100 TB: both scoring passes broadcast the 10-row query
    * side and stream the corpus map-only; each per-query top-20 is a
    * literal-bound rank filter, so Spark 4's WindowGroupLimit keeps only
    * 20 rows per query per task BEFORE the rank shuffle (the
    * sample_lang_balanced pattern, spec-pinned there). The fusion join
    * then touches ≤ 2·|Q|·20 rows — driver-scale — regardless of corpus
    * size. */
  def simSearchHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val dense = densePairs(spark, dir)
      .withColumn("ra", row_number().over(wd).cast(LongType))
      .filter(col("ra") <= RrfDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("ra"))

    val docsRaw = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // |Q| literal-set overlap probes per row are CPU-dense per scanned
    // byte: heal scan starvation for the corpus-wide scoring pass only
    // (probe #21 rollout queue; byte-floored no-op at sf0.1 and at real
    // file counts). The 10-row query collect below stays on the unhealed
    // scan — pushing a filter through the heal's repartition would make
    // the collect pay a pointless shuffle.
    val docs = Dedup.healScanStarvation(docsRaw, col("doc_id"))
    // the query token sets are BOUNDED (|Q| documents) → collect them and
    // score each query as a literal-set TokenOverlapCount column: one
    // O(|toks|) probe pass per (row, query), no per-pair hash-set builds,
    // and the fan-out carries (query_id, overlap) ints — never the token
    // arrays — where the broadcast-theta-join formulation duplicated every
    // row's array |Q| times (measured 11.0 s → see PLANS.md probe #15b).
    // Distinct-overlap semantics are identical to
    // size(array_intersect(...)), so the DuckDB oracle is unchanged.
    val qdocsArr = docsRaw.filter(col("doc_id") < 10)
      .select(col("doc_id"), col("toks")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .sortBy(_._1)
    val overlapStructs = array(qdocsArr.map { case (qid, qt) =>
      struct(lit(qid).as("query_id"),
        graft.functions.TokenOverlap.overlapCount(col("toks"), qt).as("overlap"))
    }: _*)
    val ws = Window.partitionBy("query_id").orderBy(col("overlap").desc, col("doc_id"))
    val sparse = docs
      .select(col("doc_id"), explode(overlapStructs).as("o"))
      .select(col("o.query_id").as("query_id"), col("doc_id"), col("o.overlap").as("overlap"))
      .filter(col("overlap") > 0 && col("doc_id") =!= col("query_id"))
      .withColumn("rb", row_number().over(ws).cast(LongType))
      .filter(col("rb") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("rb"))

    def recip(rank: Column): Column =
      round(lit(1e6) / (lit(RrfK) + rank)).cast(LongType)

    val wf = Window.partitionBy("query_id").orderBy(col("rrf_micro").desc, col("doc_id"))
    dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(recip(col("ra")), lit(0L)) + coalesce(recip(col("rb")), lit(0L)))
      .withColumn("rank", row_number().over(wf).cast(LongType))
      .filter(col("rank") <= RrfTopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_micro"))
      .orderBy("query_id", "rank")
  }

  /** Coarse stage reads the first [[CoarseDims]] of 64 dims (the
    * Matryoshka-truncation idea: Kusupati et al., NeurIPS 2022 — prefix
    * dims as a cheap proxy); shortlist size and final k below. */
  val CoarseDims = 32
  val CoarseK = 100
  val RefineK = 5

  /** `sim_search_coarse_refine` — two-stage funnel retrieval: a coarse pass
    * scores every vector on only its first [[CoarseDims]] dimensions (2×
    * less I/O and FLOPs here — at scale the truncated prefix is a separate,
    * hot-cacheable column; trained Matryoshka embeddings concentrate
    * variance in the prefix and run 4-8× truncation, while this corpus's
    * synthetic vectors spread signal evenly across dims — the WORST case
    * for prefix proxies, which is why the half-dim point was chosen: the
    * parameter grid measured recall@5 0.54→0.92 moving (16,50)→(32,100),
    * spec floor 0.8), keeps the top [[CoarseK]] ids per query, and a
    * refine pass re-scores just those on the full vector for the final
    * top [[RefineK]]. Unlike the LSH/IVF family this accelerator is fully
    * DETERMINISTIC — both stages are exact arithmetic over pinned fold
    * orders — so the whole two-stage answer is DuckDB-oracle-checked, not
    * rows-only (the only ANN-shaped key in the suite with a full oracle).
    *
    * Plan shape at 100 TB: coarse scoring is the broadcast-queries
    * map-only scan; the shortlist window has a literal rank bound →
    * WindowGroupLimit caps it at [[CoarseK]]/query/task BEFORE the
    * shuffle, and the shortlist is IDS-ONLY (full vectors re-join for
    * |Q|·[[CoarseK]] rows, not the corpus — the dedup-family
    * candidate/verify discipline). */
  def simSearchCoarseRefine(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vecsOf(spark, dir)
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q"))

    // The coarse stage scans a MATERIALIZED narrow column — the truncated
    // prefixes persisted by each call as their own parquet (the
    // dedup_incremental persisted-index pattern). With an in-memory slice
    // the prefix saved only FLOPs (the scan still read full vectors; the
    // fused kernel alone measured parity with fused brute force at 100×);
    // reading a half-width column is what makes the funnel genuinely
    // cheaper, and at 100 TB it is the difference between scanning 50 TB
    // and 100 TB for the shortlist. Scoring is the fused prefix-cosine
    // kernel: one codegen'd loop, no slice() array copies (the slice +
    // three-fold formulation measured 11.1 s vs 2.97 s brute at 100×),
    // bit-identical to the slice oracle (same fold orders).
    val prefixPath = graft.Tables.scratchDir("vec_prefix")
    vecs.select(col("vec_id"), slice(col("v"), 1, CoarseDims).as("vp"))
      .write.mode("overwrite").parquet(s"$prefixPath/prefix")
    val prefixes = spark.read.parquet(s"$prefixPath/prefix")

    val wc = Window.partitionBy("query_id").orderBy(col("coarse").desc, col("vec_id"))
    val shortlist = prefixes.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("coarse",
        graft.functions.VectorOps.vecCosinePrefix(col("q"), col("vp"), CoarseDims))
      .withColumn("rc", row_number().over(wc))
      .filter(col("rc") <= CoarseK)
      .select(col("query_id"), col("vec_id"))

    val wr = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    shortlist
      .join(vecs, "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cosine",
        Similarity.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wr).cast(LongType))
      .filter(col("rank") <= RefineK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Radius cutoff rank: τ = the [[RangeTauRank]]-th largest query-corpus
    * cosine, so the answer always has ≥ that many rows (data-derived — a
    * fixed literal threshold went vacuously green in r10 and is banned). */
  val RangeTauRank = 25

  /** `sim_search_range` — radius (threshold) similarity search: all
    * (query, neighbor) pairs with cosine ≥ τ, τ = the exact
    * [[RangeTauRank]]-th largest cosine over all query-corpus pairs.
    *
    * Plan shape at 100 TB: scoring is the broadcast-queries map-only scan;
    * τ is orderBy().limit(k) = TakeOrderedAndProject (bounded P·k driver
    * merge — the one collected scalar); the final pass is a map-only
    * filter. Zero wide shuffles end to end — radius search is the rare
    * ANN-family member with no window at all. */
  def simSearchRange(spark: SparkSession, dir: String): DataFrame = {
    val scored = densePairs(spark, dir)
    val tau = scored.select(col("cosine"))
      .orderBy(col("cosine").desc)
      .limit(RangeTauRank)
      .agg(min(col("cosine"))).head().getDouble(0)
    scored.filter(col("cosine") >= lit(tau))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("query_id", "neighbor_id")
  }
}
