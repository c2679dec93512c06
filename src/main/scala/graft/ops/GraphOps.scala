package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Graph operators over document link structure. Web-scale curation
  * pipelines weight documents by link-graph signals (the Common-Crawl
  * lineage of every pretraining corpus); the cluster-resolution side of the
  * graph family lives in [[graft.llm.Dedup.connectedComponents]].
  */
object GraphOps {

  /** `graph_pagerank` — 5 damped PageRank iterations over a synthesized
    * deterministic link graph (2 out-links per doc via affine maps mod N;
    * the testdata carries no links, mirroring how `dedup_url` synthesizes
    * URLs). ALL arithmetic is exact integer micro-units: ranks start at
    * 1e12, each neighbor contribution is `rank DIV out_degree`, damping is
    * `(85 · Σcontrib) DIV 100 + 0.15e12` — floor division and long sums are
    * order-independent and identical on both engines, where double-valued
    * PageRank would diverge in the low bits with partial-aggregation order.
    * The floor remainders stay undistributed (standard simplified PageRank;
    * ranks are relative quality weights, not probabilities).
    *
    * Overflow: the damped term is computed as
    * `(c DIV 100)·85 + ((c MOD 100)·85) DIV 100` — algebraically equal to
    * `(85·c) DIV 100` for c ≥ 0 but never forming the 85× product, so it
    * is exact for ANY representable contribution sum (the naive form wraps
    * silently past c ≈ 1.08e17 under Spark's non-ANSI Long arithmetic
    * while the DuckDB oracle proceeds in HUGEINT). The remaining bound is
    * the contribution sum itself: a single node's in-flow is < total mass
    * = N·1e12 micro-units, so Long is exact for N < ~9.2e6 docs; beyond
    * that, shrink U proportionally (ranks are relative weights — only the
    * ratio 85/100 and the floor granularity matter).
    *
    * Plan shape at scale: each iteration is contributions (edges ⋈ ranks —
    * both partitioned on src) → one map-side-combined sum per dst → left
    * join back to the node set. 5 iterations = a fixed pipeline of hash
    * shuffles on (id, long) rows; nothing driver-side but the doc count. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val U = 1000000000000L // 1e12 micro-units per doc
    val iters = 5
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst"))
      .unionByName(docs.select(col("doc_id").as("src"), ((col("doc_id") * 13 + 1) % n).as("dst")))
      .filter(col("src") =!= col("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // checkpointed: reused by all 5 iterations
    val withDeg = edges.join(deg, "src").localCheckpoint()

    var ranks = docs.select(col("doc_id"), lit(U).as("r"))
    (1 to iters).foreach { _ =>
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("doc_id"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      ranks = docs
        .join(contribs, docs("doc_id") === contribs("dst"), "left")
        .select(col("doc_id"),
          (lit(15 * U / 100) +
            expr("(coalesce(c, 0L) DIV 100) * 85 + ((coalesce(c, 0L) % 100) * 85) DIV 100")).as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("rank_micro")).orderBy("doc_id")
  }

  /** `graph_triangle_count` — per-vertex triangle participation over a
    * synthesized deterministic link graph (ring chords d→d+1, d→d+2 — which
    * guarantee triangle density — plus the affine map d→7d+3 mod N for
    * irregular long-range structure; undirected, canonicalized a<b).
    * Triangle/clustering signals are the other classic link-graph quality
    * weight next to [[graphPagerank]] (tightly clustered link farms vs
    * organically cited pages).
    *
    * Distributed shape: the textbook node-iterator explodes neighbor pairs
    * — quadratic in max degree. This is the ORIENTED edge-iterator
    * instead: every edge points low→high id, a wedge is e1(a,b) ⋈ e2(b,c)
    * with a<b<c (each triangle generated exactly once, from its lowest
    * vertex), closed by one more equi-join probing (a,c) against the edge
    * set. All three steps are hash equi-joins on vertex keys — no
    * cartesian, no per-vertex neighbor materialization; wedge volume is
    * Σ_b fwd(b)·bwd(b), the quantity degree-ORDERED orientation minimizes
    * at web scale (id-orientation suffices here: synthesized degrees are
    * near-uniform ≤ 6). */
  def graphTriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val e0 = docs.select(col("doc_id").as("src"), ((col("doc_id") + 1) % n).as("dst"))
      .unionByName(docs.select(col("doc_id").as("src"), ((col("doc_id") + 2) % n).as("dst")))
      .unionByName(docs.select(col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst")))
      .filter(col("src") =!= col("dst"))
    // checkpointed: both sides of the wedge join and the closing probe read it
    val e = e0.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    val w = e.as("e1").join(e.as("e2"),
        col("e1.b") === col("e2.a") && col("e2.b") > col("e1.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tri = w.as("w").join(e.as("e3"),
        col("w.a") === col("e3.a") && col("w.c") === col("e3.b"))
      .select(col("w.a").as("a"), col("w.b").as("b"), col("w.c").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }
}
