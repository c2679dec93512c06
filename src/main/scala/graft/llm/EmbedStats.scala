package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Global second-moment statistics over the embedding corpus: the exact
  * int8-quantized Gram matrix and the PCA projection derived from it — the
  * linear-algebra tier of the embedding family (quantize → project →
  * index/dedup). PCA/whitening ahead of ANN indexing is standard practice
  * (it is the first step of the OPQ rotation in Ge'13 and of most IVF
  * deployments), and the Gram/covariance pass is its one corpus-wide scan.
  *
  * Numeric contract: everything upstream of the driver-side eigensolve is
  * EXACT integer arithmetic over the shared int8 quantization (the
  * [[Similarity.embedQuantizeInt8]] rule) — |q| ≤ 127, so a Gram cell
  * accumulates at most n·127² ≪ 2^63 for any corpus below ~5·10¹⁴ vectors —
  * which makes the per-partition fold order-independent and the result
  * bit-identical across retries, partitionings, and engines (the DuckDB
  * oracle reproduces every cell).
  *
  * Plan shape at 100 TB: one scan, zero shuffles. Each task folds its rows
  * into a d(d+1)/2-cell upper-triangle accumulator (d=64 → 2 080 longs,
  * 16 KiB) and `treeAggregate` merges task results in O(log P) rounds — the
  * MLlib `RowMatrix.computeGramianMatrix` shape, which is the textbook
  * distributed Gramian. Driver state is O(d²) regardless of corpus size;
  * the O(n·d²/2) multiply count is the irreducible cost of an exact dense
  * Gramian (at much larger d you would subsample rows or sketch — noted,
  * not needed at d=64). This is one of the repo's documented bounded
  * `.collect()`-class sites: what reaches the driver is a fixed-size
  * aggregate, never data-proportional rows. */
object EmbedStats {

  /** Principal components kept by [[embedPcaProject]]. */
  val PcaK = 4

  /** Exact corpus moments over the quantized vectors: count, per-dim sums,
    * and the packed upper-triangle Gram Σ qᵢ·qⱼ (i ≤ j). One corpus pass;
    * [[embedPcaProject]] hands its moments to [[pcaComponents]]. */
  private[graft] def moments(spark: SparkSession, dir: String): (Long, Array[Long], Array[Long]) = {
    val dim = graft.Tables.embeddingDim(spark, dir)
    val tri = dim * (dim + 1) / 2
    import spark.implicits._
    // the shared int8 quantization rule, as array<bigint> rows
    val q = t(spark, dir, "embeddings")
      .select(transform(col("embedding"), _.cast(DoubleType)).as("ve"))
      .withColumn("ma", array_max(transform(col("ve"), x => abs(x))))
      .select(when(col("ma") === 0d, transform(col("ve"), _ => lit(0L)))
        .otherwise(transform(col("ve"),
          x => round(x * lit(127d) / col("ma")).cast(LongType))).as("qv"))
      .as[Array[Long]]
    // Imperative per-partition fold: the inner i≤j loop over a mutable
    // 16 KiB accumulator has no declarative equivalent that doesn't
    // explode n·d²/2 pair rows into a shuffle (500→2M rows at sf0.01,
    // ruinous at 100 TB). treeAggregate gives each task its own
    // deserialized zero copy, so in-place mutation is safe.
    q.rdd.treeAggregate((0L, new Array[Long](dim), new Array[Long](tri)))(
      seqOp = { case ((n, s, g), v) =>
        var i = 0
        var idx = 0
        while (i < dim) {
          s(i) += v(i)
          var j = i
          while (j < dim) { g(idx) += v(i) * v(j); idx += 1; j += 1 }
          i += 1
        }
        (n + 1, s, g)
      },
      combOp = { case ((n1, s1, g1), (n2, s2, g2)) =>
        var i = 0
        while (i < dim) { s1(i) += s2(i); i += 1 }
        var k = 0
        while (k < tri) { g1(k) += g2(k); k += 1 }
        (n1 + n2, s1, g1)
      })
  }

  /** `embed_gram` — the exact upper-triangle Gram matrix of the
    * int8-quantized corpus: one row per cell (i ≤ j, 1-based),
    * g = Σ_vecs qᵢ·qⱼ as BIGINT. The d(d+1)/2-row result is assembled on
    * the driver from the bounded [[moments]] aggregate (16 KiB — the
    * PrefixSum class of collect, not a data-proportional one). */
  def embedGram(spark: SparkSession, dir: String): DataFrame = {
    val (_, s, g) = moments(spark, dir)
    val dim = s.length
    import spark.implicits._
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield (i + 1L, j + 1L, g(packIdx(i, j, dim)))
    rows.toDF("i", "j", "g").orderBy("i", "j")
  }

  /** Index of cell (i, j), i ≤ j 0-based, in the packed row-major upper
    * triangle: row i starts after i full rows of lengths d, d−1, … */
  private[graft] def packIdx(i: Int, j: Int, dim: Int): Int =
    i * dim - i * (i - 1) / 2 + (j - i)

  /** The DuckDB mirror of [[embedPcaProject]]'s LAST run, interpolating the
    * micro-snapped component/offset literals that run shipped into codegen
    * (the embed_random_projection literal-matrix rule, with data-derived
    * literals instead of md5-regenerable ones). Set during query execution;
    * [[graft.SparkEntry.oracleSql]] is a `def` and Verify dumps it AFTER
    * running the queries, so the dumped SQL always carries the literals of
    * the sf it just ran. Unset (fresh JVM, key never ran) → the oracle key
    * is omitted and the driver falls back to the rows-only check. */
  @volatile private[graft] var pcaOracle: Option[String] = None

  /** `embed_pca_project` — project every vector onto the top-[[PcaK]]
    * principal components of the quantized corpus. The covariance matrix
    * comes exactly from [[moments]] (C = G/n − μμᵀ, population form, built
    * from integer-exact G and s), the eigensolve is a driver-side cyclic
    * Jacobi over the d×d matrix (64×64 — microseconds, O(d³) ≪ any corpus
    * cost, and d is fixed by the model, not the data), and the projection
    * back over the corpus is map-only with zero shuffles before the
    * presentation sort.
    *
    * Cross-engine exactness (r13, rows-only → oracle-checked): components
    * and mean snap to integer micro-units ONCE on the driver, and the
    * projection is pure 64-bit integer arithmetic —
    * pcₖ_fp = 10⁶·Σᵢ qvᵢ·cMₖᵢ − offₖ with offₖ = Σᵢ muMᵢ·cMₖᵢ, i.e. the
    * centered fixed-point dot Σ (qvᵢ·10⁶ − muMᵢ)·cMₖᵢ with the constant
    * half folded on the driver. |pc_fp| ≤ d·127·10⁶·10⁶ ≈ 1.6e16 exceeds
    * 2^53, so the scan runs the long-arithmetic
    * [[graft.functions.VectorOps.vecDotLong]] kernel (a double fold would
    * silently round); DuckDB's side is HUGEINT list_sum — both engines
    * compute the identical BIGINT. The same literals interpolate into the
    * mirror via [[pcaOracle]], so the two sides cannot drift.
    *
    * Determinism: the eigensolve input is bit-identical on every run
    * (integer moments), Jacobi is deterministic arithmetic, eigenvectors
    * are sign-fixed (largest-|component| coordinate made positive) and
    * ordered by descending eigenvalue with index tiebreak. EmbedStatsSpec
    * still pins the structural contract (orthonormality, eigen-residual,
    * descending explained variance, projection ≡ driver recompute, rerun
    * identity). */
  def embedPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val m @ (n, s, _) = moments(spark, dir)
    val (comps, _) = pcaComponents(m)
    val mu = s.map(_ / n.toDouble)
    val muM = mu.map(m => math.round(m * 1e6))
    val compsM = comps.map(_.map(c => math.round(c * 1e6)))
    val offs = compsM.map(cm => cm.indices.map(i => muM(i) * cm(i)).sum)
    pcaOracle = Some(pcaOracleSqlOf(compsM, offs))
    val vecs = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("ve"))
      .withColumn("ma", array_max(transform(col("ve"), x => abs(x))))
      .withColumn("qv", when(col("ma") === 0d, transform(col("ve"), _ => lit(0L)))
        .otherwise(transform(col("ve"),
          x => round(x * lit(127d) / col("ma")).cast(LongType))))
    val pcCols = compsM.zip(offs).zipWithIndex.map { case ((cm, off), k) =>
      (graft.functions.VectorOps.vecDotLong(col("qv"), array(cm.map(lit(_)): _*))
        * lit(1000000L) - lit(off)).as(s"pc${k + 1}_fp")
    }
    vecs.select(col("vec_id") +: pcCols: _*).orderBy("vec_id")
  }

  /** Build the fixed-point projection mirror for the given micro-snapped
    * component rows and offsets (see [[embedPcaProject]]). */
  private def pcaOracleSqlOf(compsM: Seq[Array[Long]], offs: Seq[Long]): String = {
    val pcs = compsM.zip(offs).zipWithIndex.map { case ((cm, off), k) =>
      val lits = cm.mkString("[", ", ", "]")
      s"CAST(list_sum([qv[i] * ($lits)[i] for i in range(1, len(qv)+1)]) " +
        s"* 1000000 - ($off) AS BIGINT) AS pc${k + 1}_fp"
    }.mkString(", ")
    "WITH m AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings), " +
      "q AS (SELECT vec_id, list_max(list_transform(ve, x -> abs(x))) AS ma, ve FROM m), " +
      "v AS (SELECT vec_id, [CASE WHEN ma = 0 THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(round(ve[j] * 127.0 / ma) AS BIGINT) END for j in range(1, len(ve)+1)] AS qv FROM q) " +
      s"SELECT vec_id, $pcs FROM v ORDER BY vec_id"
  }

  /** Top-[[PcaK]] eigenpairs (components, eigenvalues) of the quantized
    * covariance of the given [[moments]]; spec consumes it for the
    * structural checks. */
  private[graft] def pcaComponents(
      m: (Long, Array[Long], Array[Long])): (Seq[Array[Double]], Seq[Double]) = {
    val (n, s, g) = m
    val dim = s.length
    val nd = n.toDouble
    val mu = s.map(_ / nd)
    val c = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val cij = g(packIdx(i, j, dim)) / nd - mu(i) * mu(j)
      c(i)(j) = cij
      c(j)(i) = cij
    }
    val (evals, evecs) = jacobiEigen(c)
    val order = evals.indices.sortBy(k => (-evals(k), k)).take(PcaK)
    val comps = order.map { k =>
      val v = evecs.map(_(k))
      // sign fix: make the largest-|component| coordinate positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(x => -x) else v
    }
    (comps.map(_.toArray), order.map(evals))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: rotate out
    * each off-diagonal cell per sweep until the off-diagonal Frobenius
    * norm vanishes. Returns (eigenvalues, eigenvector columns). O(d³) per
    * sweep, ~8 sweeps at d=64 — strictly driver-side, input-size-free. */
  private[graft] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      math.sqrt(s)
    }
    var sweep = 0
    while (offNorm() > 1e-12 && sweep < 100) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val tSign = if (theta >= 0) 1.0 else -1.0
        val t = tSign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val sth = t * cth
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = cth * akp - sth * akq
          a(k)(q) = sth * akp + cth * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = cth * apk - sth * aqk
          a(q)(k) = sth * apk + cth * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = cth * vkp - sth * vkq
          v(k)(q) = sth * vkp + cth * vkq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
