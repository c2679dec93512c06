package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class EmbedStatsSpec extends SparkTestBase {

  /** Driver-side reference: quantize every embedding with the shared int8
    * rule and return the raw vectors — the spec recomputes moments from
    * these independently of the treeAggregate under test. */
  private def quantized(): Array[Array[Long]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .orderBy("vec_id").collect().map { r =>
        val ve = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
        val ma = ve.map(math.abs).max
        if (ma == 0d) ve.map(_ => 0L)
        else ve.map(x => new java.math.BigDecimal(x * 127d / ma)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      }

  test("embed_gram equals the brute-force driver Gramian exactly") {
    val q = quantized()
    val dim = q.head.length
    val got = EmbedStats.embedGram(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.size == dim * (dim + 1) / 2)
    for (i <- 0 until dim; j <- i until dim) {
      val expect = q.iterator.map(v => v(i) * v(j)).sum
      assert(got((i + 1L, j + 1L)) == expect,
        s"gram cell (${i + 1},${j + 1}) mismatch")
    }
  }

  test("embed_gram is partition-invariant (treeAggregate fold order)") {
    val a = EmbedStats.embedGram(spark, sf).collect().toSeq
    val b = EmbedStats.embedGram(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("embed_pca_project: structural contract + projection recompute") {
    val dim = graft.Tables.embeddingDim(spark, sf)
    val (comps, evals) = EmbedStats.pcaComponents(EmbedStats.moments(spark, sf))
    assert(comps.length == EmbedStats.PcaK && evals.length == EmbedStats.PcaK)

    // eigenvalues strictly descending (random corpus → no degenerate ties)
    // and non-negative (covariance is PSD)
    evals.sliding(2).foreach { case Seq(a, b) => assert(a >= b) }
    assert(evals.forall(_ >= -1e-9))

    // orthonormal components, sign-fixed (largest-|coord| positive)
    for (k <- comps.indices) {
      val v = comps(k)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9, s"component $k norm $nrm")
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      assert(v(pivot) > 0, s"component $k not sign-fixed")
      for (l <- k + 1 until comps.length) {
        val dot = v.zip(comps(l)).map { case (a, b) => a * b }.sum
        assert(math.abs(dot) < 1e-9, s"components $k,$l not orthogonal: $dot")
      }
    }

    // eigen-equation residual: ‖Cv − λv‖ ≪ λ₁ for each kept pair
    val (n, s, g) = EmbedStats.moments(spark, sf)
    val nd = n.toDouble
    val mu = s.map(_ / nd)
    val c = Array.tabulate(dim, dim) { (i, j) =>
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      g(EmbedStats.packIdx(lo, hi, dim)) / nd - mu(lo) * mu(hi)
    }
    for (k <- comps.indices) {
      val v = comps(k)
      val cv = c.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val resid = math.sqrt(cv.zip(v).map { case (x, vi) =>
        val r = x - evals(k) * vi; r * r
      }.sum)
      assert(resid < 1e-6 * math.max(evals.head, 1.0),
        s"eigenpair $k residual $resid")
    }

    // the distributed projection equals the driver recompute per vector —
    // fixed-point contract (r13): pcₖ_fp = 10⁶·Σ qᵢ·round(cₖᵢ·10⁶) − offₖ,
    // exact long arithmetic, and ≈ the real double projection within the
    // micro-snap error bound
    val q = quantized()
    val muM = mu.map(m => math.round(m * 1e6))
    val compsM = comps.map(_.map(x => math.round(x * 1e6)))
    val offs = compsM.map(cm => cm.indices.map(i => muM(i) * cm(i)).sum)
    val rows = EmbedStats.embedPcaProject(spark, sf).collect()
    assert(rows.length == q.length)
    rows.zipWithIndex.foreach { case (r, idx) =>
      for (k <- comps.indices) {
        val exactFp = q(idx).zip(compsM(k)).map { case (a, b) => a * b }.sum *
          1000000L - offs(k)
        val got = r.getLong(r.fieldIndex(s"pc${k + 1}_fp"))
        assert(got == exactFp,
          s"vec ${r.getLong(0)} pc${k + 1}_fp: $got vs $exactFp")
        // the snapped projection tracks the true double projection: the
        // per-term snap error is < 1e-6·(|q|+|μ|) summed over d terms
        val centered = q(idx).zip(mu).map { case (qi, m) => qi - m }
        val trueProj = centered.zip(comps(k)).map { case (a, b) => a * b }.sum
        assert(math.abs(got / 1e12 - trueProj) < 1e-3,
          s"vec ${r.getLong(0)} pc${k + 1} drifted from the true projection")
      }
    }

    // the interpolated DuckDB mirror was published for this run
    assert(EmbedStats.pcaOracle.exists(_.contains("pc1_fp")))

    // top component carries the most variance of any kept one and the
    // explained share is positive and ≤ total variance
    val totalVar = (0 until dim).map(i => c(i)(i)).sum
    assert(evals.head > 0 && evals.sum <= totalVar + 1e-6)

    // rerun identity
    val again = EmbedStats.embedPcaProject(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("jacobiEigen recovers a known spectrum") {
    // diag(5, 2, 1) rotated by a fixed Givens rotation — eigenvalues must
    // come back exactly (to fp tolerance) and eigenvectors must satisfy
    // the eigen equation of the rotated matrix
    val th = 0.6
    val r = Array(
      Array(math.cos(th), -math.sin(th), 0.0),
      Array(math.sin(th), math.cos(th), 0.0),
      Array(0.0, 0.0, 1.0))
    val d = Array(5.0, 2.0, 1.0)
    val m = Array.tabulate(3, 3) { (i, j) =>
      (0 until 3).map(k => r(i)(k) * d(k) * r(j)(k)).sum
    }
    val (evals, evecs) = EmbedStats.jacobiEigen(m)
    assert(evals.sorted.zip(Array(1.0, 2.0, 5.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-10 })
    for (k <- 0 until 3) {
      val v = evecs.map(_(k))
      val mv = m.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val resid = mv.zip(v).map { case (x, vi) => x - evals(k) * vi }
        .map(x => x * x).sum
      assert(resid < 1e-18, s"jacobi eigenpair $k residual $resid")
    }
  }
}
