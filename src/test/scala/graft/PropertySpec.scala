package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the hand-rolled distributed algorithms whose
  * correctness arguments are subtle enough that example tests under-cover
  * them: the two-phase prefix sum (offset stitching across arbitrary
  * partitionings), the Misra-Gries summary (error bound under arbitrary
  * split/merge trees), the as-of join (against a brute-force nested loop),
  * and the reference partition-bounds arithmetic. Each property runs a
  * fixed ScalaCheck budget with the default deterministic-enough seed
  * policy; Spark-backed properties keep inputs small so the whole suite
  * stays in seconds. */
class PropertySpec extends SparkTestBase {

  private def check(p: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("property: distributed prefix sum equals the sequential scan for any input and partitioning") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 120)
      keys <- Gen.pick(n, 0 until 10000)
      vals <- Gen.listOfN(n, Gen.choose(0L, 1000L))
      parts <- Gen.choose(1, 7)
    } yield (keys.toList.map(_.toLong), vals, parts)
    var i = 0
    check(Prop.forAll(gen) { case (keys, vals, parts) =>
      i += 1 // unique memo tag per case: the cache is keyed by (session, tag)
      val rows = keys.zip(vals)
      val df = rows.toDF("k", "v").repartition(parts)
      val got = graft.ops.PrefixSum
        .exclusiveRunningSum(spark, df, Seq("k"), "v", "run")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      var acc = 0L
      val expected = rows.sortBy(_._1).map { case (k, v) =>
        val e = (k, v, acc); acc += v; e
      }
      got.toSeq == expected
    }, n = 25)
  }

  test("property: boundary-exchange FIR convolution equals the sequential filter for any taps and partitioning") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 120)
      keys <- Gen.pick(n, 0 until 10000)
      vals <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
      w <- Gen.choose(1, 24).flatMap(len => Gen.listOfN(len, Gen.choose(-9L, 9L)))
      parts <- Gen.choose(1, 7)
    } yield (keys.toList.map(_.toLong), vals, w.toArray, parts)
    var i = 0
    check(Prop.forAll(gen) { case (keys, vals, w, parts) =>
      i += 1
      val rows = keys.zip(vals)
      val df = rows.toDF("k", "v").repartition(parts)
      val got = graft.ops.WindowConv
        .firConvolve(spark, df, Seq("k"), "v", w, "y")
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      val sortedVals = rows.sortBy(_._1).map(_._2)
      val expected = rows.sortBy(_._1).zipWithIndex.map { case ((k, _), t) =>
        (k, (0 until math.min(w.length, t + 1)).map(j => w(j) * sortedVals(t - j)).sum)
      }
      got.toSeq == expected
    }, n = 25)
  }

  test("property: Misra-Gries counts underestimate by <= n/(c+1) under any split/merge tree") {
    val gen = for {
      c <- Gen.choose(2, 6)
      n <- Gen.choose(1, 300)
      stream <- Gen.listOfN(n, Gen.choose(0, 25).map(i => s"t$i"))
      nSplits <- Gen.choose(0, 4)
      splits <- Gen.listOfN(nSplits, Gen.choose(0, n))
    } yield (c, stream, splits.sorted.distinct)
    check(Prop.forAll(gen) { case (c, stream, splits) =>
      val mg = new graft.functions.HeavyHittersAggregator(c)
      val cuts = (0 +: splits :+ stream.length).distinct.sorted
      val merged = cuts.zip(cuts.tail)
        .map { case (a, b) => stream.slice(a, b).foldLeft(mg.zero)(mg.reduce) }
        .foldLeft(mg.zero)(mg.merge)
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = stream.length / (c + 1)
      val sizeOk = merged.size <= c
      val boundOk = merged.forall { case (k, est) =>
        est <= truth(k) && truth(k) - est <= bound
      }
      val presenceOk = truth.forall { case (k, tn) =>
        tn <= bound || merged.contains(k)
      }
      sizeOk && boundOk && presenceOk
    }, n = 100)
  }

  test("property: as-of join equals the brute-force latest-at-or-before lookup") {
    import spark.implicits._
    val gen = for {
      nl <- Gen.choose(1, 40)
      nr <- Gen.choose(0, 40)
      left <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 500L)))
      // unique (key, time) on the right so the matched row is unambiguous
      rightRaw <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 500L)))
    } yield (left, rightRaw.distinct)
    check(Prop.forAll(gen) { case (left, right) =>
      val l = left.zipWithIndex.map { case ((k, t0), i) => (i.toLong, k, t0) }
        .toDF("lid", "k", "ts")
        .select(col("lid"), col("k"), timestamp_seconds(col("ts")).as("t"))
      val r = right.map { case (k, t0) => (k, t0, k * 10000 + t0) }
        .toDF("k2", "ts", "p")
        .select(col("k2"), timestamp_seconds(col("ts")).as("t2"), col("p"))
      val got = graft.ops.AsofJoin.asof(l, r, "k", "k2", "t", "t2", Seq("p"))
        .select("lid", "asof_p").collect()
        .map(row => (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1))))
        .toMap
      val expected = left.zipWithIndex.map { case ((k, t0), i) =>
        val cand = right.filter { case (k2, t2) => k2 == k && t2 <= t0 }
        (i.toLong,
          if (cand.isEmpty) None
          else Some(cand.maxBy(_._2)).map { case (k2, t2) => k2 * 10000 + t2 })
      }.toMap
      got == expected
    }, n = 20)
  }

  test("property: reference partition bounds tile the domain exactly at every scale") {
    import spark.implicits._
    val gen = for {
      scaleDiv <- Gen.oneOf(1L, 10L, 100L)
      blocks <- Gen.listOfN(50, Gen.choose(0L, 5000000L / scaleDiv - 1))
    } yield (scaleDiv, blocks)
    check(Prop.forAll(gen) { case (scaleDiv, blocks) =>
      val f = graft.pipeline.ExportPipeline.referenceBounds(scaleDiv)
      val df = blocks.toDF("n")
      val (s, e) = f(col("n"))
      // idempotence in the same job: the bounds of a partition's own start
      // and end must be that same partition (stability under re-mapping)
      val rows = df.select(col("n"), s.as("lo"), e.as("hi")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val boundsDf = rows.map { case (_, lo, hi) => (lo, hi) }.toSeq.toDF("lo", "hi")
      val (sLo, _) = f(col("lo"))
      val (_, eHi) = f(col("hi"))
      val stable = boundsDf.select(col("lo"), col("hi"), sLo.as("lo2"), eHi.as("hi2"))
        .collect().forall(r => r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3))
      stable && rows.forall { case (n, lo, hi) => lo <= n && n <= hi }
    }, n = 15)
  }

  test("property: BPE applyMerge is a greedy non-overlapping pair rewrite") {
    val sym = Gen.oneOf("a", "b", "c", "ab")
    val gen = for {
      syms <- Gen.listOf(sym)
      a <- sym; b <- sym
    } yield (syms.toArray, a, b)
    check(Prop.forAll(gen) { case (syms, a, b) =>
      val out = graft.llm.Bpe.applyMerge(syms, a, b)
      // concatenation preserved: merging never loses or reorders characters
      val flat = out.mkString == syms.mkString
      // no adjacent (a, b) survives — the greedy scan merges every
      // non-overlapping occurrence, and within one call the only new token
      // is a+b, which cannot itself recreate an (a, b) adjacency
      val noPair = !out.iterator.zip(out.iterator.drop(1))
        .exists { case (x, y) => x == a && y == b }
      // identity when the pair is absent from the input
      val absent = !syms.iterator.zip(syms.iterator.drop(1)).exists { case (x, y) => x == a && y == b }
      val idem = !absent || out.sameElements(syms)
      flat && idem && noPair
    }, n = 200)
  }

  test("property: bestFitDecreasing packs exhaustively, within capacity, tightest-bin-first") {
    val gen = for {
      cap <- Gen.choose(8L, 64L)
      n <- Gen.choose(0, 80)
      sizes <- Gen.listOfN(n, Gen.choose(1L, 80L))
    } yield (cap, sizes)
    check(Prop.forAll(gen) { case (cap, sizes) =>
      // operator contract: input arrives sorted (size desc, id asc)
      val items = sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .sortBy { case (id, s) => (-s, id) }
      val out = graft.llm.TextOps.bestFitDecreasing(items.iterator, cap).toVector
      val exhaustive = out.map(_._1).sorted == items.map(_._1).sorted
      val fills = out.groupBy(_._3).view.mapValues(g => (g.map(_._2).sum, g.size)).toMap
      val capOk = fills.forall { case (_, (fill, cnt)) => fill <= cap || cnt == 1 }
      // replay: each placement into an existing bin must be the tightest fit
      val rem = scala.collection.mutable.Map.empty[Long, Long]
      val binOf = out.map { case (id, _, bin) => id -> bin }.toMap
      var bestFit = true
      items.foreach { case (id, sz) =>
        val b = binOf(id)
        if (sz >= cap) { bestFit &&= !rem.contains(b); rem(b) = 0L }
        else {
          val fits = rem.filter(_._2 >= sz)
          if (rem.contains(b)) bestFit &&= rem(b) == fits.values.min
          else { bestFit &&= fits.isEmpty; rem(b) = cap }
          rem(b) -= sz
        }
      }
      exhaustive && capOk && bestFit
    }, n = 100)
  }

  test("property: fused PrefixCosine is bit-identical to the separate dot/norm folds, any vectors/prefix") {
    import spark.implicits._
    // the r12 kernel fusion claims BIT-identity with the composition it
    // replaced (and with the DuckDB slice oracles): each of the three sums
    // keeps its own sequential fold order, so this must hold exactly, not
    // approximately — any ulp of drift would break the hash gate
    val gen = for {
      d <- Gen.choose(1, 80)
      p <- Gen.choose(1, 96) // prefix may exceed dim: clamps like zip_with
      a <- Gen.listOfN(d, Gen.choose(-1e3, 1e3))
      b <- Gen.listOfN(d, Gen.choose(-1e3, 1e3))
    } yield (p, a, b)
    check(Prop.forAll(gen) { case (p, a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val sliced = df.select(
        graft.functions.VectorOps.vecCosinePrefix(col("a"), col("b"), p).as("fused"),
        (graft.functions.VectorOps.vecDot(slice(col("a"), 1, p), slice(col("b"), 1, p)) /
          (sqrt(graft.functions.VectorOps.vecDot(slice(col("a"), 1, p), slice(col("a"), 1, p))) *
            sqrt(graft.functions.VectorOps.vecDot(slice(col("b"), 1, p), slice(col("b"), 1, p)))))
          .as("composed")).head()
      // NaN (zero-norm side) must agree too — compare raw bits
      java.lang.Double.doubleToRawLongBits(sliced.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(sliced.getDouble(1))
    }, n = 60)
  }

  test("property: prefix-filter setsim join equals brute-force threshold Jaccard on any corpus") {
    import spark.implicits._
    // the operator claims recall 1.0 from the prefix-filter lemma; the
    // lemma's edge cases (boilerplate-heavy prefixes, exact duplicates,
    // length-filter boundaries, docs too short to shingle) are exactly
    // what random corpora hit that the example tests might not
    val word = Gen.choose(0, 25).map(i => s"w$i") // small vocab forces overlap
    val genDoc = for {
      len <- Gen.choose(2, 30) // < 5 tokens → no shingles, must be excluded
      ws <- Gen.listOfN(len, word)
      boiler <- Gen.choose(0, 2) // 0/1: no prefix; 2: shared boilerplate
    } yield (if (boiler == 2) (1 to 8).map(i => s"b$i") ++ ws else ws).mkString(" ")
    val gen = for {
      n <- Gen.choose(4, 28)
      docs <- Gen.listOfN(n, genDoc)
      dups <- Gen.choose(0, 3) // exact copies of earlier docs: J = 1 pairs
    } yield (docs, dups)
    var i = 0
    check(Prop.forAll(gen) { case (docs, dups) =>
      i += 1
      val all = docs ++ (0 until math.min(dups, docs.length)).map(docs)
      val scratch = graft.Tables.scratchDir(s"prop_setsim$i")
      all.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$scratch/documents.parquet")
      val got = graft.llm.Dedup.dedupSetsimPrefix(spark, scratch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // driver-side brute force on STRING shingle sets (independent of the
      // operator's FNV hashing — also witnesses hash-set ≡ string-set)
      val sets = all.zipWithIndex.flatMap { case (t, id) =>
        val toks = t.split(" ")
        if (toks.length < 5) None
        else Some((id.toLong, toks.sliding(5).map(_.mkString(" ")).toSet))
      }
      val expected = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.7
      } yield (a, b, j)).toSet
      got == expected
    }, n = 12)
  }
}
