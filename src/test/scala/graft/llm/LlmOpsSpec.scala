package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class LlmOpsSpec extends SparkTestBase {

  test("text_bigram_logprob: model-table join is bit-identical to r16 per-occurrence scoring") {
    // r17 restructure: per-bigram cost is computed once per DISTINCT
    // (prev,cur) on a vocabulary-sized model table and joined to the stream
    // ONCE, instead of joining the corpus-width stream against all three
    // count tables in sequence. This mirror reconstructs the r16 shape
    // verbatim; outputs must match bit-for-bit (same doubles, same three
    // IEEE ops per bigram, integer micro-nat sums).
    val docs = graft.Tables.t(spark, sf, "documents").filter(col("text").isNotNull)
    val toks = split(col("text"), " ")
    val tok = docs.select(col("doc_id"), explode(toks).as("token"))
    val bg = docs.select(col("doc_id"),
        posexplode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => struct(a.as("prev"), b.as("cur"))))
          .as(Seq("p", "pc")))
      .select(col("doc_id"), col("pc.prev").as("prev"), col("pc.cur").as("cur"))
    val cb = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cnt_bg"))
    val cu = tok.groupBy("token").agg(count(lit(1)).as("cnt_tok"))
    val total = tok.count()
    val p = lit(0.75) * (col("cnt_bg").cast("double") / col("cnt_prev").cast("double")) +
      lit(0.25) * (col("cnt_cur").cast("double") / lit(total.toDouble))
    val r16 = bg
      .join(cb, Seq("prev", "cur"))
      .join(cu.select(col("token").as("prev"), col("cnt_tok").as("cnt_prev")), Seq("prev"))
      .join(cu.select(col("token").as("cur"), col("cnt_tok").as("cnt_cur")), Seq("cur"))
      .withColumn("cost_micro", round(-log(p) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cost_micro")).as("sum_cost_micro"))
      .withColumn("avg_cost_micro", expr("sum_cost_micro DIV n_bigrams"))
      .orderBy("doc_id").collect()
    val got = TextOps.textBigramLogprob(spark, sf).collect()
    assert(got.nonEmpty && got.toSeq == r16.toSeq)
  }

  test("text_pmi_collocations matches a sequential PMI mirror, respects the count floor, and never broadcasts the vocabulary") {
    val q = TextOps.textPmiCollocations(spark, sf)
    val out = q.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // sequential mirror over the raw texts: same counts, same
    // left-associative IEEE expression, same HALF_UP micro-nat snap
    import spark.implicits._
    val texts = graft.Tables.t(spark, sf, "documents")
      .filter(col("text").isNotNull).select("text").as[String].collect()
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    var nU = 0L; var mB = 0L
    texts.foreach { txt =>
      val a = txt.split(" ", -1)
      a.foreach { w => uni(w) += 1; nU += 1 }
      a.sliding(2).foreach { case Array(x, y) => bi((x, y)) += 1; mB += 1; case _ => () }
    }
    val expected = bi.toSeq.filter(_._2 >= TextOps.PmiMinCount).map { case ((x, y), c) =>
      val ratio = (c.toDouble * nU * nU) / ((mB.toDouble * uni(x)) * uni(y))
      val micro = BigDecimal(math.log(ratio) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (x, y, c, micro)
    }.sortBy(p => (p._1, p._2))
    assert(out == expected)
    assert(out.nonEmpty && out.forall(_._3 >= TextOps.PmiMinCount))
    // scale contract: vocabulary joins stay shuffle-merge (a web-scale
    // vocab does not broadcast — same pin as text_tfidf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("text_compression_ratio: sequential deflate mirror, monotone signal, partition invariance") {
    val out = TextOps.textCompressionRatioRaw(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    // sequential mirror with a FRESH Deflater per doc: diverges if the
    // per-partition Deflater reuse ever leaks state across documents
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    def deflateLen(s: String): Long = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); d.finish()
      val buf = new Array[Byte](1 << 16); var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    val expected = docs.map { case (id, txt) =>
      val nb = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
      val nd = deflateLen(txt)
      (id, nb, nd, nd * 1000000L / nb, nd * 1000000L / nb >= 400000L)
    }.sortBy(_._1).toSeq
    assert(out == expected)
    assert(out.exists(_._5) && out.exists(!_._5), "keep flag must split the corpus non-vacuously")
    // monotonicity: template repetition << natural prose << alphanumeric noise
    val noise = new scala.util.Random(42).alphanumeric.take(2000).mkString
    val probe = Seq((1L, "a b " * 400), (2L, docs.head._2), (3L, noise)).toDS()
    val pr = TextOps.compressionRatio(probe).collect()
      .map(r => (r.getLong(0), r.getLong(2).toDouble / r.getLong(1))).toMap
    assert(pr(1L) < 0.05 && pr(1L) < pr(2L) && pr(2L) < pr(3L), pr.toString)
    // partition invariance: layout must not change a single length
    val repart = TextOps.compressionRatio(docs.toSeq.toDS().repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(repart == expected.map(e => (e._1, e._2, e._3)))
    // the contract key (r16): anchors + booleans the oracle states must
    // all hold against the independently-mirrored deflate lengths
    val contract = TextOps.textCompressionRatio(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    assert(contract.map(c => (c._1, c._2)) == expected.map(e => (e._1, e._2)),
      "byte anchors must match the mirror")
    assert(contract.forall(_._3), "deflate bound must hold for every doc")
    assert(contract.forall(_._4), "drop share must sit in the pinned band")
    val nDrop = expected.count(!_._5)
    assert(nDrop * 1000 >= TextOps.CompressionDropMinPermille * expected.length &&
      nDrop * 1000 <= TextOps.CompressionDropMaxPermille * expected.length,
      s"mirror drop share ${nDrop}/${expected.length} outside the band the key asserts")
  }

  test("shinglesOf produces distinct k-grams; short docs yield empty") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "x y x y x y").toDF("text")
      .select(split(col("text"), " ").as("toks"))
    val out = df.select(Dedup.shinglesOf(col("toks"), 3).as("sh")).collect()
    assert(out(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](0).isEmpty)
    assert(out(2).getSeq[String](0) == Seq("x y x", "y x y")) // distinct
  }

  test("dedup_minhash_lsh finds the planted near-dup pairs on testdata") {
    val pairs = Dedup.dedupMinhashLsh(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
    // pairs are canonical (a<b) and unique
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.forall { case (a, b) => a < b })
    assert(ids.distinct.length == ids.length)
  }

  test("minhash LSH equals the exact O(n²) answer at its threshold") {
    val lsh = Dedup.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth on sf0.001 (500 docs): full pairwise 3-gram
    // jaccard — the LSH result must match it exactly after verification
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks")).cache()
    val sh = docs.select(col("doc_id"), Dedup.shinglesOf(col("toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val exact = a.join(b, col("da") < col("db"))
      .withColumn("j", inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty)
  }

  test("ngram-jaccard df-cap active: output identical to the exact O(n²) answer") {
    // the capped inverted index must stay exact as long as near-dup pairs
    // share at least one sub-cap shingle — true on this corpus (max df ≪ 128)
    val capped = Dedup.dedupNgramJaccard(spark, sf, dfCap = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks")).cache()
    val sh = docs.select(col("doc_id"), Dedup.shinglesOf(col("toks"), 5).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val exact = a.join(b, col("da") < col("db"))
      .withColumn("j", inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("j") >= 0.7)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("j"))).toSet
    assert(capped == exact)
    assert(exact.nonEmpty)
  }

  test("ngram-jaccard under an aggressive cap: no false positives, subset recall") {
    val full = Dedup.dedupNgramJaccard(spark, sf, dfCap = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tight = Dedup.dedupNgramJaccard(spark, sf, dfCap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the verify join keeps every emitted pair exact; the cap only bounds recall
    assert(tight.subsetOf(full))
  }

  test("dedup_setsim_prefix equals the exact O(n²) answer; no global sort in the plan") {
    val q = Dedup.dedupSetsimPrefix(spark, sf)
    val pf = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks")).cache()
    val sh = docs.select(col("doc_id"), Dedup.shinglesOf(col("toks"), 5).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val exact = a.join(b, col("da") < col("db"))
      .withColumn("j", inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("j") >= 0.7)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("j"))).toSet
    assert(pf == exact)
    assert(exact.nonEmpty)
    // scale contract: the global token order is (df, hash) — data-parallel
    // everywhere, never a global sort / single-partition window
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(800))
  }

  test("prefix filter catches the boilerplate-only pair the df-capped index must miss") {
    // 200 docs share a 12-token boilerplate prefix (each base 5-gram has
    // df = 202 > dfCap = 128) plus 5 unique tokens; docs 200/201 are the
    // bare boilerplate. The capped inverted index generates no candidate
    // for (200, 201) — every shared shingle is over-cap. The prefix filter
    // indexes 3 of their 8 shingles regardless of df and must find J = 1.0.
    import spark.implicits._
    val scratch = graft.Tables.scratchDir("setsim_boiler")
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val rows = (0L until 200L).map(i => (i, s"$base u${i}a u${i}b u${i}c u${i}d u${i}e")) ++
      Seq((200L, base), (201L, base))
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val capped = Dedup.dedupNgramJaccard(spark, scratch, dfCap = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((200L, 201L)), s"cap should have hidden the pair: $capped")
    val pf = Dedup.dedupSetsimPrefix(spark, scratch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pf.contains((200L, 201L, 1.0)), s"prefix join missed the boilerplate pair: $pf")
    // and it is exactly the brute-force answer on this corpus: the unique
    // tokens (df = 1) fill every padded doc's prefix, so cross-doc padded
    // prefixes are disjoint — no candidate explosion, no false negatives
    assert(pf.map(p => (p._1, p._2)) == Set((200L, 201L)))
  }

  test("dedup_exact groups identical texts deterministically") {
    import spark.implicits._
    val docs = Seq((10L, "same text"), (3L, "same text"), (5L, "other"))
      .toDF("doc_id", "text").createOrReplaceTempView("ignored")
    val out = Seq((10L, "same text"), (3L, "same text"), (5L, "other"))
      .toDF("doc_id", "text")
      .groupBy("text").agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L)
    assert(out(1).getLong(1) == 5L && out(1).getLong(2) == 1L)
  }

  test("sim_search_topk returns 5 ranked neighbors per query, no self-matches") {
    val out = Similarity.simSearchTopk(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(rows.forall(_.getLong(2) != q))
      // ranks ordered by descending cosine
      val sorted = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dedup_simhash block-LSH finds EVERY pair within Hamming 3 (pigeonhole completeness)") {
    // brute-force ground truth over all simhash pairs at sf0.001, from a
    // driver-side reimplementation of the FNV-1a-token fingerprint
    val sim = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map { r =>
        val votes = new Array[Int](64)
        r.getString(1).split(" ").distinct.foreach { tk =>
          var h = 0xcbf29ce484222325L
          tk.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
        var fp = 0L
        (0 until 64).foreach(b => if (votes(b) > 0) fp |= (1L << b))
        (r.getLong(0), fp)
      }
    val exact = (for {
      (a, fa) <- sim; (b, fb) <- sim if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    val lsh = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("sim_search_ivf returns 5 ranked candidates per query from probed cells") {
    val out = Similarity.simSearchIvf(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(rows.forall(_.getLong(2) != q))
    }
    // deterministic across runs (decimal centroid averaging)
    val again = Similarity.simSearchIvf(spark, sf).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("ANN recall@5: LSH and IVF each recover >= 0.8 of the exact top-5") {
    // the r3 edit-distance failure mode was a silently degenerated bucketing
    // that still returned shape-valid rows; a measured recall floor against
    // the exact answer makes that impossible for the rows-only ANN keys
    def top5(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5(Similarity.simSearchTopk(spark, sf).collect())
    assert(exact.nonEmpty)
    val denom = exact.values.map(_.size).sum.toDouble
    Seq(
      "sim_search_lsh" -> Similarity.simSearchLshBucketed(spark, sf),
      "sim_search_ivf" -> Similarity.simSearchIvf(spark, sf),
      "sim_search_ivfpq" -> Similarity.simSearchIvfPq(spark, sf)).foreach { case (name, df) =>
      val approx = top5(df.collect())
      val hits = exact.map { case (q, s) => (approx.getOrElse(q, Set.empty) & s).size }.sum
      val recall = hits / denom
      assert(recall >= 0.8, f"$name recall@5 = $recall%.2f < 0.8 — bucketing degenerated")
    }
  }

  test("ANN contract keys: exact anchors match brute force, boolean derives from the real ANN path") {
    // the contract form (r15): anchors must equal the exact top-5 csv in
    // rank order, and the recall boolean must be TRUE on testdata for all
    // three ANN paths — the same facts the driver's DuckDB oracle asserts
    val exact = Similarity.simSearchTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    val expectCsv = exact.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).mkString(",")).toMap
    Seq(
      "sim_search_lsh" -> Similarity.simSearchLshContract(spark, sf),
      "sim_search_ivf" -> Similarity.simSearchIvfContract(spark, sf),
      "sim_search_ivfpq" -> Similarity.simSearchIvfPqContract(spark, sf)).foreach {
      case (name, df) =>
        val rows = df.collect()
        assert(rows.map(_.getAs[Long]("query_id")).toSet == expectCsv.keySet, name)
        rows.foreach { r =>
          assert(r.getAs[String]("exact_top5") == expectCsv(r.getAs[Long]("query_id")),
            s"$name anchor drift at query ${r.get(0)}")
          assert(r.getAs[Long]("n_exact") == 5L, name)
          assert(r.getAs[Boolean]("recall_floor_ok"), s"$name recall floor failed")
        }
    }
    // the boolean is not vacuous: a degenerated ANN path (here: an empty
    // result, the extreme of the r3 silent-bucketing failure) flips it
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    val poisoned = Similarity.annRecallContract(spark, sf, empty).collect()
    assert(poisoned.nonEmpty && poisoned.forall(!_.getAs[Boolean]("recall_floor_ok")))
  }

  test("sim_search_ivfpq: 5 ranked rows per query, deterministic, genuinely compressed codes") {
    val (first, enc) = Similarity.ivfPqWithCodes(spark, sf)
    val out = first.collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(rows.forall(_.getLong(2) != q))
    }
    val again = Similarity.simSearchIvfPq(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the encoded index really is M=8 codes of 4 bits' worth each — the
    // 32x-compression claim (8 small ints vs 64 floats) is structural, and
    // the codebooks are genuinely used: more than one code value appears
    // per subspace (a degenerate codebook would collapse ADC to a constant)
    val codes = enc.collect().map(_.getSeq[Int](enc.schema.fieldIndex("codes")))
    assert(codes.nonEmpty && codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    assert((0 until 8).forall(m => codes.map(_(m)).distinct.length > 1))
  }

  test("sim_hard_negatives: structural contract — positives are near-dups, negatives are not, ranks exact") {
    import Similarity.HardNeg._
    val out = Similarity.simHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty, "corpus has planted near-dups; anchors must exist")
    val anchors = out.map(_._1).distinct
    assert(anchors.length <= Anchors)
    // exact pair set (the oracle's ground truth) for the contract checks
    val pairs = Dedup.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val partners = pairs.flatMap(p => Seq((p._1, (p._2, p._3)), (p._2, (p._1, p._3))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nearDup = pairs.flatMap(p => Seq((p._1, p._2), (p._2, p._1))).toSet
    out.groupBy(_._1).foreach { case (a, rows) =>
      // positive = argmax (jaccard desc, id asc) among the anchor's partners
      val bestPos = partners(a).minBy { case (id, j) => (-j, id) }._1
      assert(rows.forall(_._2 == bestPos), s"anchor $a positive ${rows.head._2} != argmax $bestPos")
      // a hard negative is never a near-dup of its anchor, never the anchor
      rows.foreach { case (_, _, _, neg, _) =>
        assert(neg != a && !nearDup.contains((a, neg)), s"negative $neg is a near-dup of anchor $a")
      }
      // ranks are 1..k and cosine non-increasing in rank
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.sortBy(_._3).map(_._5).sliding(2).forall(s => s.length < 2 || s(0) >= s(1)))
      assert(rows.length <= Negatives)
    }
    // deterministic: rerun identical
    val again = Similarity.simHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == again.toSeq)
  }

  test("sim_hard_negatives: identical under spark.sql.legacy.sizeOfNull=true") {
    // r16 verdict #3: the Jaccard union denominator must coalesce the ARRAY,
    // not the size — under legacy semantics size(NULL) is -1 (not NULL) and
    // a size-level coalesce never fires, corrupting the denominator for
    // shingle-less docs. Child session pins the legacy conf; rows must match.
    val base = Similarity.simHardNegatives(spark, sf).collect().map(_.toSeq)
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.sizeOfNull", "true")
    val legacy = Similarity.simHardNegatives(s, sf).collect().map(_.toSeq)
    assert(base.toSeq == legacy.toSeq)
  }

  test("treeMergePartials: deterministic fixed-order fan-in, flat-equal at small widths, exact counts at any width") {
    val sc = spark.sparkContext
    // partials that expose association order: doubles with wildly mixed
    // magnitudes (tree vs flat association differ in the last ulp) plus
    // exact long counts (associative — must match the flat sum exactly)
    def mk() = sc.parallelize(0 until 40, 40).map { pid =>
      (pid, (Array(math.pow(10.0, pid % 17 - 8), 1.0 / (pid + 1)), Array(pid.toLong, 1L)))
    }
    def merge(a: (Array[Double], Array[Long]), b: (Array[Double], Array[Long])) = {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      a
    }
    def fold(m: Array[(Int, (Array[Double], Array[Long]))]) =
      m.foldLeft((Array(0.0, 0.0), Array(0L, 0L)))((acc, p) => merge(acc, p._2))
    // nParts <= fanout: the tree is a no-op and the fold is bit-identical
    // to the historical collect-and-sort driver merge
    val flat = fold(mk().collect().sortBy(_._1))
    val noTree = fold(Similarity.treeMergePartials(mk(), 40, merge, fanout = 64))
    assert(noTree._1.toSeq == flat._1.toSeq && noTree._2.toSeq == flat._2.toSeq)
    // nParts > fanout (3 levels at fanout 4): deterministic across runs
    // (bit-identical doubles — the fold tree is fixed by (nParts, fanout),
    // not by task completion order), driver sees <= fanout partials, and
    // the associative long counts equal the flat sum exactly
    val t1 = Similarity.treeMergePartials(mk(), 40, merge, fanout = 4)
    val t2 = Similarity.treeMergePartials(mk(), 40, merge, fanout = 4)
    assert(t1.length <= 4)
    assert(t1.map(_._1).toSeq == t2.map(_._1).toSeq)
    assert(fold(t1)._1.toSeq == fold(t2)._1.toSeq) // bit-identical doubles
    assert(fold(t1)._2.toSeq == flat._2.toSeq)     // exact counts
  }

  test("stagedAnchors: staged id-prefix search equals the unbounded exact join at every stage-loop forcing") {
    import Similarity.HardNeg._
    import org.apache.spark.sql.expressions.Window
    val sigDocs = Dedup.minhashSignatureIndex(spark, graft.Tables.t(spark, sf, "documents"))
    // reference = the r13 full-corpus exact join's anchor set
    val pairs = Dedup.setsimPrefixPairs(spark, sigDocs.select(col("doc_id"), col("shs")), 8, 10)
    val sym = pairs.select(col("doc_a").as("anchor_id"), col("doc_b").as("p"), col("jaccard"))
      .unionAll(pairs.select(col("doc_b").as("anchor_id"), col("doc_a").as("p"), col("jaccard")))
    val wPos = Window.partitionBy("anchor_id").orderBy(col("jaccard").desc, col("p"))
    val full = sym.withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select("anchor_id", "p").orderBy("anchor_id").limit(Anchors)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(full.nonEmpty, "corpus has planted near-dups; the reference anchor set must be non-empty")
    // firstBound 1 and 4 force multiple geometric stages; 256 is the
    // production default; MaxValue-1 degenerates to the unbounded join
    for (fb <- Seq(1L, 4L, 256L, Long.MaxValue - 1)) {
      val staged = Similarity.stagedAnchors(spark, sf, sigDocs, fb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(staged == full, s"firstBound=$fb: staged $staged != full $full")
    }
  }

  test("anchorLadder: stage count stays log8-bounded on a hashed-sparse id domain") {
    // ids spread over ~2^62: a value-space ×8 walk from 256 would need
    // ~20 stages; the rank-seeded ladder must stay ⌈log8(n/fb)⌉ + 1
    import spark.implicits._
    val n = 4096L
    val sparse = spark.range(n)
      .select(abs(xxhash64(col("id"))).as("doc_id"))
    for (fb <- Seq(1L, 4L, 256L)) {
      val ladder = Similarity.anchorLadder(sparse, n, fb)
      val bound = math.ceil(math.log(n.toDouble / fb) / math.log(8.0)).toInt + 1
      assert(ladder.length <= bound + 1, // +1: the unbounded MaxValue rung
        s"fb=$fb: ladder ${ladder.length} rungs > bound $bound+1 — " +
          "stage count must not track the id VALUE space")
      assert(ladder.last == Long.MaxValue)
      assert(ladder == ladder.distinct.sorted, "rungs must ascend")
    }
  }

  test("sim_knn_graph: recall@3 vs the exact brute-force graph + structural contract") {
    // the key is rows-only (k-means cells aren't SQL-expressible), so this
    // spec IS its correctness evidence: structural contract first, then a
    // measured recall floor against the exact all-pairs top-3 graph —
    // mirroring the ANN recall@5 test above (r11 advice: the doc comment
    // claimed this check existed; now it does)
    val out = Similarity.simKnnGraph(spark, sf).collect()
    assert(out.nonEmpty)
    val byVec = out.groupBy(_.getLong(0))
    byVec.foreach { case (v, rows) =>
      assert(rows.length <= 3, s"vec $v has ${rows.length} > k neighbors")
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.forall(_.getLong(2) != v), s"vec $v has a self-edge")
    }
    // exact graph driver-side: 500 vectors at sf0.001 → 250k pairs
    val vecs = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact: Map[Long, Set[Long]] = vecs.map { case (id, v) =>
      id -> vecs.iterator.filter(_._1 != id)
        .map { case (j, u) => (j, cos(v, u)) }.toArray
        .sortBy { case (j, c) => (-c, j) } // = the operator's (cosine desc, vec_id) window order
        .take(3).map(_._1).toSet
    }.toMap
    val approx = byVec.view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val denom = exact.values.map(_.size).sum.toDouble
    val hits = exact.map { case (q, s) => (approx.getOrElse(q, Set.empty) & s).size }.sum
    val recall = hits / denom
    assert(recall >= 0.8, f"sim_knn_graph recall@3 = $recall%.2f < 0.8 — IVF probing degenerated")
    // deterministic across runs (memoized centroids + decimal averaging)
    val again = Similarity.simKnnGraph(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("incremental cluster maintenance is indistinguishable from the full recompute") {
    val full = Dedup.dedupClusters(spark, sf).collect().map(_.toSeq).toSeq
    val inc = Dedup.dedupClustersIncremental(spark, sf).collect().map(_.toSeq).toSeq
    assert(inc == full)
  }

  test("large-star/small-star components: equals label propagation on the dedup graph, survives a 200-node chain") {
    import spark.implicits._
    // pathological diameter: a 200-node path — min-label propagation needs
    // 199 rounds (beyond its divergence guard); log-star converges in O(log²)
    val chainNodes = (0L until 200L).toDF("doc_id")
    val chainEdges = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chain = Dedup.connectedComponentsLogStar(spark, chainNodes, chainEdges).collect()
    assert(chain.length == 200)
    assert(chain.forall(_.getAs[Long]("cluster_id") == 0L))

    // random graph: both formulations agree with each other exactly
    val rnd = new scala.util.Random(7)
    val n = 300L
    val nodes = (0L until n).toDF("doc_id")
    val edges = Seq.fill(150)((rnd.nextLong().abs % n, rnd.nextLong().abs % n))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponentsLogStar(spark, nodes, edges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    val prop = Dedup.connectedComponents(spark, nodes, edges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    assert(star == prop)

    // and the full operator twin matches dedup_clusters row for row
    val a = Dedup.dedupClusters(spark, sf).collect().map(_.toSeq).toSeq
    val b = Dedup.dedupClustersStar(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("stratified sample is deterministic for a fixed seed and downsamples the target stratum") {
    val a = TextOps.sampleStratified(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val b = TextOps.sampleStratified(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    val full = graft.Tables.t(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val sampled = a.toMap
    assert(sampled("en") < full("en")) // downsampled stratum
    assert(sampled("de") == full("de")) // fraction 1.0 keeps everything
  }

  test("text fingerprint is order-sensitive") {
    import spark.implicits._
    def fp(s: String): Long = {
      Seq((1L, s)).toDF("doc_id", "text")
        .withColumn("tk", split(col("text"), " "))
        .select(aggregate(
          transform(col("tk"), t => (length(t) * 17 + ascii(substring(t, 1, 1))).cast("long")),
          lit(0L), (h, v) => (h * 31 + v) % 1000000007L))
        .head().getLong(0)
    }
    assert(fp("a b c") != fp("c b a"))
    assert(fp("a b c") == fp("a b c"))
  }

  test("documents corpus is ASCII-only (multimodal oracle parity invariant)") {
    // The multimodal_decode oracle derives dims via DuckDB ascii()/length()
    // (code points / char counts) while ImageCodec.dims reads raw UTF-8
    // bytes; the two only agree while the corpus is ASCII. Pin that
    // invariant here so corpus drift fails a spec instead of silently
    // diverging width/height in the oracle compare.
    val nonAscii = graft.Tables.t(spark, sf, "documents")
      .filter(octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0, s"$nonAscii documents contain multibyte chars; " +
      "multimodal_decode's ascii()-based oracle no longer matches byte-level dims")
  }

  test("real image decode round-trips dimensions, format and pixels") {
    import spark.implicits._
    // known fixtures: "hello world" (len 11, odd -> BMP), "ab" (even -> PNG)
    val docs = Seq((1L, "hello world"), (2L, "ab")).toDF("doc_id", "text")
    val enc = docs.select(col("doc_id").cast("long"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, tb) => (id, Multimodal.ImageCodec.encode(id, tb)) }
      .toDF("doc_id", "media")
    // the bytes must be REAL containers: magic numbers prove it
    val raw = enc.collect().sortBy(_.getLong(0)).map(_.getAs[Array[Byte]]("media"))
    assert(raw(0)(0) == 'B'.toByte && raw(0)(1) == 'M'.toByte)       // BMP magic
    assert((raw(1)(0) & 0xff) == 0x89 && raw(1)(1) == 'P'.toByte)    // PNG magic
    val out = Multimodal.decodeMedia(spark, enc).collect().sortBy(_.doc_id)
    assert(out(0).width == 8 + 'h'.toInt % 56)
    assert(out(0).height == 8 + 'e'.toInt % 56)
    assert(out(0).format == "bmp" && out(1).format == "png")
    assert(out.forall(_.n_frames == 1))
    // pixel checksum vs an independent driver-side recomputation of the
    // deterministic pattern — only a real pixel decode can produce this
    out.foreach { m =>
      var expected = 0L
      for (y <- 0 until m.height; x <- 0 until m.width)
        expected += Multimodal.ImageCodec.pixel(m.doc_id, x, y)
      assert(m.px_sum == expected, s"pixel checksum mismatch for doc ${m.doc_id}")
    }
    val again = Multimodal.decodeMedia(spark, enc).collect().sortBy(_.doc_id)
    assert(out.toSeq == again.toSeq)
  }

  test("byte-histogram features are normalized and resize resamples real pixels") {
    import spark.implicits._
    val feats = Multimodal.multimodalFeatures(spark, sf).head()
    val sum = (0 until 16).map(i => feats.getDouble(feats.fieldIndex(s"h$i"))).sum
    assert(math.abs(sum - 1.0) < 1e-9) // histogram normalizes to 1
    val enc = Seq((1L, "hello")).toDF("doc_id", "text")
      .select(col("doc_id").cast("long"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, tb) => (id, Multimodal.ImageCodec.encode(id, tb)) }
      .toDF("doc_id", "media")
    val full = Multimodal.decodeMedia(spark, enc).head()
    val resized = Multimodal.resizeMedia(spark, enc, 2).head()
    val (rw, rh) = (resized.getInt(resized.fieldIndex("width")),
      resized.getInt(resized.fieldIndex("height")))
    assert(rw == full.width / 2 && rh == full.height / 2)
    // nearest-neighbor samples source pixel (x*srcW DIV w, y*srcH DIV h):
    // the resized checksum must equal that recomputation, not the full sum
    var expected = 0L
    for (y <- 0 until rh; x <- 0 until rw)
      expected += Multimodal.ImageCodec.pixel(1L,
        x * full.width / rw, y * full.height / rh)
    assert(resized.getLong(resized.fieldIndex("px_sum")) == expected)
  }

  test("frame sampling fans out container-metadata frame counts") {
    import spark.implicits._
    val media = Seq((1L, 4), (2L, 1)).toDF("doc_id", "n_frames")
    val all = Multimodal.sampleFrames(spark, media, 1).collect()
    assert(all.count(_.getLong(0) == 1L) == 4)
    assert(all.count(_.getLong(0) == 2L) == 1)
    val sampled = Multimodal.sampleFrames(spark, media, 2).collect()
    assert(sampled.count(_.getLong(0) == 1L) == 2) // frames 0 and 2
  }

  test("md5 simhash matches a driver-side recomputation and clusters near-dups") {
    val out = Dedup.dedupSimhashMd5(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty)
    // independent recomputation of one fingerprint from the raw text
    val row = graft.Tables.t(spark, sf, "documents")
      .orderBy("doc_id").select("doc_id", "text").head()
    val toks = row.getString(1).split(" ", -1).distinct
    val votes = new Array[Int](60)
    toks.foreach { tk =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xFFL)) >>> 4
      (0 until 60).foreach(b => if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
    }
    val expected = (0 until 60).foldLeft(0L)((fp, b) => if (votes(b) > 0) fp | (1L << b) else fp)
    assert(out(row.getLong(0)) == expected)
    // all fingerprints fit in 60 bits
    assert(out.values.forall(fp => (fp >>> 60) == 0L))
  }

  test("md5 simhash maps null text to fingerprint 0 (matches oracle NULL handling)") {
    import spark.implicits._
    val docs = Seq((1L, null: String), (2L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.simhashMd5Fingerprints(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(1L) == 0L)
    assert(out(2L) != 0L)
  }

  test("hash-stratified sample is stable and downsamples only the en stratum") {
    val a = TextOps.sampleHashStratified(spark, sf).collect()
    val b = TextOps.sampleHashStratified(spark, sf).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq) // byte-stable
    val full = graft.Tables.t(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    // non-en strata kept whole; en kept at ~25% (binomial tolerance)
    full.foreach { case (lang, n) =>
      if (lang == "en") assert(sampled(lang) < n && math.abs(sampled(lang) - 0.25 * n) < 0.1 * n)
      else assert(sampled(lang) == n)
    }
  }

  test("embedding-cosine dedup finds exactly the planted near-dup pairs") {
    import spark.implicits._
    // the sf embeddings table has no pairs above 0.95 (its 0-row oracle match
    // is correct but weak) — plant near-identical vectors to drive the
    // non-empty path: LSH banding, candidate join, exact cosine verify
    val dim = 32
    val rnd = new scala.util.Random(42)
    val base = (0L until 40L).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val planted = Seq(0L, 7L, 23L).map { i =>
      val src = base(i.toInt)._2
      // tiny perturbation: cosine vs src ~0.9999, far above threshold
      (100L + i) -> src.map(x => x + 0.001f)
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")

    val got = Dedup.embeddingCosinePairs(spark, emb, dim, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // driver-side brute force with the operator's fold order (left-to-right
    // double sums) — ground truth for this synthetic corpus
    val all = (base ++ planted).map { case (id, v) => id -> v.map(_.toDouble) }
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val expected = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      cos = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      if cos >= 0.95
    } yield (ia, ib)).toSet

    assert(expected.size >= 3, "planted pairs must be above threshold")
    assert(got == expected)
  }

  test("text_tfidf ranks rarer terms above common ones within a document") {
    val rows = TextOps.textTfidf(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length))
      // tfidf non-increasing down the ranks; token breaks exact ties asc
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          val (a, b) = (hi.getAs[Double]("tfidf"), lo.getAs[Double]("tfidf"))
          assert(a > b || (a == b && hi.getAs[String]("token") < lo.getAs[String]("token")))
        case _ =>
      }
    }
    // a term present in every document has idf ln(N+1 / N+1) = 0 — it can
    // never outrank a term with positive idf and tf >= 1
    val nDocs = graft.Tables.t(spark, sf, "documents").count()
    rows.filter(_.getAs[Long]("df") == nDocs).foreach { r =>
      assert(r.getAs[Double]("tfidf") == 0.0)
    }
  }

  test("dedup_edit_distance bounds hold and the threshold sentinel never leaks") {
    val rows = Dedup.dedupEditDistance(spark, sf).collect()
    assert(rows.nonEmpty, "planted near-dups must be found")
    // bounded levenshtein returns -1 above the threshold; the filter must
    // exclude it explicitly (-1 <= bound is true), so any negative distance
    // in the output is the sentinel leaking
    val texts = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val d = r.getAs[Long]("edit_dist")
      assert(d >= 0, s"sentinel leaked for pair ${r.getLong(0)}/${r.getLong(1)}")
      val bound = math.max(texts(r.getLong(0)).length, texts(r.getLong(1)).length) / 4
      assert(d <= bound, s"distance $d over bound $bound")
    }
  }

  test("text_unigram_logprob matches a driver-side recomputation and ranks rarity") {
    val rows = TextOps.textUnigramLogprob(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("avg_cost_micro") ==
        r.getAs[Long]("sum_cost_micro") / r.getAs[Long]("n_tokens"))
    }
    // independent recomputation of one document's score from raw text
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val allToks = docs.flatMap(_._2.split(" ", -1))
    val freq = allToks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = allToks.length.toDouble
    val (docId, text) = docs.head
    val expected = text.split(" ", -1)
      .map(t => math.round(-math.log(freq(t) / total) * 1e6)).sum
    val got = rows.find(_.getAs[Long]("doc_id") == docId).get
    assert(got.getAs[Long]("sum_cost_micro") == expected)
    // a token appearing once costs ln(total); the corpus-commonest token
    // must cost strictly less
    val rare = math.round(math.log(total) * 1e6)
    val common = math.round(-math.log(freq.values.max / total) * 1e6)
    assert(common < rare)
  }

  test("dedup_decontaminate drops exactly the docs sharing a 5-gram with the benchmark slice") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    def grams(text: String): Set[String] =
      text.split(" ", -1).sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    val benchGrams = docs.filter(_._1 % 97 == 0).flatMap(d => grams(d._2)).toSet
    val expectedClean = docs.filter(_._1 % 97 != 0)
      .filter(d => grams(d._2).intersect(benchGrams).isEmpty).map(_._1).toSet
    val got = Dedup.dedupDecontaminate(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got == expectedClean)
    // the pass must actually remove something on this corpus (planted
    // near-dups overlap the benchmark slice), and never a benchmark doc id
    val corpusIds = docs.filter(_._1 % 97 != 0).map(_._1).toSet
    assert(got.size < corpusIds.size)
    assert(got.forall(_ % 97 != 0))
    // scale posture: the benchmark shingle set must broadcast — the corpus
    // side streams through the semi-join with no corpus-sized shuffle
    val plan = Dedup.dedupDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("dedup_decontaminate degrades to a shuffle anti-join when the id set exceeds the broadcast gate") {
    // Force the gate shut (limit 0) and disable stats-based broadcast so the
    // plan proves the HINT is gone: a forced broadcast() survives
    // autoBroadcastJoinThreshold=-1, a stats-based one doesn't.
    val expected = Dedup.dedupDecontaminate(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    spark.conf.set("graft.decontaminate.broadcastIdLimit", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = Dedup.dedupDecontaminate(spark, sf)
      val planStr = gated.queryExecution.sparkPlan.toString
      assert(planStr.contains("SortMergeJoin") && planStr.contains("LeftAnti"),
        planStr.take(1200))
      val got = gated.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(got == expected)
    } finally {
      spark.conf.unset("graft.decontaminate.broadcastIdLimit")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedup_substring merges cross-doc duplicated windows into maximal spans") {
    val L = 10
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val grams = docs.flatMap { case (id, text) =>
      text.split(" ", -1).sliding(L).filter(_.length == L).zipWithIndex
        .map { case (w, i) => (id, i + 1L, w.mkString(" ")) }
    }
    val dup = grams.groupBy(_._3).view.mapValues(_.map(_._1).toSet)
      .collect { case (g, ids) if ids.size > 1 => g }.toSet
    val expected = grams.filter(g => dup(g._3)).groupBy(_._1).toSeq.flatMap {
      case (id, ps) =>
        val pos = ps.map(_._2).sorted
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = pos.head; var prev = pos.head; var nw = 0L
        pos.foreach { p =>
          if (p - prev > L) { spans += ((start, prev + L - 1, nw)); start = p; nw = 0L }
          nw += 1; prev = p
        }
        spans += ((start, prev + L - 1, nw))
        spans.map(s => (id, s._1, s._2, s._2 - s._1 + 1, s._3))
    }.toSet
    val got = Dedup.dedupSubstring(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "planted duplicate families must surface spans")
    // an exact-duplicate pair shares every window, so each member is
    // covered end-to-end by ONE span: [1, n_tokens] with all windows in it
    // (sf0.001 has no exact-dup family — the planted near-dups share long
    // runs, not whole texts — so the check is conditional on one existing)
    val family = docs.groupBy(_._2).filter { case (text, ds) =>
      ds.length > 1 && text.split(" ", -1).length >= L }
    family.foreach { case (text, ds) =>
      val n = text.split(" ", -1).length.toLong
      ds.foreach { case (id, _) =>
        val span = got.filter(_._1 == id)
        assert(span.exists(s => s._2 == 1L && s._3 == n),
          s"doc $id should carry a full-doc span [1,$n]; got $span")
      }
    }
    // every span is at least one full window and inside its document
    val nToks = docs.map { case (id, t0) => id -> t0.split(" ", -1).length.toLong }.toMap
    got.foreach { case (id, s0, e0, len, nw) =>
      assert(len == e0 - s0 + 1 && len >= L && nw >= 1 && e0 <= nToks(id))
    }
  }

  test("dedup_substring_cut removes exactly the span-covered tokens and preserves the rest") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val spans = Dedup.dedupSubstring(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3))).toMap
    val expected = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val sp = spans.getOrElse(id, Array.empty[(Long, Long)])
      val keep = tk.zipWithIndex.collect {
        case (tok, i) if !sp.exists(s => i + 1 >= s._1 && i + 1 <= s._2) => tok
      }
      (id, (keep.mkString(" "), sp.map(s => s._2 - s._1 + 1).sum, keep.length.toLong))
    }.toMap
    val got = Dedup.dedupSubstringCut(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet.map(identity))
    expected.foreach { case (id, (cut, removed, _)) =>
      assert(got(id) == ((cut, removed)), s"doc $id")
    }
    // conservation: per doc, surviving tokens + removed tokens = original
    docs.foreach { case (id, text) =>
      val orig = text.split(" ", -1).length.toLong
      val (_, removed, kept) = expected(id)
      assert(kept + removed == orig, s"doc $id: $kept + $removed != $orig")
    }
    // the pass must actually cut something on this corpus
    assert(got.values.exists(_._2 > 0))
  }

  test("corpus_pack_chunks is a gapless global prefix sum with no single-partition window") {
    val L = TextOps.PackChunkLen
    val rows = TextOps.corpusPackChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    // mirror computation: running sum over doc_id order
    val expected = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong)
      .sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, n, acc + n) }
      .drop(1)
      .map { case (id, n, cum) =>
        val st = cum - n
        (id, n, st, cum - 1, st / L, (cum - 1) / L, (cum - 1) / L - st / L + 1)
      }
    assert(rows.toSeq == expected.toSeq)
    // gapless: each doc starts where the previous ended; stream starts at 0
    assert(rows.head._3 == 0L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._4 + 1, s"gap between ${a._1} and ${b._1}")
    case _ => }
    // the scale claim: NO global-window single-partition exchange — the
    // prefix sum is the two-phase partition-offset pattern, not a Window
    val plan = TextOps.corpusPackChunks(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(!plan.contains("SinglePartition"), plan.take(800))
  }

  test("text_quality_buckets is a correct distributed ntile over the logprob score") {
    val rows = TextOps.textQualityBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toLong
    // rank0 must be a permutation of 0..n-1 ordered by (score, doc_id)
    val byScore = rows.sortBy(t0 => (t0._2, t0._1))
    assert(byScore.map(_._3).toSeq == (0L until n).toSeq)
    // tier is the pure formula on the rank, and every tier is non-empty
    rows.foreach { case (id, _, r0, tier) =>
      assert(tier == r0 * 3 / n + 1, s"doc $id")
    }
    assert(rows.map(_._4).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
    // head tier really has lower (better) scores than tail on average
    val head = rows.filter(_._4 == 1L).map(_._2)
    val tail = rows.filter(_._4 == 3L).map(_._2)
    assert(head.max <= tail.min || head.sum / head.length < tail.sum / tail.length)
    // same scale posture as the other prefix-sum users: no global window
    val plan = TextOps.textQualityBuckets(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
  }

  test("sample_token_budget keeps exactly the prefix-threshold set in hash order") {
    val budget = TextOps.TokenBudget
    val rows = TextOps.sampleTokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // mirror: md5-ordered exclusive running sum, keep iff total-incl fits
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (h(r.getLong(0)), r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(t0 => (t0._1, t0._2))
    var cum = 0L
    val expected = ordered.flatMap { case (_, id, n) =>
      val keep = cum + n <= budget
      cum += n
      if (keep) Some((id, n, cum - n)) else None
    }.sortBy(_._1)
    assert(rows.sortBy(_._1).toSeq == expected.toSeq)
    assert(expected.nonEmpty && expected.map(_._2).sum <= budget)
    // scale posture: same prefix-sum pattern as pack_chunks — no global window
    val plan = TextOps.sampleTokenBudget(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
  }

  test("llm_corpus_pipeline composes its stages exactly (survivor set, token accounting, cut text)") {
    val rows = built("llm_corpus_pipeline").collect()
    val gotIds = rows.map(_.getAs[Long]("doc_id")).toSet
    // survivor set = quality ∩ repetition-keep ∩ decontaminated ∩ canonical,
    // each side computed by its own already-spec-verified operator
    val quality = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().flatMap { r =>
        val tk = r.getString(1).split(" ", -1)
        val uniq = tk.distinct.length.toDouble / tk.length
        if (tk.length >= 5 && uniq >= 0.3) Some(r.getLong(0)) else None
      }.toSet
    val repKeep = TextOps.textRepetitionFilter(spark, sf).collect()
      .filter(_.getAs[Long]("keep") == 1L).map(_.getAs[Long]("doc_id")).toSet
    val clean = Dedup.dedupDecontaminate(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val canonical = Dedup.dedupClusters(spark, sf).collect()
      .filter(_.getAs[Boolean]("is_canonical")).map(_.getAs[Long]("doc_id")).toSet
    assert(gotIds == (quality & repKeep & clean & canonical))
    assert(gotIds.nonEmpty, "the pipeline must keep a non-trivial corpus")
    // token accounting + cut text agree with dedup_substring_cut per survivor
    val cuts = Dedup.dedupSubstringCut(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (cutText, removed) = cuts(id)
      assert(r.getAs[String]("text_cut") == cutText, s"doc $id text_cut")
      assert(r.getAs[Long]("tokens_cut") == removed, s"doc $id tokens_cut")
      assert(r.getAs[Long]("n_tokens_final") ==
        r.getAs[Long]("n_tokens") - removed, s"doc $id accounting")
    }
  }

  test("llm_curation_funnel: stage chaining, conservation, and agreement with the composed pipeline") {
    val f = Dedup.llmCurationFunnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(f.map(_._2).toSeq == Seq("text_not_null", "quality_gate", "repetition_filter",
      "decontaminate", "cluster_dedup", "substring_cut"))
    // chaining: stage k's input IS stage k-1's output (docs and tokens)
    f.sliding(2).foreach { case Array(prev, next) =>
      assert(next._3 == prev._4, s"docs_in of ${next._2} != docs_out of ${prev._2}")
      assert(next._6 == prev._7, s"tokens_in of ${next._2} != tokens_out of ${prev._2}")
    }
    // conservation: drops are non-negative and docs_dropped = in - out
    f.foreach { case (_, nm, in, out, dropped, tIn, tOut) =>
      assert(dropped == in - out && dropped >= 0, s"$nm drop accounting")
      assert(tOut <= tIn, s"$nm token accounting")
    }
    // stage 1 input is the whole corpus
    assert(f.head._3 == graft.Tables.t(spark, sf, "documents").count())
    // the funnel's terminal numbers equal the composed pipeline's output:
    // same survivor count, same final token mass
    val pipe = built("llm_corpus_pipeline").collect()
    assert(f.last._4 == pipe.length, "funnel survivors != pipeline rows")
    assert(f.last._7 == pipe.map(_.getAs[Long]("n_tokens_final")).sum,
      "funnel tokens_out != pipeline n_tokens_final mass")
    // the substring-cut stage never drops documents
    assert(f.last._3 == f.last._4)
  }

  test("text_repetition_filter matches a driver-side recomputation of the Gopher signals") {
    val rows = TextOps.textRepetitionFilter(spark, sf).collect()
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, text) =>
      val bg = text.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      if (bg.isEmpty) None else {
        val counts = bg.groupBy(identity).view.mapValues(_.length.toLong)
        val n = bg.length.toLong
        val top = counts.values.max
        val dup = counts.values.filter(_ > 1).sum
        Some(id -> ((n, dup.toDouble / n, top.toDouble / n)))
      }
    }.toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, dupF, topF) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_bigrams") == n)
      assert(r.getAs[Double]("dup_frac") == dupF)
      assert(r.getAs[Double]("top_frac") == topF)
      assert(r.getAs[Long]("keep") == (if (dupF <= 0.20 && topF <= 0.18) 1L else 0L))
    }
    // the signal is live on this corpus: some doc repeats a bigram
    assert(rows.exists(_.getAs[Double]("dup_frac") > 0.0))
  }

  test("corpus_mix_epochs honors the mixture weights deterministically") {
    val rows = TextOps.corpusMixEpochs(spark, sf).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(!bySrc.contains("src3"), "weight-0 source must be excluded entirely")
    // every emitted doc carries a contiguous 1..n_copies epoch run
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val n = rs.head.getAs[Long]("n_copies")
      assert(rs.map(_.getAs[Long]("epoch")).sorted.sameElements(1L to n))
    }
    // fractional epochs: src0 (2.5) docs appear 2 or 3 times; src2 (0.5)
    // docs 0 or 1 — and the hash split sits near the fraction
    val src0Counts = TextOps.corpusMixEpochs(spark, sf).filter(col("source") === "src0")
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(src0Counts.nonEmpty && src0Counts.forall(c => c == 2L || c == 3L))
    val nDocsSrc0 = graft.Tables.t(spark, sf, "documents")
      .filter(col("source") === "src0").count()
    val emitted0 = src0Counts.sum.toDouble / nDocsSrc0
    assert(emitted0 > 2.0 && emitted0 < 3.0, s"src0 effective epochs $emitted0")
    // deterministic: a second run emits the identical multiset
    val again = TextOps.corpusMixEpochs(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("text_tfidf joins document frequencies via shuffle, never broadcast") {
    // the df side is vocabulary-sized — billions of distinct tokens at web
    // scale — so a BroadcastExchange there is an OOM at 100 TB. The plan
    // must carry exactly a co-partitioned merge join on `token`.
    val plan = TextOps.textTfidf(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"tfidf must not broadcast the vocabulary-sized df table, got:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"expected a shuffle merge join on token, got:\n$plan")
  }

  test("dedup_incremental equals the full-corpus answer restricted to new-doc pairs") {
    val full = Dedup.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
    val got = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "corpus must contain pairs touching the new batch")
    assert(got == want)
    // and no pair escapes the restriction: every emitted pair touches a new doc
    got.foreach { case (a, b) => assert(a % 10 == 0 || b % 10 == 0) }
  }

  test("dedup_clusters: closure matches union-find, canonical is min, survivors re-cluster to singletons") {
    val out = Dedup.dedupClusters(spark, sf).collect()

    // driver-side ground truth: union-find over the same two edge sets
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    val near = Dedup.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exact = docs.filter(_._2 != null).groupBy(_._2).values.toSeq.flatMap { g =>
      val ids = g.map(_._1)
      val m = ids.min
      ids.filter(_ != m).map(i => (i, m))
    }
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    // pointing the larger root at the smaller keeps every root the min of
    // its component — the operator's cluster_id convention
    (near ++ exact).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = docs.map(d => d._1 -> find(d._1)).toMap
    val wantSizes = want.values.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    assert(out.length == docs.length) // every document is assigned a cluster
    out.foreach { r =>
      val (id, cid) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))
      assert(cid == want(id), s"doc $id clustered to $cid, want ${want(id)}")
      assert(r.getAs[Long]("cluster_size") == wantSizes(cid))
      assert(r.getAs[Boolean]("is_canonical") == (id == cid))
    }
    // at least one real (multi-doc) cluster exists on this corpus, and each
    // cluster's survivor is its min doc_id by construction of cluster_id
    assert(out.exists(_.getAs[Long]("cluster_size") > 1))

    // idempotence: no edge joins two survivors, so re-clustering the
    // canonical set changes nothing (every survivor stays a singleton)
    val survivors = out.filter(_.getAs[Boolean]("is_canonical"))
      .map(_.getAs[Long]("doc_id")).toSet
    (near ++ exact).foreach { case (a, b) =>
      assert(!(survivors(a) && survivors(b)),
        s"edge ($a,$b) connects two canonical survivors — clustering not idempotent")
    }
  }

  test("dedup_semantic applies the SemDeDup within-cluster rule exactly; plants are deduped") {
    val out = Dedup.dedupSemantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // mirror the rule exactly from the assignment frame (the same
    // deterministic cells/d2c the operator builds): keep i iff no same-cell
    // j earlier in (d2c desc, vec_id asc) order has cosine(i,j) >= 0.95
    val assigned = Dedup.semanticAssignment(spark, sf).collect()
      .map { r =>
        (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Double](r.fieldIndex("v")).toArray,
          r.getLong(r.fieldIndex("cell")),
          r.getDouble(r.fieldIndex("d2c")))
      }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = assigned.groupBy(_._3).toSeq.flatMap { case (cell, members) =>
      val ordered = members.sortBy { case (id, _, _, d2c) => (-d2c, id) }
      ordered.zipWithIndex.map { case ((id, v, _, _), i) =>
        val dup = ordered.take(i).exists { case (_, w, _, _) => cos(v, w) >= 0.95 }
        (id, cell, !dup)
      }
    }.toSeq.sortBy(_._1)
    assert(out.toSeq == expected)
    // the pass is non-vacuous and directionally right on the planted
    // near-dups: most plants (cosine >= 0.995 to their source) fall in
    // their source's cell and get dropped; no un-planted vector is dropped
    val plantsDropped = out.count(t0 => t0._1 >= 1000000L && !t0._3)
    val plants = out.count(_._1 >= 1000000L)
    assert(plants > 0 && plantsDropped >= plants * 9 / 10,
      s"only $plantsDropped of $plants plants deduped — cell assignment degenerated")
    assert(out.forall(t0 => t0._1 >= 1000000L || t0._3),
      "a non-planted vector was dropped — false positive at threshold 0.95")
  }

  test("text_chunk_overlap covers every token with stride-S starts and exact slices") {
    val W = TextOps.ChunkWindow
    val S = TextOps.ChunkStride
    val rows = TextOps.textChunkOverlap(spark, sf).collect()
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet) // every doc chunked (incl. short ones)
    byDoc.foreach { case (id, cs) =>
      val tk = docs(id)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      // starts are exactly 0, S, 2S, ... while start < n_tokens
      assert(sorted.map(_.getAs[Long]("start_tok")).toSeq ==
        (0L until tk.length.toLong by S).toSeq, s"doc $id starts")
      sorted.foreach { c =>
        val st = c.getAs[Long]("start_tok")
        val en = c.getAs[Long]("end_tok")
        assert(en == math.min(st + W, tk.length.toLong) - 1, s"doc $id end")
        assert(c.getAs[String]("chunk_text") ==
          tk.slice(st.toInt, en.toInt + 1).mkString(" "), s"doc $id slice")
      }
      // coverage is gapless: next chunk starts inside (or right after) the
      // previous chunk's span, and the last chunk reaches the final token
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_tok") <= a.getAs[Long]("end_tok") + 1)
        case _ =>
      }
      assert(sorted.last.getAs[Long]("end_tok") == tk.length.toLong - 1)
    }
    // scale pin: chunking is per-row generation — the ONLY exchange in the
    // plan is the final presentation sort (range partitioning); no hash
    // shuffle, no window
    val plan = TextOps.textChunkOverlap(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("Window"), plan.take(800))
  }

  test("sample_lang_balanced caps every language at the quota in hash order via WindowGroupLimit") {
    val Q = TextOps.LangQuota
    val rows = TextOps.sampleLangBalanced(spark, sf).collect()
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.map { case (id, _) => (h(id), id, lang) }.sortBy(t0 => (t0._1, t0._2))
        .take(Q.toInt).zipWithIndex
        .map { case ((_, id, l), i) => (id, l, i + 1L) }
    }.toSet
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("lang_rank"))).toSet
      == expected)
    // every language hits min(quota, stratum size) — the cap actually binds
    val perLang = rows.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    val strata = docs.groupBy(_._2).view.mapValues(_.length.toLong)
    strata.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0L) == math.min(Q, n), lang)
    }
    assert(strata.values.exists(_ > Q)) // at least one stratum is capped
    // scale pin: the rank<=Q filter must plan as a group-limit on both sides
    // of the exchange — each map task shuffles at most Q rows per language
    val plan = TextOps.sampleLangBalanced(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("corpus_shard_balanced deals tokens serpentine onto near-equal shards, no global window") {
    val N = TextOps.NShards
    val rows = TextOps.corpusShardBalanced(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toLong
    // rank0 is the permutation ordered by (tokens desc, doc_id)
    val byTok = rows.sortBy(t0 => (-t0._2, t0._1))
    assert(byTok.map(_._3).toSeq == (0L until n).toSeq)
    // shard is the serpentine fold of the rank, and all N shards are used
    rows.foreach { case (id, _, r0, s) =>
      val f = r0 % (2 * N)
      assert(s == (if (f < N) f else 2 * N - 1 - f), s"doc $id")
    }
    assert(rows.map(_._4).distinct.sorted.toSeq == (0L until N).toSeq)
    // balance: the spread between heaviest and lightest shard is bounded by
    // one document (LPT serpentine property on this corpus)
    val totals = rows.groupBy(_._4).view.mapValues(_.map(_._2).sum).values.toSeq
    assert(totals.max - totals.min <= rows.map(_._2).max,
      s"shard totals $totals spread exceeds one max document")
    // scale posture: distributed prefix-sum rank, not a global window
    val plan = TextOps.corpusShardBalanced(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
  }

  test("corpus_shuffle_epoch: per-epoch permutations, genuinely reshuffled between epochs, window-free") {
    val E = TextOps.ShuffleEpochs
    val L = TextOps.ShuffleLoaders
    val rows = TextOps.corpusShuffleEpoch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == (0L until E).toSet)
    val n = rows.length / E
    byEpoch.foreach { case (e, rs) =>
      // positions form an exact permutation of 0..n-1 (nothing lost to the
      // cross-epoch prefix-sum offset arithmetic)
      assert(rs.map(_._2).sorted.toSeq == (0L until n).toSeq, s"epoch $e")
      // every doc appears exactly once per epoch
      assert(rs.map(_._3).distinct.length == n, s"epoch $e")
      // loader striping: round-robin by position → perfectly balanced
      val perLoader = rs.groupBy(_._4).view.mapValues(_.size).values.toSeq
      assert(perLoader.max - perLoader.min <= 1, s"epoch $e loaders $perLoader")
      rs.foreach { case (_, p, _, ld) => assert(ld == p % L) }
    }
    // the epochs are DIFFERENT shuffles of the same docs — the whole point
    val order0 = byEpoch(0L).sortBy(_._2).map(_._3).toSeq
    val order1 = byEpoch(1L).sortBy(_._2).map(_._3).toSeq
    assert(order0.toSet == order1.toSet && order0 != order1,
      "epoch orders must be distinct permutations of the same corpus")
    // rerun identity: hash order is layout-stable, not RNG-seeded
    val again = TextOps.corpusShuffleEpoch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sortBy(t => (t._1, t._2)).toSeq == again.sortBy(t => (t._1, t._2)).toSeq)
    // scale posture: fifth PrefixSum client — no global window
    val plan = TextOps.corpusShuffleEpoch(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"), plan.take(800))
  }

  test("llm_dataset_card: driver-side mirror on testdata + planted-dup corpus exercises the dup rule") {
    // mirror every column from the raw table
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars", "text").collect()
      .filter(r => !r.isNullAt(3) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val firstByText = docs.groupBy(_._4).view.mapValues(_.map(_._1).min).toMap
    val total = docs.length.toDouble
    val expected = docs.groupBy(_._2).map { case (lang, rs) =>
      val uniqSum = rs.map { case (_, _, _, tx) =>
        val tk = tx.split(" ")
        math.round(tk.distinct.length * 1e6 / tk.length)
      }.sum
      (lang, (rs.length.toLong,
        rs.count { case (id, _, _, tx) => id != firstByText(tx) }.toLong,
        rs.map(_._4.split(" ").length.toLong).sum,
        rs.map(_._3).sum,
        math.round(rs.length * 1e6 / total),
        uniqSum / rs.length))
    }
    val got = TextOps.llmDatasetCard(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected)

    // the fixture has zero exact dups, so the dup column must be proven on
    // a corpus that HAS them: plant 2 dup groups in a scratch dir
    import spark.implicits._
    val scratch = graft.Tables.scratchDir("card_dups")
    Seq(
      (0L, "en", 7L, "a b c d"), (1L, "en", 7L, "a b c d"), (2L, "en", 7L, "a b c d"),
      (3L, "de", 7L, "x y z w"), (4L, "de", 7L, "x y z w"), (5L, "de", 5L, "p q r"))
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val card = TextOps.llmDatasetCard(spark, scratch).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(card("en") == ((3L, 2L)), s"en row $card") // 2 non-canonical dups
    assert(card("de") == ((3L, 1L)), s"de row $card") // 1 dup + 1 unique
  }

  test("text_quality_classifier matches a pure-Scala mirror of the hashed-feature model") {
    val rows = TextOps.textQualityClassifier(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(g: String): Long = {
      val d = md.digest(g.getBytes("UTF-8"))
      var h = 0L; var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
      (h >>> 4) % 2000001L - 1000000L
    }
    assert(rows.size == docs.length)
    docs.foreach { case (id, text) =>
      val tk = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      val grams = tk.toSeq ++ tk.toSeq.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      val sw = grams.map(w).sum
      val (nf, score, keep) = rows(id)
      assert(nf == grams.length.toLong, s"doc $id n_features")
      assert(score == sw.toDouble / (nf * 1000000L).toDouble, s"doc $id score")
      assert(keep == (sw > 0), s"doc $id keep")
      assert(math.abs(score) <= 1.0)
    }
    // both verdicts occur on this corpus (the filter isn't degenerate)
    assert(rows.values.exists(_._3) && rows.values.exists(!_._3))
    // scale posture: map-only scoring — no exchange anywhere before the
    // output sort (hashing trick = no vocabulary join)
    val plan = TextOps.textQualityClassifier(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan.take(800))
  }

  test("sample_temperature derives integer-exact alpha=0.5 quotas and keeps WindowGroupLimit") {
    val T = TextOps.TempBudget
    val rows = TextOps.sampleTemperature(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val strata = graft.Tables.t(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val wts = strata.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val tw = wts.values.sum
    val quotas = wts.view.mapValues(w => T * w / tw).toMap
    // reported quota matches the integer formula, per-lang kept count binds
    // at min(quota, stratum), and sub-linear upweighting actually happened:
    // every language's share of the sample exceeds-or-equals its corpus
    // share iff it is below-average-sized (alpha < 1 flattens the mix)
    rows.foreach { case (_, lang, q, r) =>
      assert(q == quotas(lang), s"$lang quota"); assert(r <= q)
    }
    val kept = rows.groupBy(_._2).view.mapValues(_.length.toLong)
    quotas.foreach { case (lang, q) =>
      assert(kept.getOrElse(lang, 0L) == math.min(q, strata(lang)), lang)
    }
    assert(kept.values.sum <= T)
    val plan = TextOps.sampleTemperature(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("dedup_incremental_bloom equals the no-bloom exact passage join and actually prunes") {
    import org.apache.spark.sql.DataFrame
    val out = Dedup.dedupIncrementalBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty, "vacuous: no cross-split passage dups in testdata")
    // ground truth: plain passage equi-join, no bloom anywhere
    def passages(docs: DataFrame) = {
      val nChunks = ceil(size(col("tk")) / lit(20.0)).cast("int")
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), posexplode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(col("tk"), i * 20 + 1, lit(20))))))
        .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("passage"))
    }
    val docs = graft.Tables.t(spark, sf, "documents")
    val newP = passages(docs.filter(col("doc_id") % 10 === 0))
    val histP = passages(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("doc_id").as("corpus_doc"), col("passage"))
    val exact = newP.join(histP, "passage")
      .select(col("doc_id"), col("chunk_idx"), col("corpus_doc"),
        md5(col("passage")).as("passage_md5")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(out.toSet == exact.toSet)
    // the bloom predicate is really in the plan (not optimized away)
    val plan = Dedup.dedupIncrementalBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(800))
    // and it genuinely prunes: rebuilding the same deterministic filter,
    // survivors are a small fraction of the batch's passages but a superset
    // of the true dups (no false negatives)
    val bf = histP.select(xxhash64(col("passage")).as("h"))
      .stat.bloomFilter("h", histP.count().max(1L), 0.03)
    val newPass = newP.select(col("passage")).collect().map(_.getString(0))
    val survivors = newPass.count(p => bf.mightContain(
      org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(p))), 42L)
        .eval(null)))
    val trueDups = exact.map(_._4).distinct.length
    assert(survivors < newPass.length / 2,
      s"bloom kept $survivors of ${newPass.length} — not pruning")
    assert(survivors >= trueDups)
  }

  test("sample_importance: DSIR ranking matches a driver-side recompute; weight join stays shuffle; top-K plans as TakeOrdered") {
    val out = TextOps.sampleImportance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == TextOps.ImportanceK)
    // driver-side mirror of the whole model
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, txt) => (id, txt.split(" ", -1).toSeq) }
    val ct = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    toks.foreach { case (id, ts) =>
      val m = if (id % 97 == 0) ct else cc; ts.foreach(t0 => m(t0) += 1)
    }
    val vocab = (ct.keySet ++ cc.keySet).toSet
    val (nt, nc, v) = (ct.values.sum, cc.values.sum, vocab.size.toLong)
    def w(t0: String): Long =
      math.round(math.log((ct(t0) + 1).toDouble / (nt + v)) * 1e6) -
        math.round(math.log((cc(t0) + 1).toDouble / (nc + v)) * 1e6)
    val scores = toks.map { case (id, ts) => (id, ts.length.toLong, ts.map(w).sum) }
    val expected = scores.sortBy { case (id, _, s) => (-s, id) }.take(TextOps.ImportanceK)
      .map { case (id, n, s) => (id, n, s) }
    assert(out.toSeq == expected.toSeq)
    // scale pins: vocabulary join is NOT broadcast; top-K is TakeOrdered,
    // not a global sort exchange
    val plan = TextOps.sampleImportance(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("multimodal_frames: animated GIF round-trips pixels exactly and stride-samples frames") {
    // codec unit: every frame of a synthetic container decodes bit-exact
    val gif = Multimodal.FrameCodec.encodeAnimated(7L, "ab".getBytes, 4)
    val all = Multimodal.FrameCodec.decodeFrames(7L, gif, 1)
    assert(all.map(_._1) == Seq(0, 1, 2, 3) && all.forall(_._2 == 4))
    all.foreach { case (f, _, w, h, s) =>
      var exp = 0L
      for (y <- 0 until h; x <- 0 until w)
        exp += Multimodal.FrameCodec.framePixel(7L, f, x, y)
      assert(s == exp, s"frame $f checksum drift — GIF round-trip not exact")
    }
    // operator: container-read frame count, stride-2 sampling, per-frame
    // checksums all match the synthesis arithmetic on the real corpus
    val rows = Multimodal.multimodalFrames(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rs) =>
      val n = (2 + id % 5).toInt
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until n by 2).toSeq, s"doc $id sampling")
      rs.foreach { r =>
        assert(r.getInt(2) == n) // n_frames came from the container scan
        var exp = 0L
        for (y <- 0 until r.getInt(4); x <- 0 until r.getInt(3))
          exp += Multimodal.FrameCodec.framePixel(id, r.getInt(1), x, y)
        assert(r.getLong(5) == exp, s"doc $id frame ${r.getInt(1)}")
      }
    }
  }

  test("multimodal_near_dup: banded LSH is EXACT for hamming <= 3 (pigeonhole), planted dup found") {
    // exactness: the operator's pair set must equal the all-pairs answer —
    // 4 bands of 16 bits guarantee any pair with <= 3 differing bits agrees
    // on a whole band, so the band join loses nothing (recall 1.0, proven,
    // not sampled)
    val hashes = Multimodal.multimodalPhash(spark, sf).collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getLong).toArray))
    assert(hashes.nonEmpty)
    val exact = (for {
      (ida, ha) <- hashes; (idb, hb) <- hashes if ida < idb
      ham = (0 until 8).map(i => java.lang.Long.bitCount(ha(i) ^ hb(i))).sum
      if ham <= 3
    } yield (ida, idb, ham.toLong)).toSet
    val got = Multimodal.multimodalNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact,
      s"banded pairs != all-pairs: missing=${(exact -- got).take(3)} extra=${(got -- exact).take(3)}")

    // planted identical images: pixel(doc_id,·,·) depends on doc_id·31 mod
    // 256, so doc_ids 7 and 7+256 with the same text render byte-identical
    // patterns -> hamming 0
    import spark.implicits._
    val scratch = graft.Tables.scratchDir("phash_dups")
    Seq((7L, "same text"), (263L, "same text"), (99L, "different words entirely"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val planted = Multimodal.multimodalNearDup(spark, scratch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(planted.contains((7L, 263L, 0L)), planted.mkString(","))

    // cluster consumer: assignment must equal a driver-side union-find
    // over the same pairs (transitive closure, min-id labels, one
    // canonical per cluster)
    val pairs = got.map(p => (p._1, p._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    hashes.foreach { case (id, _) => parent(id) = id }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = hashes.map { case (id, _) => (id, find(id)) }.toMap
    val cl = Multimodal.multimodalDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
    assert(cl.map(c => (c._1, c._2._1)).toMap == want, "cluster ids != union-find closure")
    val bySize = cl.groupBy(_._2._1)
    bySize.foreach { case (cid, ms) =>
      assert(ms.forall(_._2._2 == ms.length), s"cluster_size wrong in $cid")
      assert(ms.count(_._2._3) == 1 && ms.find(_._2._3).get._1 == cid, s"canonical wrong in $cid")
    }
  }

  test("embed_random_projection: JL distance preservation and map-only plan") {
    // the sign projection must preserve pairwise squared distances up to
    // the JL distortion: r = d2_proj / (k·d2_orig) concentrates around 1.
    // Deterministic (fixed hash matrix, fixed corpus), so the measured
    // values at sf0.001 — mean 0.998, 99.8% of pairs in [0.2, 2.5] — are
    // pinned with margin, not sampled hopefully.
    val k = 16
    val proj = Similarity.embedRandomProjection(spark, sf).collect()
      .map(r => (r.getLong(0), (1 to k).map(r.getLong).map(_.toDouble).toArray)).toMap
    val q = Similarity.embedQuantizeInt8(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (id, rows) =>
        (id, rows.sortBy(_.getLong(1)).map(_.getLong(3).toDouble)) }
    val ids = q.keys.toArray.sorted.take(100)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d = d2(q(ids(i)).toArray, q(ids(j)).toArray) if d > 0
    } yield d2(proj(ids(i)), proj(ids(j))) / (k * d)
    assert(ratios.nonEmpty)
    val mean = ratios.sum / ratios.length
    assert(mean > 0.9 && mean < 1.1, s"mean distortion $mean")
    val within = ratios.count(r => r >= 0.2 && r <= 2.5).toDouble / ratios.length
    assert(within >= 0.95, s"only $within of pair distortions in [0.2, 2.5]")

    // plan: dim-reduction must be a pure scan→project pass — the dots run
    // in the codegen'd vec_dot kernel and the only exchange is the
    // presentation sort (no hash shuffle, no join)
    val plan = Similarity.embedRandomProjection(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("vec_dot"), plan.take(500))
    assert(!plan.contains("hashpartitioning") && !plan.contains("Join"), plan.take(800))
  }

  test("sample_train_test_split: stable, exhaustive, and integer-exact shares") {
    val rows = TextOps.sampleTrainTestSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // exhaustive: per-lang doc counts across splits equal the corpus
    val langTotals = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val got = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(got == langTotals)
    // share arithmetic is n_docs * 1000 DIV lang_total, exactly
    rows.foreach { case (lang, _, n, _, share) =>
      assert(share == n * 1000 / langTotals(lang))
    }
    // train dominates in every language present in all three splits
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val m = rs.map(r => r._2 -> r._3).toMap
      assert(m.getOrElse("train", 0L) > m.getOrElse("valid", 0L))
      assert(m.getOrElse("train", 0L) > m.getOrElse("test", 0L))
    }
    // deterministic: a second invocation returns byte-identical rows
    val again = TextOps.sampleTrainTestSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.toSeq == rows.toSeq)
  }

  test("corpus_pack_bestfit: capacity respected, exhaustive, best-fit-mirrored, deterministic") {
    val C = TextOps.PackCapacity
    val rows = TextOps.corpusPackBestfit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // exhaustive: every non-null doc packed exactly once
    val nDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull).count()
    assert(rows.length.toLong == nDocs)
    assert(rows.map(_._1).distinct.length == rows.length)
    // capacity: no bin over C unless it is a solo oversize bin
    val fills = rows.groupBy(_._3).view.mapValues(g => (g.map(_._2).sum, g.length)).toMap
    fills.foreach { case (bin, (fill, n)) =>
      assert(fill <= C || n == 1, s"bin $bin overfilled: $fill tokens in $n docs")
    }
    // mirror: within each partition namespace, re-run the SAME shared
    // bestFitDecreasing over the same (n_tokens desc, doc_id) order and
    // require identical bin assignment
    rows.groupBy(_._3 >> 40).foreach { case (_, part) =>
      val sorted = part.sortBy(t => (-t._2, t._1))
      val want = TextOps.bestFitDecreasing(
        sorted.iterator.map { case (id, n, _) => (id, n) }, C)
        .map { case (id, _, idx) => id -> idx }.toMap
      part.foreach { case (id, _, bin) => assert((bin & ((1L << 40) - 1)) == want(id), s"doc $id") }
      // and best-fit is pinned independently of the shared code: replaying
      // the assignment in order, each doc's bin had the smallest remaining
      // capacity >= n among open bins at placement time
      val binOf = want
      val rem = scala.collection.mutable.Map.empty[Long, Long]
      sorted.foreach { case (id, n, _) =>
        val b = binOf(id)
        if (n >= C) { assert(!rem.contains(b)); rem(b) = 0L }
        else {
          val fits = rem.filter { case (_, r) => r >= n }
          if (rem.contains(b)) assert(rem(b) == fits.values.min, s"doc $id not best-fit")
          else {
            assert(fits.isEmpty, s"doc $id opened a new bin while ${fits.size} open bins fit")
            rem(b) = C
          }
          rem(b) -= n
        }
      }
    }
    // utilization: packing many small docs should not fragment badly
    val totalTokens = rows.map(_._2).sum
    assert(totalTokens.toDouble / (fills.size * C) >= 0.5,
      s"poor packing: ${fills.size} bins for $totalTokens tokens")
    // deterministic across reruns
    val again = TextOps.corpusPackBestfit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
  }
}
