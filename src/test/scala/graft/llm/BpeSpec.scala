package graft.llm

import scala.collection.mutable

import graft.SparkTestBase

/** Mirrors the distributed byte-level BPE machinery with a sequential
  * driver-side reference implementation over the same corpus and asserts
  * equality — the rows-only keys' correctness evidence (the oracle-checked
  * twin of the loop's statistic is `text_bpe_pair_counts`).
  */
class BpeSpec extends SparkTestBase {

  /** The corpus-trained merge rules, trained once for the suite. */
  private lazy val rules = Bpe.trainedMerges(spark, sf).map { case (_, a, b, _, _) => (a, b) }

  /** Sequential reference: pre-token-freq map → byte symbolization →
    * greedy merge loop, identical tie-break (count desc, left asc, right
    * asc). */
  private def refTrain(tokFreq: Map[String, Long], merges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      tokFreq.map { case (w, f) => (Bpe.toByteSymbols(w).toVector, f) }
    val out = Vector.newBuilder[(Long, String, String, String, Long)]
    for (rank <- 1L to merges) {
      val counts = mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((rank, a, b, a + b, n))
        vocab = vocab.groupMapReduce {
          case (syms, _) => Bpe.applyMerge(syms.toArray, a, b).toVector
        } { case (_, f) => f }(_ + _)
      }
    }
    out.result()
  }

  private def driverPretokenFreq(): Map[String, Long] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    docs.iterator
      .flatMap(t => if (t == null) Iterator.empty[String] else Bpe.pretokens(t))
      .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
  }

  test("byte alphabet is a 256-bijection and symbols round-trip UTF-8 multibyte text") {
    // bijection: every byte maps to a distinct printable-plane char
    assert(Bpe.byteToChar.distinct.length == 256)
    assert(Bpe.charToByte.size == 256)
    (0 until 256).foreach { b =>
      assert((Bpe.charToByte(Bpe.byteToChar(b)) & 0xff) == b)
    }
    val samples = Seq(
      "héllo wörld",                     // 2-byte sequences
      "日本語のテキストです。",              // 3-byte sequences
      "emoji 🦀 and 🚀!", // 4-byte (surrogate pairs)
      "žluťoučký kůň do 42 pěl ódy",
      "it's   spaced\t\tout\nand they're fine",
      "mixed ASCII + ქართული + عربى")
    samples.foreach { s =>
      // the pre-tokenizer PARTITIONS the text: concatenation reproduces it
      val toks = Bpe.pretokens(s).toVector
      assert(toks.mkString == s, s"pretokens do not partition: $s -> $toks")
      toks.foreach { t =>
        // base symbolization round-trips
        assert(Bpe.fromSymbols(Bpe.toByteSymbols(t).toSeq) == t)
        // and stays lossless after arbitrary merges (merges only concatenate)
        var syms = Bpe.toByteSymbols(t)
        Bpe.pairsOf(syms).take(3).toList.foreach { case (a, b) =>
          syms = Bpe.applyMerge(syms, a, b)
        }
        assert(Bpe.fromSymbols(syms.toSeq) == t, s"merge broke round trip: $t")
      }
    }
  }

  test("text_bpe_train equals the sequential reference byte-BPE on the corpus") {
    val got = Bpe.textBpeTrain(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    val want = refTrain(driverPretokenFreq(), Bpe.Merges)
    assert(got == want)
    // every trained symbol decodes to a byte sequence (alphabet closure)
    got.foreach { case (_, a, b, m, _) =>
      assert((a + b) == m)
      m.foreach(c => assert(Bpe.charToByte.contains(c), s"non-alphabet char in $m"))
    }
  }

  test("text_bpe_encode matches a driver-side re-encode and is consistent") {
    val got = Bpe.textBpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toMap2
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
    assert(docs.length == got.size)
    docs.foreach { r =>
      val id = r.getLong(0)
      val text = Option(r.getString(1)).getOrElse("")
      val toks = if (text.isEmpty) Vector.empty[String] else Bpe.pretokens(text).toVector
      var nBytes = 0L; var nSub = 0L
      val distinct = mutable.Set.empty[String]
      toks.foreach { w =>
        var s = Bpe.toByteSymbols(w)
        nBytes += s.length
        rules.foreach { case (a, b) => s = Bpe.applyMerge(s, a, b) }
        nSub += s.length
        distinct ++= s
        // encoding is lossless: the merged symbols decode back to the token
        assert(Bpe.fromSymbols(s.toSeq) == w)
      }
      assert(got(id) == ((nBytes, nSub, distinct.size.toLong)), s"doc $id")
      assert(nSub <= nBytes) // merging never lengthens
    }
  }

  test("applyMerge handles overlap greedily left-to-right and edge cases") {
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    assert(Bpe.applyMerge(Array("a", "b", "a", "b"), "a", "b").toSeq == Seq("ab", "ab"))
    assert(Bpe.applyMerge(Array("x"), "a", "b").toSeq == Seq("x"))
    assert(Bpe.applyMerge(Array.empty[String], "a", "b").toSeq == Seq.empty)
  }

  test("text_bpe_pair_counts: byte-pair weights equal a driver-side recount") {
    val got = Bpe.textBpePairCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val wf = driverPretokenFreq()
    val counts = mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (0 until bytes.length - 1).foreach { i =>
        val p = f"${bytes(i) & 0xff}%02X${bytes(i + 1) & 0xff}%02X"
        counts(p) = counts.getOrElse(p, 0L) + f
      }
    }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(200)
    assert(got.toSeq == want)
  }

  implicit private class ToMap2(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
  }

  test("llm_corpus_tokenized recomposes curation -> encode -> packing exactly") {
    import org.apache.spark.sql.functions.col
    val got = Bpe.llmCorpusTokenized(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // survivors = the curation pipeline's output, exactly
    val surv = built("llm_corpus_pipeline")
      .select("doc_id", "lang", "text_cut").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.map(_._1).sorted.toSeq == surv.map(_._1).sorted.toSeq)
    // subword counts = driver-side re-encode of the post-cut text
    val wantSub = surv.map { case (id, _, text) =>
      val toks =
        if (text == null || text.isEmpty) Vector.empty[String]
        else Bpe.pretokens(text).toVector
      id -> toks.map { w =>
        var sy = Bpe.toByteSymbols(w)
        rules.foreach { case (a, b) => sy = Bpe.applyMerge(sy, a, b) }
        sy.length.toLong
      }.sum
    }.toMap
    got.foreach { case (id, _, nSub, _) => assert(nSub == wantSub(id), s"doc $id") }
    // bins: within each partition namespace the shared packer reproduces
    // the assignment over (n_subwords desc, doc_id) order, capacity holds
    val C = Bpe.SeqLen
    got.groupBy(_._4 >> 40).foreach { case (_, part) =>
      val sorted = part.sortBy(t => (-t._3, t._1))
      val want = TextOps.bestFitDecreasing(
        sorted.iterator.map { case (id, _, n, _) => (id, n) }, C)
        .map { case (id, _, idx) => id -> idx }.toMap
      part.foreach { case (id, _, _, bin) =>
        assert((bin & ((1L << 40) - 1)) == want(id), s"doc $id bin") }
    }
    val fills = got.groupBy(_._4).view.mapValues(g => (g.map(_._3).sum, g.size))
    fills.foreach { case (bin, (fill, n)) => assert(fill <= C || n == 1, s"bin $bin") }
    val _ = col("") // keep the import referenced
  }
}
