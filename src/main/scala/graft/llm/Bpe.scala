package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Distributed BYTE-LEVEL BPE tokenizer training and application — the
  * tokenizer half of a training-data pipeline, in the shape real training
  * pipelines use (Radford et al. 2019: byte-level alphabet + regex
  * pre-tokenization, so any UTF-8 input tokenizes with zero OOV; Sennrich
  * et al. 2016: train on the pre-token frequency table, not the raw
  * corpus — that observation IS the scale design here).
  *
  * Scale shape: the corpus collapses to a (pretoken, freq) vocabulary
  * table in one map-side-combined aggregation — at 100 TB of text the
  * vocab is ~10⁸ rows, 6 orders of magnitude smaller than the token
  * stream — and every training iteration then runs over that vocab table
  * only. Each iteration is one pair-count aggregation (shuffle ≤ |pair
  * vocab|, itself ≤ 256² early and bounded by merge count later) plus a
  * bounded take-top-1; the merge rule applies map-side. Driver state is
  * the merge list, O(iterations). Nothing in the loop touches the corpus
  * again until encode time, which is a single broadcast-merges map-only
  * pass.
  */
object Bpe {

  /** Number of merge rules trained by `text_bpe_train` / applied by
    * `text_bpe_encode`. Real tokenizers run ~10⁴-10⁵ merges; the loop cost
    * is linear in this constant and each iteration's plan is identical, so
    * a small N exercises the full machinery. */
  val Merges = 8

  /** GPT-2-shape pre-tokenization regex, constrained to the RE2 subset so
    * the DuckDB oracle (`text_bpe_pair_counts`) runs the IDENTICAL pattern:
    * contraction suffixes, optionally-space-prefixed letter / digit /
    * other-symbol runs, then whitespace runs. The one deviation from the
    * published GPT-2 pattern is dropping the `\s+(?!\S)` lookahead branch
    * (RE2 has no lookahead): a multi-space run before a word is consumed
    * whole by `\s+` here, where GPT-2 leaves the final space attached to
    * the word. Merges never cross pre-token boundaries, the property that
    * keeps the pair-statistic shuffle bounded and tokenization stable.
    *
    * Whitespace is the EXPLICIT class `[\t\n\f\r ]`, not `\s`: Java's `\s`
    * includes U+000B (vertical tab) while RE2's does not, so a document
    * containing \x0B would pre-tokenize differently in Spark vs the DuckDB
    * oracle. With the explicit class both engines agree — \x0B falls into
    * the other-symbol run in both. */
  val PretokenPattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\t\n\f\r \p{L}\p{N}]+|[\t\n\f\r ]+"""

  private val pretokenRegex = java.util.regex.Pattern.compile(PretokenPattern)

  /** Lazily iterate the pre-tokens of `text`. The pattern's alternatives
    * jointly cover every character class, so the matches PARTITION the
    * text — concatenating them reproduces it exactly (spec-pinned). */
  private[graft] def pretokens(text: String): Iterator[String] = new Iterator[String] {
    private val m = pretokenRegex.matcher(text)
    private var has = m.find()
    def hasNext: Boolean = has
    def next(): String = { val s = m.group(); has = m.find(); s }
  }

  /** The GPT-2 byte→unicode bijection: the 188 printable latin-1 bytes map
    * to themselves, the 68 others (controls, space, DEL, soft hyphen…) to
    * consecutive code points from U+0100 — every base symbol is one
    * PRINTABLE char, so merged symbols are plain readable strings and the
    * whole alphabet is exactly 256 symbols. Public construction (released
    * with Radford et al. 2019). */
  private[graft] val byteToChar: Array[Char] = {
    val printable =
      (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    val arr = new Array[Char](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (printable(b)) arr(b) = b.toChar
      else { arr(b) = next.toChar; next += 1 }
    }
    arr
  }

  private[graft] val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => (c, b.toByte) }.toMap

  /** A pre-token as its base symbol sequence: UTF-8 bytes, each mapped
    * through [[byteToChar]] — multibyte code points become several base
    * symbols, which merges may later rejoin. */
  private[graft] def toByteSymbols(tok: String): Array[String] =
    tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => String.valueOf(byteToChar(b & 0xff)))

  /** Inverse of [[toByteSymbols]] over any merged-symbol sequence: map each
    * char back to its byte and decode UTF-8 — the lossless round trip that
    * makes byte-level BPE OOV-free (spec-pinned on multibyte input). */
  private[graft] def fromSymbols(syms: Iterable[String]): String = {
    val bytes = syms.iterator.flatMap(_.iterator).map(charToByte).toArray
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The (pretoken, freq) vocabulary table — the corpus' only full scan in
    * this family, aggregated once per training or pair-count call.
    * Map-side partial aggregation keeps the exchange at |vocab| rows.
    * Declarative regexp_extract_all (codegen'd) so the DuckDB oracle can
    * run the same extraction verbatim. */
  private[graft] def pretokenFreq(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(regexp_extract_all(col("text"), lit(PretokenPattern), lit(0))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"))

  /** `text_bpe_pair_counts` — the BPE training statistic at iteration 0:
    * adjacent BYTE-pair frequencies over the pre-token vocabulary, weighted
    * by pre-token frequency. Pairs surface as 4-hex-digit strings
    * (hex(encode(tok)) is the byte sequence both engines agree on — the
    * byte→unicode symbol table is engine-side cosmetics the statistic
    * doesn't need). Fully declarative: regexp extraction, hex, sequence +
    * substr all compile to codegen'd loops; the `octet_length >= 2` guard
    * is load-bearing — Spark's `sequence(1, 0)` DESCENDS rather than
    * returning empty, which would fabricate reversed pairs for
    * single-byte pre-tokens. */
  def textBpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val h = col("h")
    pretokenFreq(spark, dir)
      .select(hex(encode(col("tok"), "UTF-8")).as("h"),
        octet_length(col("tok")).as("nb"), col("freq"))
      .filter(col("nb") >= 2)
      .select(explode(transform(sequence(lit(1), col("nb") - 1),
        i => h.substr(i * 2 - 1, lit(4)))).as("pair"), col("freq"))
      .groupBy("pair")
      .agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(200)
  }

  /** Greedy left-to-right application of one merge rule to a symbol
    * sequence — the textbook BPE step: every non-overlapping adjacent
    * (a, b) becomes the concatenated symbol, scanning left to right. */
  private[graft] def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private[graft] def pairsOf(syms: Array[String]): Iterator[(String, String)] =
    if (syms.length < 2) Iterator.empty
    else (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))

  /** Train `Merges` byte-level BPE merge rules over the corpus. Returns the
    * merge table: (rank, left, right, merged, pair_count) — deterministic
    * because the per-iteration argmax tie-breaks on (count DESC, left ASC,
    * right ASC) and every count is an exact long sum.
    *
    * Loop mechanics (each of the `Merges` iterations):
    *   1. pair-count aggregation over the symbolized vocab — shuffle carries
    *      distinct pairs only (map-side combine);
    *   2. `.limit(1).collect()` of the winning pair — O(1) driver state,
    *      the same bounded-collect class as PrefixSum's partition sums;
    *   3. the rule ships back as two literals inside a typed map — no join,
    *      no broadcast variable churn.
    * The symbolized vocab is re-cached per iteration and the previous copy
    * unpersisted, so executor memory holds exactly one |vocab|-sized frame
    * and lineage never exceeds one map per round on top of a materialized
    * cache (no recompute-from-scratch at iteration k).
    *
    * Iterative argmax-then-resegment is not expressible as one ANSI query →
    * rows-only key; `text_bpe_pair_counts` is the oracle-checked twin of the
    * loop's statistic, and BpeSpec mirrors this whole procedure
    * sequentially on the driver and asserts equality.
    */
  def trainedMerges(spark: SparkSession, dir: String): Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    // base symbols: one per UTF-8 byte, through the byte→unicode table
    var syms: Dataset[(Array[String], Long)] = pretokenFreq(spark, dir)
      .as[(String, Long)]
      .map { case (tok, f) => (toByteSymbols(tok), f) }
      .cache()
    val merges = Vector.newBuilder[(Long, String, String, String, Long)]
    var rank = 1L
    while (rank <= Merges) {
      val top = syms
        .flatMap { case (s, f) => pairsOf(s).map { case (a, b) => (a, b, f) } }
        .toDF("left", "right", "f")
        .groupBy("left", "right").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("left"), col("right"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case Some((a, b, n)) =>
          merges += ((rank, a, b, a + b, n))
          val next = syms
            .map { case (s, f) => (applyMerge(s, a, b), f) }
            .cache()
          next.count(): Unit // materialize before dropping the parent cache
          syms.unpersist()
          syms = next
        case None => rank = Merges // degenerate corpus: nothing left to merge
      }
      rank += 1
    }
    syms.unpersist()
    merges.result()
  }

  /** `text_bpe_train` — the trained merge table as a DataFrame. */
  def textBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank")
  }

  /** `text_bpe_encode` — apply the trained merges to the corpus: per
    * document, the base byte-symbol count, the post-merge subword count,
    * and the resulting distinct-subword count. The merge list (O(Merges))
    * ships inside the closure — map-only over documents, zero shuffles
    * before the final per-doc projection; at 100 TB this is the one
    * corpus-sized pass of the family and it is embarrassingly parallel.
    * Encoding pre-tokenizes with [[PretokenPattern]] and applies rules in
    * rank order per pre-token (the standard inference procedure), so the
    * result is a pure function of (text, merge table) → rows-only key;
    * BpeSpec re-encodes documents driver-side and asserts equality, and
    * pins the UTF-8 multibyte round trip. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = trainedMerges(spark, dir).map { case (_, a, b, _, _) => (a, b) }
    encodeCounts(
      t(spark, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)],
      rules)
      .orderBy("doc_id")
  }

  /** The encode pass over any (id, text) frame — shared by
    * `text_bpe_encode` (raw documents) and the composed
    * `llm_corpus_tokenized` (post-curation text). */
  private[graft] def encodeCounts(ds: Dataset[(Long, String)],
      rules: Seq[(String, String)]): DataFrame = {
    import ds.sparkSession.implicits._
    ds
      .mapPartitions { rows =>
        // Pre-token-level encoding memo, per partition: BPE encoding is a
        // pure function of the pre-token, and the distinct-pre-token set is
        // tiny next to the token stream (the same corpus-vs-vocab gap
        // training exploits) — measured 29.2 s → memoized pass at the 100×
        // probe, where 500k docs share ~3k distinct words. Bounded by the
        // partition's distinct pre-tokens; a real 100 TB run would cap it
        // LRU-style, but the cap only trades recompute, never correctness.
        val memo = new java.util.HashMap[String, Array[String]]()
        def encode(w: String): Array[String] = {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            var s = toByteSymbols(w)
            rules.foreach { case (a, b) => s = applyMerge(s, a, b) }
            memo.put(w, s)
            s
          }
        }
        rows.map { case (id, text) =>
          val toks =
            if (text == null || text.isEmpty) Iterator.empty[String]
            else pretokens(text)
          var nBytes = 0L
          var nSub = 0L
          val distinct = new java.util.HashSet[String]()
          toks.foreach { w =>
            val s = encode(w)
            nBytes += w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
            nSub += s.length
            s.foreach(distinct.add(_): Unit)
          }
          (id, nBytes, nSub, distinct.size.toLong)
        }
      }
      .toDF("doc_id", "n_byte_syms", "n_subwords", "n_distinct_subwords")
  }

  /** `llm_corpus_tokenized` — the END of the training-data assembly line,
    * composed from the engine's own stages: the 5-stage curation pipeline's
    * survivors (`llm_corpus_pipeline`, post-substring-cut text) are encoded
    * with the corpus-trained BPE merges and packed into capacity-bounded
    * training bins by SUBWORD count (`packBestFit`). This is the frame a
    * trainer consumes: per surviving document its language, subword budget,
    * and bin assignment. Composition adds one map-only encode pass and the
    * packing hash shuffle on top of the (checkpointed) curation stages — no new
    * corpus-wide shuffles. Stateful packing → rows-only; BpeSpec recomposes
    * the three components and asserts row-for-row equality. */
  /** Training sequence length for [[llmCorpusTokenized]]'s bins — the
    * context-window budget a trainer packs to. Larger than
    * `TextOps.PackCapacity` (the raw-token demo bins): post-BPE documents
    * here run to hundreds of subwords, so 256-subword bins would degenerate
    * to mostly solo oversize bins. */
  val SeqLen = 2048L

  def llmCorpusTokenized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = trainedMerges(spark, dir).map { case (_, a, b, _, _) => (a, b) }
    // The survivors frame is referenced twice in this plan (the encode branch
    // and the lang join), and Catalyst does not reuse a common non-exchange
    // subtree — uncached, the whole 5-stage curation pipeline would execute
    // once PER REFERENCE per action (measured 18.1 s vs 3.8 s component sum
    // at 10×, PLANS.md probe #13). Materializing the curation output before
    // tokenization is also exactly what the staged operational form does
    // (CurationPipeline checkpoints); here the local checkpoint is the
    // equivalent seam.
    val survivors = Dedup.llmCorpusPipeline(spark, dir)
      .select(col("doc_id"), col("lang"), col("text_cut"))
      .localCheckpoint()
    val enc = encodeCounts(
      survivors.select(col("doc_id"), col("text_cut")).as[(Long, String)], rules)
      .select(col("doc_id"), col("n_subwords"))
    TextOps.packBestFit(enc.withColumnRenamed("n_subwords", "n_tokens"), SeqLen)
      .withColumnRenamed("n_tokens", "n_subwords")
      .join(survivors.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "n_subwords", "bin_id")
      .orderBy("doc_id")
  }
}
