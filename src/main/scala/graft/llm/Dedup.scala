package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Document deduplication family (north-star operators, SURVEY.md §2.2):
  * exact, MinHash+LSH, n-gram Jaccard via inverted index, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-generation (bounded fan-out) +
  * exact verification — never an O(n²) cross join. The only shuffles are the
  * band-bucket joins, key-skew-bounded by construction (a band signature
  * collides only for near-identical content).
  *
  * Implementation notes on the hot paths (all profiled at 10× sf0.1 with a
  * stage-metrics listener; wall-clock alone was misleading):
  *
  *  - Tokenize/shingle/hash/signature-mix runs in ONE typed `mapPartitions`
  *    pass per operator: higher-order-function lambdas are interpreted (not
  *    codegen'd) in Spark, and the declarative split + cached token arrays +
  *    per-element lambdas formulation costs 10-20× the primitive JVM loop
  *    (28-44 s of CPU at 10× for the same result).
  *  - Signature frames are locally checkpointed: both sides of a band
  *    self-join and the verify joins otherwise recompute the whole pass.
  *    The checkpoint lives as long as the frame the operator returns; at
  *    100 TB the same pipeline checkpoints that intermediate to Parquet.
  *  - Verification joins use [[cpuStageRepartition]] between the two
  *    id→payload joins: AQE coalesces the tiny candidate shuffle to one
  *    partition, and Catalyst sinks the CPU-heavy verify predicate
  *    (levenshtein / array_intersect / cosine) into the earliest stage
  *    holding both payloads — without the explicit-width repartition that
  *    stage runs single-threaded (measured: 31 s in one task).
  *  - Inverted indexes never aggregate with collect_list over near-unique
  *    keys (ObjectHashAggregate buffers burned 252 s of CPU at 10×);
  *    they hash-shuffle once, sort within partitions, and stream runs.
  */
object Dedup {

  /** Tokenizer for every typed hot loop in this family: limit -1 keeps
    * trailing empty tokens, matching Spark SQL `split()` (limit -1) and the
    * DuckDB oracles' `string_split` exactly. Java's default
    * `String.split(" ")` (limit 0) silently DROPS trailing empties — a text
    * ending in a space would change the token count, the len>=k gates, and
    * every shingle/signature downstream, diverging from the oracle. The /64
    * length buckets use `text.length` (UTF-16 units) like the oracle's
    * `length()` over this ASCII corpus; non-BMP text would need
    * codePointCount on the Spark side. */
  private def toks(text: String): Array[String] =
    if (text == null) Array.empty[String] else text.split(" ", -1)

  /** Explicit-width hash repartition for a stage about to run CPU-heavy
    * per-row work on a small row count. A user-specified partition count
    * (REPARTITION_BY_NUM) is exempt from AQE's coalescing, so the following
    * join/projection stage keeps full parallelism even when its shuffle
    * input is only a few hundred KB. */
  private def cpuStageRepartition(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, key)
  }

  /** Minimum scan bytes per healed task: a repartition that would leave
    * tasks under this is pure shuffle overhead, not a heal (r15 verdict —
    * the partition-count-only gate fired on sf0.1's 584 KB single-file
    * documents.parquet and shuffled 500 rows across 32 tasks). 4 MB of a
    * CPU-dense loop (codec / fingerprint vote / shingle explosion) is
    * seconds of work, comfortably above per-task overhead. */
  private[graft] val HealBytesPerTask: Long = 4L << 20

  /** Conditional parallelism heal for a CPU-dense pass fed by a scan
    * (probe #21 catch #3): when the source plans FEWER partitions than
    * half the shuffle width — a small-but-dense input, e.g. one 58 MB
    * parquet file under maxPartitionBytes carrying a fingerprint-vote or
    * codec loop — repartition the projected columns so the dense stage
    * uses every core; otherwise leave the plan alone. At a real 100 TB
    * the scan has orders of magnitude more splits than cores and this is
    * a NO-OP branch, so map-only contracts keep their no-shuffle shape
    * exactly where it matters; the unconditional form would buy probe-
    * corpus wall with a full-table shuffle at cluster scale.
    *
    * The heal is byte-floored (r15 verdict): the target width is
    * min(shuffle width, ceil(scan bytes / 4 MB)), and the heal is a no-op
    * when that target is ≤ the planned partition count — so sf0.1's
    * 584 KB single-file tables keep their one-task map-only plans while
    * the 100× probe corpus (58 MB documents) still fans out. Scan bytes
    * come from the optimized plan's LEAF statistics (file sizes), not the
    * projected row-width estimate, so a computed array column in the
    * projection can't inflate the reading. Partition count comes from the
    * planned RDD (driver-side, no job). Each call decides afresh: the
    * planned count moves with the session's file-split confs, so a
    * decision kept from an earlier call could be stale. */
  private[graft] def healScanStarvation(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val width = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(sc.defaultParallelism) // non-numeric conf ("auto") → cores
    val planned = df.rdd.getNumPartitions
    val target =
      if (planned * 2 >= width) 0
      else {
        val scanBytes = df.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.sizeInBytes).sum
        val byBytes = ((scanBytes + HealBytesPerTask - 1) / HealBytesPerTask)
          .min(BigInt(width)).toInt
        // byBytes >= planned, not byBytes > planned: a single-ROW-GROUP
        // file plans ceil(bytes/split) tasks but delivers every row to
        // the one split holding the row group (r16 catch: the 100× probe
        // corpus planned 15, ran at parallelism 1, 167 s wall). When the
        // bytes justify >= 2 real tasks, an explicit hash repartition of
        // <= width·4 MB guarantees even distribution whatever the
        // row-group layout — bounded insurance, still a no-op at real
        // file counts via the width gate above.
        if (byBytes >= 2 && byBytes >= planned) byBytes else 0
      }
    if (target > 0) df.repartition(target, key) else df
  }

  /** Distinct word k-shingles of `text` (space-tokenized). Empty when the
    * document has fewer than k tokens (Spark's `sequence(1,0)` would count
    * backwards, so guard).
    *
    * NOTE: `toksCol` must be a *materialized* array column (not an inline
    * `split(...)`) — Catalyst's CollapseProject inlines cheap-looking
    * expressions into lambda bodies, and interpreted HOF evaluation would
    * then re-split the text once per shingle. */
  def shinglesOf(toksCol: Column, k: Int): Column = {
    val idx = sequence(lit(1), size(toksCol) - (k - 1))
    val join = (i: Column) => concat_ws(" ", (0 until k).map(o => element_at(toksCol, i + o)): _*)
    when(size(toksCol) < k, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(transform(idx, join)))
  }

  /** Distinct word k-shingles as xxhash64 longs — [[shinglesOf]] without
    * ever materializing the joined string (xxhash64 seed-chains the k
    * tokens, so token boundaries stay significant). Use when the shingle
    * only needs to be an equi-join/set-membership key; same
    * materialized-`toksCol` caveat as [[shinglesOf]]. */
  def shingleHashesOf(toksCol: Column, k: Int): Column = {
    val idx = sequence(lit(1), size(toksCol) - (k - 1))
    val h = (i: Column) => xxhash64((0 until k).map(o => element_at(toksCol, i + o)): _*)
    when(size(toksCol) < k, array().cast(ArrayType(LongType)))
      .otherwise(array_distinct(transform(idx, h)))
  }

  // ---------------------------------------------------------------------------

  /** `dedup_exact` — content-hash dedup: group by full text, keep the lowest
    * doc_id as the canonical representative (deterministic, unlike
    * dropDuplicates). sha256 included as the content fingerprint a 100 TB
    * pipeline would persist instead of the text itself. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), sha2(col("text"), 256).as("content_hash"))
      .orderBy("doc_id")

  /** `dedup_url` — URL canonicalization dedup: the same page crawled under
    * host-case / www-prefix / trailing-slash / tracking-param / fragment
    * variants collapses to one canonical key. First line of defense in a
    * crawl pipeline — it removes the bulk of duplication for the cost of a
    * string normalization + one exact group-by (no content comparison at
    * all), and every step is a codegen'd built-in. Raw URLs are synthesized
    * deterministically from doc_id (4 variants over pages shared by ~4 docs)
    * so the oracle reproduces them exactly. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val host = element_at(
      array(lit("Example.COM"), lit("www.example.com"), lit("EXAMPLE.com"), lit("example.com")),
      (col("doc_id") % 4 + 1).cast(IntegerType))
    val suffix = element_at(
      array(lit("?utm_source=feed&utm_campaign=c1"), lit("/"), lit("#section-2"), lit("")),
      (col("doc_id") % 4 + 1).cast(IntegerType))
    val raw = concat(lit("https://"), host,
      lit("/docs/"), (col("doc_id") / 4).cast(LongType).cast(StringType), suffix)
    // canonicalize: drop query + fragment, strip a leading www., lowercase
    // the host (only — paths are case-sensitive), strip one trailing slash
    val noQuery = regexp_replace(raw, "[?#].*$", "")
    val noWww = regexp_replace(noQuery, "^https://(?i:www\\.)", "https://")
    val canonical = concat(lit("https://"),
      lower(regexp_extract(noWww, "^https://([^/]+)", 1)),
      regexp_replace(regexp_extract(noWww, "^https://[^/]+(.*)$", 1), "/$", ""))
    t(spark, dir, "documents")
      .select(col("doc_id"), canonical.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n_variants"))
      .orderBy("first_doc")
  }

  /** `dedup_paragraph` — passage-level exact dedup: documents are chunked
    * into fixed 20-token passages and identical passages are collapsed
    * across the whole corpus (the boilerplate-removal pass of a training
    * pipeline — headers/footers/license blocks repeat verbatim even when
    * documents don't). Emits each passage that occurs more than once with
    * its occurrence count and canonical (lowest) source. Shuffle carries
    * one md5 + ids per passage occurrence, never the text. */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val chunkLen = 20
    val toksDf = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .localCheckpoint() // barrier: keeps split() out of the chunk lambdas (see shinglesOf)
    val nChunks = ceil(size(col("tk")) / lit(chunkLen.toDouble)).cast(IntegerType)
    val chunks = toksDf
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(col("tk"), i * chunkLen + 1, lit(chunkLen))))))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("passage"))
    chunks
      .groupBy(md5(col("passage")).as("passage_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy("first_doc", "passage_md5")
  }

  /** `dedup_edit_distance` — near-dup pairs by bounded Levenshtein distance,
    * banded-LSH candidates over word 3-gram *shingles*: a pair is a
    * candidate iff it agrees on some band of 2 independent salted-md5
    * MinHashes of its distinct shingle set AND on a coarse length bucket.
    * Shingles, not token sets: this corpus draws from a ~31-word vocabulary,
    * so random token-*set* Jaccard is ~0.9 (round 3's single token min-hash
    * degenerated into 13 buckets / 2M Levenshtein calls for exactly that
    * reason), while 3-gram sequences have ~vocab³ diversity — measured
    * random-pair shingle Jaccard ~0.005 vs ~0.9 for a true near-dup pair.
    *
    * 8 bands × 2 rows: P(band collision) = J² per band, so a random pair
    * collides w.p. ~8·(0.005)² ≈ 2e-4 (measured at 10× sf0.1: 19,792
    * candidates from 1.25G possible pairs, max bucket 11 docs,
    * Σ bucket² ≈ 1M over 735k buckets) while an edit-distance-bounded near-dup
    * (shingle J ≳ 0.8) is missed by all 8 bands w.p. < 2e-4. The length key
    * is floor(length/64), emitted for both the doc's own bucket and the next,
    * so any pair within the 64-char window lands on a common key (buckets
    * differ by ≤ 1); the exact window is re-checked at verification. Exact
    * verification keeps pairs with edit distance ≤ 25% of the longer text.
    *
    * Scale shape: candidate volume is Σ bucket² over (band-sig, length)
    * buckets and a band signature collides only for genuinely similar
    * shingle sets, so candidates stay ~linear in corpus size; the banded
    * self-join shuffles (id, 3 longs) rows, never text — texts join back in
    * only for the verified candidate set. The 16 min-hash families come from
    * ONE md5 per shingle (md5, not xxhash64, so the DuckDB oracle reproduces
    * every bit) followed by 16 affine mixes (a_p·h + b_p) mod (2³¹−1): the
    * digest is the expensive part (a 10× probe measured 240M digests when
    * each family salted its own md5), and affine-mod-prime over a
    * well-distributed base is a standard universal-hash family. All products
    * stay under 2⁶² so DuckDB's non-wrapping BIGINT arithmetic computes the
    * identical values. The digest+mix loop runs in one typed mapPartitions
    * pass for the same reason as [[simhashMd5Fingerprints]] (interpreted HOF
    * lambdas are ~300x slower than the primitive JVM loop). Docs with fewer
    * than 3 tokens have no shingles and cannot become candidates — at the
    * 44+ char text lengths of this corpus that excludes nothing. */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val nBands = 8
    val nHashes = 2 * nBands
    val M = 2147483647L // 2^31 - 1 (Mersenne prime)
    val mixA = Array.tabulate(nHashes)(p => ((p + 1) * 2654435761L) % M)
    val mixB = Array.tabulate(nHashes)(p => p * 40503L + 1L)
    // a plain scan: the signature pass and both verify sides re-read it
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))

    // p-th min-hash: min over distinct word-3-gram shingles of
    // (a_p·h + b_p) mod (2³¹−1), where h = (first 15 hex digits of
    // md5(shingle) as int64) mod (2³¹−1) — one digest per shingle, 16 cheap
    // mixes. DuckDB reproduces h with
    // CAST(concat('0x', substring(md5(g),1,15)) AS BIGINT) % 2147483647.
    // Tokenize/shingle/digest all happen in this one typed pass: doing the
    // shingling declaratively costs a columnar cache of the token arrays
    // plus interpreted HOF lambdas (measured 44 s of CPU at 10× sf0.1 that
    // this JVM loop does in ~2 s). Min over the shingle *sequence* equals
    // min over the distinct set, so no dedup pass is needed. Emit one
    // fixed-width row per (band, length-bucket ∈ {own, next}).
    import spark.implicits._
    val banded = docs.as[(Long, String)].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder(64)
      rows.flatMap { case (docId, text) =>
        val toks = Dedup.toks(text)
        if (toks.length < 3) Iterator.empty // incl. null text: no shingles, like the oracle's len(s)>=3
        else {
          val lb = (text.length / 64).toLong
          val mh = Array.fill(nHashes)(Long.MaxValue)
          var s = 0
          while (s + 2 < toks.length) {
            sb.setLength(0)
            sb.append(toks(s)).append(' ').append(toks(s + 1)).append(' ').append(toks(s + 2))
            md.reset()
            val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 15 hex digits = high 60 bits of the first 8 digest bytes
            var h = 0L
            var i = 0
            while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
            h = (h >>> 4) % M
            var p = 0
            while (p < nHashes) {
              val m = (mixA(p) * h + mixB(p)) % M
              if (m < mh(p)) mh(p) = m
              p += 1
            }
            s += 1
          }
          for { b <- 0 until nBands; dlb <- 0 to 1 } yield
            (docId, b, lb + dlb, mh(2 * b), mh(2 * b + 1))
        }
      }
    }.toDF("doc_id", "band", "lbk", "h1", "h2")
      // both sides of the self-join read it: at small scale the join
      // broadcasts one side, so no exchange is shared and, unchecked, the
      // digest pass would run twice
      .localCheckpoint()

    val candidates = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.lbk") === col("y.lbk") &&
          col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val a = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    // cpuStageRepartition BETWEEN the two verify joins: Catalyst pushes the
    // levenshtein filter down to the earliest stage that has both texts, so
    // the join-2 stage — which inherits the explicit width — is where the
    // O(len²) DP runs (originally a 31 s one-task stage at 10× sf0.1).
    // BOUNDED levenshtein: the threshold is the pair's own acceptance
    // bound maxlen/4, which turns the O(len²) DP into a banded
    // O(bound·len) pass with early exit. A pair over its bound reads -1,
    // so `>= 0` is the whole acceptance test. floor on both engines:
    // DuckDB CAST(double AS BIGINT) rounds-to-nearest while Spark's
    // truncates, so a bare /4 cast would disagree.
    val bound = floor(greatest(length(col("text_a")), length(col("text_b"))) / 4)
    cpuStageRepartition(candidates.join(a, "doc_a"), col("doc_b"))
      .join(b, "doc_b")
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= 64)
      .withColumn("edit_dist", call_function("levenshtein",
        col("text_a"), col("text_b"), bound.cast(IntegerType)).cast(LongType))
      .filter(col("edit_dist") >= 0)
      .select("doc_a", "doc_b", "edit_dist")
      .orderBy("doc_a", "doc_b")
  }

  /** `dedup_minhash_lsh` — near-duplicate pairs by MinHash + banded LSH over
    * 3-gram shingles, exact-verified at Jaccard >= 0.8.
    *
    * One FNV-1a 64 hash per shingle; the 64 "permutations" are cheap linear
    * mixes (odd multiplier + offset, wrapping long arithmetic) of that base
    * hash. 16 bands x 4 rows gives candidate-recall ~1 - (1-J^4)^16
    * (>1-1e-17 at J=0.98, the planted-dup regime), and false positives are
    * removed by the exact verification join — so the output equals the
    * exact O(n²) answer while only ever materializing band-bucket
    * collisions. Tokenize/shingle/hash/mix/band all happen in ONE typed
    * pass that also emits each doc's sorted distinct shingle-hash set;
    * verification is a set intersection on those arrays (equal to string
    * Jaccard up to 64-bit collisions, ~1e-14 per pair). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sigDocs = minhashSignatureIndex(spark, t(spark, dir, "documents"))

    val bands = bandsOf(sigDocs)

    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, sigDocs, sigDocs, 0.8)
  }

  /** `dedup_minhash_oph` — the same near-dup contract as
    * [[dedupMinhashLsh]] built on ONE-PERMUTATION HASHING with rotation
    * densification (Li–Owen–Zhang, NIPS 2012; Shrivastava–Li, ICML 2014)
    * instead of 64 independent permutations: each shingle hash is computed
    * ONCE, lands in bin h & 63, and the bin keeps the minimum of one fixed
    * affine mix; empty bins borrow circularly from the next filled bin to
    * the right, offset by hop count, which the 2014 paper shows preserves
    * the unbiased collision estimate. The 64 densified slots then fold
    * through the SAME 16×4 banding law as the classic index, the same
    * band-bucket self-join proposes candidates, and the same exact-Jaccard
    * verification keeps pairs at J ≥ 0.8 — so the OUTPUT contract (and the
    * DuckDB oracle, the exact O(n²) answer) is identical.
    *
    * Why it exists: at 100 TB the classic signature pass is 64 multiplies
    * per shingle; OPH is 1 multiply + 1 mask — the signature build
    * (the dominant map-side CPU of the whole dedup family) drops ~an order
    * of magnitude while candidate quality is statistically equivalent
    * (LlmOpsSpec pins output equality with the classic path on testdata).
    */
  def dedupMinhashOph(spark: SparkSession, dir: String): DataFrame = {
    val sigDocs = ophSignatureIndex(spark, t(spark, dir, "documents"))

    val bands = bandsOf(sigDocs)

    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, sigDocs, sigDocs, 0.8)
  }

  /** OPH signature index: schema-compatible with [[minhashSignatureIndex]]
    * ((doc_id, shs, sigs)) so the banding join and the exact verification
    * are shared verbatim. One mix per shingle; 64 bins; rotation
    * densification for empty bins. */
  def ophSignatureIndex(spark: SparkSession, documents: DataFrame): DataFrame = {
    val nBins = 64
    val bandRows = 4
    val nBands = nBins / bandRows
    // one fixed universal mix decouples the within-bin minimum from the
    // bin index (low bits route to bins; the mix re-randomizes order)
    val mixA = 0x9E3779B97F4A7C15L | 1L
    val mixB = 0x2545F4914F6CDD1DL
    val hopC = 0xBF58476D1CE4E5B9L // per-hop offset for densified copies

    import spark.implicits._
    documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { rows =>
        val sb = new java.lang.StringBuilder(64)
        rows.flatMap { case (docId, text) =>
          val shs = fnvShingleSet(Dedup.toks(text), sb)
          if (shs.isEmpty) Iterator.empty
          else {
            val mh = new Array[Long](nBins)
            java.util.Arrays.fill(mh, Long.MaxValue)
            shs.foreach { h =>
              val bin = (h & (nBins - 1)).toInt
              val m = h * mixA + mixB
              if (m < mh(bin)) mh(bin) = m
            }
            // rotation densification: empty bin j copies the next filled
            // bin clockwise, offset by hop count so distinct empty bins
            // borrowing the same donor stay distinguishable
            val dense = new Array[Long](nBins)
            var j = 0
            while (j < nBins) {
              if (mh(j) != Long.MaxValue) dense(j) = mh(j)
              else {
                var d = 1
                while (mh((j + d) & (nBins - 1)) == Long.MaxValue) d += 1
                dense(j) = mh((j + d) & (nBins - 1)) + d * hopC
              }
              j += 1
            }
            Iterator.single((docId, shs, foldBands(dense, nBands, bandRows)))
          }
        }
      }.toDF("doc_id", "shs", "sigs")
      .localCheckpoint() // the band pass + both verification sides read it
  }

  /** Explode a signature frame into one (doc_id, band, sig) row per band —
    * the join key of every LSH bucket join in this family. */
  private[graft] def bandsOf(sigDocs: DataFrame): DataFrame =
    sigDocs.select(col("doc_id"), posexplode(col("sigs")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("sig"))

  /** Exact-verify candidate pairs against the true shingle Jaccard: join
    * each side's sorted distinct shingle-hash set back in and keep pairs at
    * J >= threshold. Shared by the self-join and incremental paths. */
  private def verifyJaccard(candidates: DataFrame, left: DataFrame,
                            right: DataFrame, threshold: Double): DataFrame = {
    val va = left.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val vb = right.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    val inter = graft.functions.SortedSetOps.sortedIntersectSize(col("sa"), col("sb"))
    cpuStageRepartition(candidates.join(va, "doc_a"), col("doc_b"))
      .join(vb, "doc_b")
      .withColumn("jaccard",
        inter.cast(DoubleType) / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** The MinHash signature index of a (doc_id, text) corpus: per doc its
    * sorted distinct 3-gram shingle-hash set (`shs`, the exact-verification
    * payload) and 16 banded signatures (`sigs`, the LSH probe keys). This is
    * the frame a 100 TB pipeline PERSISTS — [[dedupIncremental]] writes it
    * to parquet once and probes it with each new batch, never re-reading
    * corpus text. One FNV-1a 64 hash per shingle; the 64 "permutations" are
    * cheap linear mixes (odd multiplier + offset, wrapping long arithmetic),
    * folded 4-per-band into 16 band signatures. All constants are fixed
    * (seeded) so indexes built by different runs are compatible.
    *
    * Docs with fewer than 3 tokens have no shingles and are absent from the
    * signature index; their exact-duplicate evidence lives in the DIGEST
    * index ([[digestIndex]]) instead — the cheap sha256-per-doc frame the
    * incremental cluster path joins on. */
  /** Sorted distinct FNV-1a 64 hashes of a doc's word-3-gram shingles — the
    * per-doc unit of work shared by the classic MinHash index and the OPH
    * index (same hashes ⇒ the two signature schemes verify against the
    * identical exact-Jaccard ground truth). Returns empty for < 3 tokens. */
  private def fnvShingleSet(toks: Array[String], sb: java.lang.StringBuilder): Array[Long] = {
    if (toks.length < 3) return Array.emptyLongArray
    val n = toks.length - 2
    val hs = new Array[Long](n)
    var s = 0
    while (s < n) {
      sb.setLength(0)
      sb.append(toks(s)).append(' ').append(toks(s + 1)).append(' ').append(toks(s + 2))
      var h = 0xcbf29ce484222325L
      var c = 0
      while (c < sb.length) { h ^= sb.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
      hs(s) = h
      s += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < n) { if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }; r += 1 }
    hs.take(w)
  }

  /** Fold 64 signature slots into 16 band keys of 4 rows — shared by the
    * classic and OPH indexes so both probe with the same banding law. */
  private def foldBands(mh: Array[Long], nBands: Int, bandRows: Int): Array[Long] =
    Array.tabulate(nBands) { b =>
      var sig = 1125899906842597L
      var i = b * bandRows
      while (i < (b + 1) * bandRows) { sig = sig * 31 + mh(i); i += 1 }
      sig
    }

  def minhashSignatureIndex(spark: SparkSession, documents: DataFrame): DataFrame = {
    val nHashes = 64
    val bandRows = 4
    val nBands = nHashes / bandRows
    val rnd = new scala.util.Random(4242)
    val mixA = Array.fill(nHashes)(rnd.nextLong() | 1L)
    val mixB = Array.fill(nHashes)(rnd.nextLong())

    import spark.implicits._
    def build: DataFrame = documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { rows =>
        val sb = new java.lang.StringBuilder(64)
        rows.flatMap { case (docId, text) =>
          val shs = fnvShingleSet(Dedup.toks(text), sb)
          if (shs.isEmpty) Iterator.empty // incl. null text: excluded, like the exact-answer ground truth
          else {
            val mh = new Array[Long](nHashes)
            java.util.Arrays.fill(mh, Long.MaxValue)
            shs.foreach { h =>
              var p = 0
              while (p < nHashes) {
                val m = h * mixA(p) + mixB(p)
                if (m < mh(p)) mh(p) = m
                p += 1
              }
            }
            Iterator.single((docId, shs, foldBands(mh, nBands, bandRows)))
          }
        }
      }.toDF("doc_id", "shs", "sigs")
    // band pass + both verification sides read the frame → checkpoint; a
    // streaming documents frame cannot (its single consumer, the band-claim
    // stream, reads it once per micro-batch anyway)
    if (documents.isStreaming) build else build.localCheckpoint()
  }

  /** `dedup_ngram_jaccard` — near-dup pairs via an inverted index on hashed
    * 5-gram shingles with a document-frequency cap: a shingle indexes at
    * most `dfCap` documents, hotter shingles (corpus-wide boilerplate)
    * generate no candidates. Candidate pairs expand *inside* the capped
    * posting array (≤ dfCap²/2 pairs per shingle) rather than through a raw
    * self-join on the shingle key, so a single hot key can never explode the
    * shuffle — the property that makes the index safe at 100 TB, where a
    * boilerplate 5-gram can appear in 1e8 documents. Every emitted pair is
    * then exact-verified against the true shingle Jaccard, so the output
    * contains no false positives regardless of the cap.
    *
    * Recall bound under the cap: a pair at J >= 0.7 is missed only if every
    * one of the (many) shingles the two documents share has df > dfCap —
    * i.e. the overlap is entirely boilerplate. Those pairs are the province
    * of [[dedupParagraph]] (collapses repeated passages first) and
    * [[dedupMinhashLsh]] (bands over the whole shingle set, not single
    * shingles); running the cap after boilerplate removal is the standard
    * pipeline order. On this corpus max df ≪ dfCap, so the capped output is
    * bit-identical to the exact O(n²) answer (asserted in LlmOpsSpec). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccard(spark, dir, dfCap = 128)

  // One typed pass tokenizes, shingles, hashes (FNV-1a 64), sorts, and
  // dedups each document's shingle set into a primitive long array. The
  // declarative equivalent (cached string-shingle arrays + interpreted
  // transform(xxhash64) + explode) measured 300 s of CPU at 10× sf0.1;
  // this pass does the same work in a few seconds. Hash identity is fine
  // here: unlike the banded dedups, nothing needs reproducing in the
  // oracle — the oracles brute-force string-set overlap, and hash-set
  // overlap equals string overlap up to 64-bit collisions (~1e-14/pair).
  // Shared by dedupNgramJaccard and dedupContainment.
  private[graft] def hashedShingleSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].mapPartitions { rows =>
        rows.flatMap { case (docId, text) =>
          val toks = Dedup.toks(text)
          if (toks.length < 5) Iterator.empty // incl. null text: no shingles, like the oracle's len(s)>=5
          else {
            val n = toks.length - 4
            val hs = new Array[Long](n)
            var s = 0
            while (s < n) {
              var h = 0xcbf29ce484222325L // FNV-1a over the 5 tokens, space-joined
              var t = 0
              while (t < 5) {
                if (t > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
                val w = toks(s + t)
                var c = 0
                while (c < w.length) { h ^= w.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
                t += 1
              }
              hs(s) = h
              s += 1
            }
            java.util.Arrays.sort(hs)
            var w = 0
            var r = 0
            while (r < n) { if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }; r += 1 }
            Iterator.single((docId, hs.take(w)))
          }
        }
      }.toDF("doc_id", "shs")
      .localCheckpoint() // the posting pass + both verification sides read it
  }

  // Inverted index without an aggregation operator: most shingles are
  // unique to one document, so a collect_list groupBy materializes ~|corpus
  // shingles| object buffers for nothing (measured 252 s of CPU at 10×
  // sf0.1). Instead: one hash shuffle on the shingle, a Tungsten
  // sort-within-partition, and a streaming scan that emits pairs from each
  // run of equal hashes with 2..dfCap postings (≤ dfCap²/2 pairs per
  // shingle — never a self-join on a hot key).
  private def cappedPostingPairs(spark: SparkSession, shs: DataFrame, dfCap: Int): DataFrame = {
    import spark.implicits._
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    shs.select(col("doc_id"), explode(col("shs")).as("h"))
      .repartition(nPart, col("h"))
      .sortWithinPartitions("h")
      .select(col("h"), col("doc_id")).as[(Long, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[Long]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[Long] = {
            val h = buf.head._1
            val ids = scala.collection.mutable.ArrayBuffer[Long]()
            while (buf.hasNext && buf.head._1 == h) ids += buf.next()._2
            ids.toArray
          }
        }.flatMap { ids =>
          if (ids.length < 2 || ids.length > dfCap) Iterator.empty
          else {
            java.util.Arrays.sort(ids)
            for { i <- ids.indices.iterator; j <- (i + 1) until ids.length }
              yield (ids(i), ids(j))
          }
        }
      }.toDF("doc_a", "doc_b").distinct()
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String, dfCap: Int): DataFrame = {
    val shs = hashedShingleSets(spark, dir)
    val pairs = cappedPostingPairs(spark, shs, dfCap)
    // Exact verify on the hash sets: the sets are sorted+distinct, so the
    // codegen'd two-pointer merge counts the intersection with no per-pair
    // hash set or output array (functions.SortedSetOps); size matches the
    // string-shingle intersection up to 64-bit hash collisions.
    val va = shs.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val vb = shs.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    val inter = graft.functions.SortedSetOps.sortedIntersectSize(col("sa"), col("sb"))
    cpuStageRepartition(pairs.join(va, "doc_a"), col("doc_b"))
      .join(vb, "doc_b")
      .withColumn("jaccard",
        inter.cast(DoubleType) / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** `dedup_containment` — asymmetric near-dup (quote/subsumption)
    * detection: containment C(A→B) = |A∩B| / |A| over 5-gram shingle sets.
    * Jaccard misses the case a training pipeline cares about most — a short
    * document wholly quoted inside a much longer one scores J ≈ |A|/|B| ≈ 0
    * but C = 1. Same candidate machinery as [[dedupNgramJaccard]] (capped
    * inverted index, same recall bound under the df cap), then each
    * surviving pair is exact-verified in BOTH directions and emitted
    * per-direction as (contained, container). The division is one IEEE op
    * on two ints — bit-identical to the oracle's. Both directions come from
    * a SINGLE evaluation of the verify join: a union of two branches over
    * the same unpersisted join re-executes the candidate-verify join per
    * branch (the r7 2.35 s regression), so instead each pair explodes into
    * its two direction structs and one filter keeps the ≥0.9 rows. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val shs = hashedShingleSets(spark, dir)
    val pairs = cappedPostingPairs(spark, shs, 128)
    val va = shs.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val vb = shs.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    val inter = graft.functions.SortedSetOps.sortedIntersectSize(col("sa"), col("sb")).cast(DoubleType)
    cpuStageRepartition(pairs.join(va, "doc_a"), col("doc_b"))
      .join(vb, "doc_b")
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          (inter / size(col("sa"))).as("containment")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          (inter / size(col("sb"))).as("containment")))).as("dir"))
      .select(col("dir.contained"), col("dir.container"), col("dir.containment"))
      .filter(col("containment") >= 0.9)
      .orderBy("contained", "container")
  }

  /** `dedup_setsim_prefix` — EXACT threshold Jaccard self-join via
    * All-Pairs/PPJoin prefix filtering (Bayardo et al. WWW'07; Xiao et al.
    * WWW'08): the no-false-negative complement to the two probabilistic /
    * conditional candidate generators in this family. [[dedupMinhashLsh]]
    * can miss a true pair with banding probability < 1; [[dedupNgramJaccard]]
    * is exact only while every shared shingle stays under the df cap. This
    * operator guarantees recall 1.0 with no cap and no all-pairs join:
    *
    *  1. Global shingle document frequency (one hash-agg shuffle with
    *     map-side partial combine) defines a total order: df ascending,
    *     hash tiebreak. Rarest tokens sort first.
    *  2. Each document indexes only its PREFIX under that order — the first
    *     `n − ceil(t·n) + 1` of its n shingles. Prefix-filter lemma: two
    *     sets with |x∩y| ≥ α must collide within their (len−α+1)-prefixes
    *     under any common total order, and J(x,y) ≥ t forces overlap
    *     ≥ ceil(t·|x|) on both sides — so J ≥ t pairs ALWAYS share an
    *     indexed prefix token. Everything outside the prefix generates no
    *     candidates, which is exactly where df-ascending earns its keep:
    *     corpus-wide boilerplate (the hot keys that force the df cap in the
    *     capped index) sorts LAST and falls outside almost every prefix, so
    *     posting runs stay short by construction rather than by cap.
    *  3. Candidates expand inside per-token posting runs (hash shuffle on
    *     the token + sort-within-partition + streamed run scan — never a
    *     raw self-join on the key) with the length filter applied in-loop:
    *     J ≥ t bounds sizes within a factor t of each other
    *     (`den·min ≥ num·max` in exact integer arithmetic), killing
    *     short-vs-long pairs before they materialize.
    *  4. Exact verification on the sorted hash sets, same kernel as
    *     [[dedupNgramJaccard]] — no false positives either.
    *
    * The threshold 0.7 is carried as the rational 7/10 and every prefix /
    * length bound is computed in integer arithmetic (`(7n+9)/10` for
    * ceil(0.7n)) — a double `ceil(0.7*n)` that rounds down once would
    * silently shorten a prefix and break the recall proof.
    *
    * 100 TB: df table is a hash agg (never collected/broadcast); the
    * per-doc reorder is a `Window.partitionBy(doc_id)` — high-cardinality
    * hash partitioning, no global sort; candidate volume is governed by
    * prefix df, measured on this corpus below the capped index's (PLANS.md).
    * Upgrade path noted: PPJoin's position filter would prune further. */
  def dedupSetsimPrefix(spark: SparkSession, dir: String): DataFrame =
    setsimPrefixPairs(spark, hashedShingleSets(spark, dir), 7, 10)

  /** The reusable exact-threshold-Jaccard self-join core of
    * [[dedupSetsimPrefix]], parameterized over the shingle frame and the
    * rational threshold `num/den` — [[graft.llm.Similarity.simHardNegatives]]
    * runs it at 8/10 over the 3-gram sets so its anchor pairs come from an
    * EXACT candidate path (recall 1.0) and cannot drift from the exact
    * all-pairs oracle the way the banded-LSH pair set can w.l.p.
    *
    * `shs` must be (doc_id: Long, shs: sorted distinct Array[Long]).
    *
    * `minIdBound` restricts pair GENERATION to pairs whose smaller doc_id
    * is < the bound, and `prefixIndex` passes in a prebuilt (corpus-wide)
    * [[setsimPrefixIndex]] so a staged caller pays the index build once. Exactness under
    * the bound: a pair (a, b) with min(a, b) < K survives, so for every
    * document with doc_id < K the restricted output contains its COMPLETE
    * J ≥ t pair set — [[graft.llm.Similarity.simHardNegatives]] exploits
    * this to find the NA smallest anchor ids without paying for the whole
    * corpus pair set. */
  /** The PPJoin prefix index behind [[setsimPrefixPairs]]. One row per
    * indexed prefix token: (h, doc_id, n = |shs|). */
  private[graft] def setsimPrefixIndex(shs: DataFrame, Num: Int, Den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfTab = shs.select(explode(col("shs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))

    // minOverlap = ceil(t·n) = (Num·n + Den − 1) / Den; prefix keeps
    // positions 1 .. n − minOverlap + 1 under the (df, h) order.
    val exploded = shs.select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("h"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    exploded.join(dfTab, "h")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("n") - floor((col("n") * Num + (Den - 1)) / Den) + 1)
      .select(col("h"), col("doc_id"), col("n"))
  }

  private[graft] def setsimPrefixPairs(
      spark: SparkSession, shs: DataFrame, Num: Int, Den: Int,
      minIdBound: Long = Long.MaxValue, prefixIndex: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._

    val prefix = prefixIndex.getOrElse(setsimPrefixIndex(shs, Num, Den))

    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = prefix
      .repartition(nPart, col("h"))
      .sortWithinPartitions("h")
      .select(col("h"), col("doc_id"), col("n")).as[(Long, Long, Int)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[(Long, Int)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[(Long, Int)] = {
            val h = buf.head._1
            val ids = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
            while (buf.hasNext && buf.head._1 == h) { val r = buf.next(); ids += ((r._2, r._3)) }
            ids.toArray
          }
        }.flatMap { ids =>
          if (ids.length < 2) Iterator.empty
          else {
            java.util.Arrays.sort(ids, Ordering.by((p: (Long, Int)) => p._1))
            for {
              // ids ascending ⇒ ids(i) is the pair's min id; the bound cuts
              // the outer loop to the run's < K prefix (whole run when unbounded)
              i <- ids.indices.iterator.takeWhile(i => ids(i)._1 < minIdBound)
              j <- (i + 1) until ids.length
              // length filter, exact integers: t·max ≤ min ⇔ Num·max ≤ Den·min
              if Num * math.max(ids(i)._2, ids(j)._2) <= Den * math.min(ids(i)._2, ids(j)._2)
            } yield (ids(i)._1, ids(j)._1)
          }
        }
      }.toDF("doc_a", "doc_b").distinct()

    val va = shs.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
    val vb = shs.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
    val inter = graft.functions.SortedSetOps.sortedIntersectSize(col("sa"), col("sb"))
    cpuStageRepartition(pairs.join(va, "doc_a"), col("doc_b"))
      .join(vb, "doc_b")
      .withColumn("jaccard",
        inter.cast(DoubleType) / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= lit(Num.toDouble / Den))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** `dedup_simhash` — 64-bit SimHash fingerprints: per token-hash bit,
    * +1/-1 weighted vote, sign becomes the bit. Near-dup pairs found by
    * exact-match on 4 16-bit sub-fingerprints (any pair with Hamming<=3
    * agrees on at least one block — pigeonhole), then Hamming-verified.
    * Tokenize/dedup/hash/vote all run in one typed pass (FNV-1a 64 token
    * hashes; the fast non-cryptographic scale path — fingerprints aren't
    * reproducible in SQL → rows-only check; [[dedupSimhashMd5]] is the
    * oracle-checked twin). The previous declarative split + array_distinct +
    * interpreted transform(xxhash64) formulation was the dominant cost of
    * this key at 10× sf0.1. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sim = simhashFingerprints(spark, dir)
    // Candidate scheme by corpus size (probe #21 adjudication, thresholds
    // re-measured r16 — see [[SimhashMankuSwitchDocs]]): the 4×16 layout's
    // collision mass grows to 4.6× the Manku C(6,3) mass by n = 500 k
    // (1.45 G vs 319 M measured), while below the switch both are trivial
    // and the 4-row fan-out is cheaper. Both schemes are pigeonhole-EXACT
    // for Hamming ≤ 3 (spec-pinned equal), so the switch changes cost,
    // never the answer. The count reads the checkpointed fingerprints.
    simhashPairs(sim, manku = sim.count() > SimhashMankuSwitchDocs)
  }

  /** The FNV-1a fingerprint pass behind [[dedupSimhash]], checkpointed
    * (the count and both join sides read it). */
  private[graft] def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    healScanStarvation(
      t(spark, dir, "documents").select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)].mapPartitions { rows =>
      rows.map { case (docId, text) =>
        val votes = new Array[Int](64)
        val seen = new java.util.HashSet[String]()
        Dedup.toks(text).foreach { tk =>
          if (seen.add(tk)) {
            var h = 0xcbf29ce484222325L
            var c = 0
            while (c < tk.length) { h ^= tk.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
          }
        }
        var fp = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
        (docId, fp)
      }
    }.toDF("doc_id", "simhash")
      .localCheckpoint()
  }

  /** Above this many documents, [[dedupSimhash]] switches its candidate
    * generation from 4×16-bit blocks to Manku C(6,3) banding (Manku,
    * Jain & Das Sarma, WWW 2007 §3: probe combinations of blocks so the
    * key is wide enough that spurious collisions vanish). 2¹⁴, set by
    * MEASUREMENT (r16 density probe in PLANS.md, on the real FNV
    * fingerprints — the collision mass is dominated by CORRELATED 16-bit
    * blocks on this vocab-driven corpus, not the n²·2⁻¹⁶ uniform term, so
    * the narrow scheme degrades a decade earlier than the uniform model
    * predicts):
    * Σ C(bucket,2) candidate mass narrow vs wide reads 2.79 M vs 2.59 M
    * at n = 5 k (a wash), 84.1 M vs 31.7 M at n = 50 k (2.7×), 1.45 G vs
    * 319 M at n = 500 k (4.6×). Below 2¹⁴ both schemes are trivial and
    * the narrow one's 4-row fan-out and 16-bit shuffle keys are
    * strictly cheaper. */
  private[graft] val SimhashMankuSwitchDocs = 16384L

  /** Hamming ≤ 3 near-dup pairs of a (doc_id, simhash) frame, by exact
    * block-agreement candidates + exact Hamming verification.
    *
    * Pigeonhole exactness, both schemes: a pair within Hamming distance 3
    * has ≤ 3 errored bits. 4×16: the errors touch ≤ 3 of the 4 disjoint
    * 16-bit blocks, so some block is clean and the pair agrees on that
    * block's key. C(6,3): the errors touch ≤ 3 of the 6 disjoint blocks
    * (widths 11,11,11,11,10,10), so ≥ 3 blocks are clean and some probed
    * 3-combination is entirely clean — the pair agrees on that
    * combination's ~32-bit concatenated key. Candidates ⊇ true pairs in
    * both schemes and verification is exact, so the output is identical
    * (SimhashBandingSpec pins set equality and a planted Hamming-3 pair).
    *
    * Scale shape: band rows are 4n vs 20n; spurious-candidate mass under
    * the uniform model is n²·4·2⁻¹⁶ vs n²·20·2⁻³², and MEASURED on the
    * real vocab-correlated fingerprints the gap opens a decade earlier
    * (1.45 G vs 319 M bucket-pair mass at n = 500 k, r16 density probe in
    * PLANS.md) — which is why the wide key wins every decade past the
    * switch. */
  /** The banded candidate frame of [[simhashPairs]] — (doc_id, simhash,
    * blk, key) rows, one per band probe, in either scheme. */
  private[graft] def simhashBanded(sim: DataFrame, manku: Boolean): DataFrame = {
    val bandStructs: Seq[Column] =
      if (!manku) {
        (0 until 4).map(i =>
          struct(lit(i).as("blk"),
            shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL).as("key")))
      } else {
        val offs = Array(0, 11, 22, 33, 44, 54)
        val widths = Array(11, 11, 11, 11, 10, 10)
        def blockVal(i: Int): Column = // arithmetic shift sign bits masked
          shiftright(col("simhash"), offs(i)).bitwiseAND(lit((1L << widths(i)) - 1))
        val combos = for { i <- 0 until 6; j <- i + 1 until 6; k <- j + 1 until 6 }
          yield (i, j, k)
        combos.zipWithIndex.map { case ((i, j, k), c) =>
          struct(lit(c).as("blk"),
            (blockVal(i) * lit(1L << 22) + blockVal(j) * lit(1L << 11) +
              blockVal(k)).as("key")) // widths ≤ 11 ⇒ disjoint shift lanes
        }
      }
    sim.select(col("doc_id"), col("simhash"),
      explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.blk"), col("b.key"))
  }

  /** Per-band block masks of either scheme, in [[simhashBanded]]'s band
    * order: band c's key equality between two fingerprints is EXACTLY
    * `(sim_a ^ sim_b) & mask(c) == 0` (narrow: the block's 16 bits; Manku:
    * the union of the combination's three disjoint blocks). */
  private[graft] def simhashBandMasks(manku: Boolean): Array[Long] =
    if (!manku) Array.tabulate(4)(i => 0xFFFFL << (i * 16))
    else {
      val offs = Array(0, 11, 22, 33, 44, 54)
      val widths = Array(11, 11, 11, 11, 10, 10)
      def m(i: Int): Long = ((1L << widths(i)) - 1) << offs(i)
      (for { i <- 0 until 6; j <- i + 1 until 6; k <- j + 1 until 6 }
        yield m(i) | m(j) | m(k)).toArray
    }

  private[graft] def simhashPairs(sim: DataFrame, manku: Boolean): DataFrame = {
    val blocks = simhashBanded(sim, manku)
    // r17 decade-3 fix: the old form materialized EVERY banded candidate
    // through a distinct() exchange — and on this dense corpus survivors
    // keep ~full band multiplicity, so at n = 5 M that exchange is ~4.06 G
    // rows (measured: the probe run sat 46 min at parallelism ~1 inside
    // it). A pair's colliding bands are pure bit arithmetic on the two
    // fingerprints ALREADY in the row, so instead each pair is emitted
    // exactly once, from its FIRST colliding band: candidates stream
    // through a codegen'd mask chain + popcount and never shuffle; the
    // only pair exchange left is the output's own presentation sort.
    // Output-identical to the distinct() form (one row per candidate pair,
    // hamming is a function of the pair) — SimhashBandingSpec pins it.
    val masks = simhashBandMasks(manku)
    val xor = col("sim_a").bitwiseXOR(col("sim_b"))
    val firstBand = masks.zipWithIndex.foldRight(lit(-1): Column) {
      case ((m, c), rest) => when(xor.bitwiseAND(lit(m)) === 0L, lit(c)).otherwise(rest)
    }
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"),
        col("x.blk").as("blk"))
      .filter(col("blk") === firstBand)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** `dedup_simhash_md5` — the oracle-checkable SimHash: 60-bit fingerprints
    * whose per-token hash is the first 15 hex digits of md5(token), so DuckDB
    * reproduces every bit (md5 is identical on both engines; xxhash64, the
    * faster scale-path hash used by `dedup_simhash`, is not available there).
    * Majority vote per bit over the distinct token set; strict >0 sets the
    * bit, so a tie votes 0 on both engines. One sequential pass per row in a
    * typed mapPartitions — the per-row k-bit loop is ~300x faster than a
    * higher-order-function formulation (interpreted, boxed). */
  def dedupSimhashMd5(spark: SparkSession, dir: String): DataFrame =
    simhashMd5Fingerprints(spark, t(spark, dir, "documents"))

  /** Core of `dedup_simhash_md5`, reusable on any (doc_id, text) frame. */
  def simhashMd5Fingerprints(spark: SparkSession, documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))

    import spark.implicits._
    docs.as[(Long, Seq[String])].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (docId, toks) =>
        val votes = new Array[Int](60)
        // null text decodes as a null Seq; vote nothing so the fingerprint
        // is 0, matching the oracle's NULL handling (no votes set no bits)
        Option(toks).getOrElse(Nil).foreach { tk =>
          md.reset()
          val d = md.digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 15 hex digits = high 60 bits of the first 8 digest bytes
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
          h = h >>> 4 // drop the 16th hex digit
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 60) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
        (docId, fp)
      }
    }.toDF("doc_id", "simhash")
      .orderBy("doc_id")
  }


  /** `dedup_incremental` — new-batch-vs-corpus dedup, the shape real
    * ingestion runs: the corpus's MinHash signature index ([[minhashSignatureIndex]]:
    * per doc its shingle-hash set + 16 band signatures) is PERSISTED to
    * parquet once, and each incoming batch is deduped by probing that index
    * — the corpus *text* is never re-read and the corpus side never
    * recomputes anything. (The reference's staged fan-out A11,
    * config.py:39-49, is the same new-batch-against-known-keys pattern.)
    * Here the "new batch" is doc_id % 10 == 0 and the corpus is the rest.
    * Candidates = new-batch bands probing the index's bands (LSH bucket
    * join; an exact duplicate collides on every band, so the exact-hash
    * pre-filter a pipeline would run first is subsumed) plus the new-batch
    * self-join (new docs can duplicate each other); each candidate is
    * exact-verified at J >= 0.8 against shingle sets drawn from the index /
    * the new batch's one signature pass. Output therefore equals the
    * full-corpus [[dedupMinhashLsh]] answer restricted to pairs touching a
    * new doc — which is exactly what the oracle asserts. */
  /** The "new batch" split used by every incremental operator here. */
  private def isNewDoc = col("doc_id") % 10 === 0

  /** Build and return the persisted corpus index directory (a fresh one
    * per call): `sigs/` = the MinHash signature index, `digests/` = one
    * sha256 content digest per non-null-text doc (the exact-duplicate
    * evidence for docs too short to shingle, and the cheap first-pass key).
    * Together they are the state an ingestion pipeline carries between
    * runs — everything the incremental paths touch on the corpus side. */
  private def corpusIndexDir(spark: SparkSession, dir: String): String = {
    val p = graft.Tables.scratchDir("corpus_index")
    val corpus = t(spark, dir, "documents").filter(!isNewDoc)
    minhashSignatureIndex(spark, corpus).write.mode("overwrite").parquet(s"$p/sigs")
    corpus.filter(col("text").isNotNull)
      .select(col("doc_id"), sha2(col("text"), 256).as("dg"))
      .write.mode("overwrite").parquet(s"$p/digests")
    p
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val isNew = isNewDoc
    val corpusIdx = spark.read.parquet(s"${corpusIndexDir(spark, dir)}/sigs")
    val newSigs = minhashSignatureIndex(spark, docs.filter(isNew))
    val newBands = bandsOf(newSigs)
    val probe = newBands.as("x").join(bandsOf(corpusIdx).as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val newNew = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val candidates = probe.unionByName(newNew).distinct()
    val all = newSigs.select("doc_id", "shs")
      .unionByName(corpusIdx.select("doc_id", "shs"))
    verifyJaccard(candidates, all, all, 0.8)
  }

  /** `dedup_incremental_bloom` — incremental paragraph dedup with a
    * Bloom-filter pre-filter: which 20-token passages of the new batch
    * already exist verbatim in the historical corpus (the MassiveText /
    * Gopher repeated-passage rule, run incrementally at ingest)? The naive
    * plan shuffles the ENTIRE historical passage index against every
    * incoming batch; this one summarizes the corpus side into a Bloom
    * filter over `xxhash64(passage)`, built on every call
    * with `df.stat.bloomFilter` (a mergeable tree-aggregate — the driver
    * holds O(bits), never rows) and shipped into the new batch's scan as a
    * `might_contain` predicate (the same `BloomFilterMightContain`
    * expression Spark's own runtime row-level filtering injects, built via
    * GraftBridge because it has no public SQL registration). Passages the
    * bloom rejects are DEFINITELY novel and exit map-side with zero
    * shuffle; only bloom hits (true dups + fpp false positives) reach the
    * exact passage join, so the join's probe side shrinks from every
    * passage of the batch to ~|dups| + fpp·|batch|. Blooms have no false
    * negatives, so the post-join answer is EXACT — the oracle is the plain
    * passage equi-join with no bloom anywhere.
    *
    * 100 TB math: 10¹¹ corpus passages at fpp 3% ≈ 90 GB of filter split
    * across executors — vs re-shuffling a multi-TB passage index per
    * ingested batch; at 10⁹ passages it is 900 MB. The residual exact join
    * still touches the historical index, so at scale the index is
    * persisted BUCKETED by digest ([[graft.ops.Relational]]'s
    * `join_bucketed_colocated` machinery): then only the bloom-surviving
    * candidates shuffle, and the index side never re-exchanges. The filter
    * itself is corpus-state like `corpusIndexDir`'s `digests/`: an
    * ingestion pipeline persists it beside the index and rebuilds it only
    * on corpus compaction. */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val chunkLen = 20
    def passages(docs: DataFrame): DataFrame = {
      val tk = split(col("text"), " ")
      val nChunks = ceil(size(col("tk")) / lit(chunkLen.toDouble)).cast(IntegerType)
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks - 1),
            i => concat_ws(" ", slice(col("tk"), i * chunkLen + 1, lit(chunkLen))))))
        .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("passage"))
    }
    val docs = t(spark, dir, "documents")
    // checkpointed: the count, the filter build and the exact join read it
    val hist = passages(docs.filter(!isNewDoc))
      .select(col("doc_id").as("corpus_doc"), col("passage"))
      .localCheckpoint()
    val bloomBytes = {
      val n = hist.count().max(1L)
      val bf = hist.select(xxhash64(col("passage")).as("h")).stat
        .bloomFilter("h", n, 0.03)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftBridge.expression(xxhash64(col("passage")))))
    passages(docs.filter(isNewDoc))
      .select(col("doc_id").as("new_doc"), col("chunk_idx"), col("passage"))
      .filter(mightContain) // bloom prune: map-side, misses never shuffle
      .join(hist, "passage")
      .select(col("new_doc"), col("chunk_idx"), col("corpus_doc"),
        md5(col("passage")).as("passage_md5"))
      .orderBy("new_doc", "chunk_idx", "corpus_doc")
  }

  /** `dedup_clusters` — the dedup family's last stage: candidate pairs →
    * connected components → one canonical survivor per cluster. Every other
    * operator here emits *pairs*; a training pipeline must then union those
    * pairs into transitive clusters and keep exactly one document per
    * cluster. Edges are the union of exact-duplicate groups (same text ⇒
    * edge to the group's min doc) and the MinHash near-dup pairs (J >= 0.8,
    * [[dedupMinhashLsh]] — whose verified output equals the exact answer, so
    * the oracle can rebuild the identical edge set in SQL). Emits every
    * document with its cluster id (= min doc_id of its component), the
    * cluster size, and an is_canonical flag marking the survivor. The
    * reference analogue is config.py:56's `sort | uniq` — the degenerate
    * exact-only form of this closure. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nearEdges = dedupMinhashLsh(spark, dir).select("doc_a", "doc_b")
    // eager closure; its labels come back locally checkpointed
    val cc = connectedComponents(spark, docs.select("doc_id"),
      exactDupEdges(docs).unionByName(nearEdges))
    clusterTable(cc)
  }

  /** Exact-dup star edges: each non-min doc points at its group min. The
    * shuffle carries (doc_id, sha256 digest) — the content fingerprint
    * dedup_exact persists — never the text itself (null text never equals
    * anything, matching the oracle's SQL equality join). */
  private def exactDupEdges(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dg")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), sha2(col("text"), 256).as("dg"))
      .select(col("doc_id"), min(col("doc_id")).over(w).as("m"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("doc_a"), col("m").as("doc_b"))
  }

  /** The cluster table of components `cc` (`doc_id`, `cluster_id`): every
    * document with its cluster id, the cluster's size, and whether it is
    * the cluster's canonical survivor (its min doc_id), by doc_id. */
  private[llm] def clusterTable(cc: DataFrame): DataFrame = {
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Connected components by min-label propagation to fixpoint: every node
    * starts labeled with itself; each round every node takes the min of its
    * own and its neighbors' labels; stop when nothing changes. Rounds are
    * bounded by component *diameter* — for dedup graphs that is small by
    * construction (exact groups are stars through their min doc; near-dup
    * clusters are near-cliques, since members of a cluster are pairwise
    * similar), so this converges in a handful of rounds where the
    * alternating large-star/small-star formulation would spend the same
    * shuffles on its O(log²) guarantee. Each round is two distributed hash
    * shuffles (edge⋈label propagate + min re-aggregation) over (id, label)
    * longs — never payloads — plus one driver-side convergence count;
    * `localCheckpoint` truncates the growing lineage each round (a reliable
    * checkpoint dir does the same on a real cluster). A 50-round guard turns
    * a pathological long-path graph (not a dedup shape) into a loud error
    * instead of an infinite loop. */
  def connectedComponents(spark: SparkSession, nodes: DataFrame,
                          edges: DataFrame): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges.select(col("doc_a"), col("doc_b"))
    val sym = e.unionByName(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .repartition(nPart, col("doc_b")) // reused every round with this layout
      .persist()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val prop = sym.join(labels, sym("doc_b") === labels("doc_id"))
        .select(sym("doc_a").as("doc_id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("p"), col("n.doc_id") === col("p.doc_id"))
        .filter(col("n.label") =!= col("p.label")).count()
      labels = next
      rounds += 1
    }
    sym.unpersist()
    require(changed == 0, s"connectedComponents did not converge in $rounds rounds")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** `dedup_clusters_incremental` — cluster MAINTENANCE under ingestion:
    * fold a new batch into yesterday's cluster assignment without
    * re-clustering the corpus from scratch. The previous assignment
    * collapses each old component to a star (doc → its cluster id), which
    * preserves connectivity exactly; union those star edges with the new
    * evidence — the batch's verified near-dup pairs
    * ([[dedupIncremental]]'s probe of the persisted signature index) and
    * exact-digest matches of new docs against the persisted digest index —
    * and resolve. Nothing on the corpus side is recomputed: old clusters
    * enter as |corpus| star edges, digests and signatures come from the
    * persisted index, corpus text is never re-read. The oracle is the SAME
    * recursive-CTE closure as `dedup_clusters` — i.e. the check IS the
    * claim that incremental maintenance equals the full-corpus recompute
    * (edge sets: exact(all) ∪ minhash(all) vs stars(closure(corpus-only))
    * ∪ pairs-touching-new — identical components by construction). */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val p = corpusIndexDir(spark, dir)
    // "yesterday's" assignment: corpus-only clusters, resolved from the
    // persisted index halves — the state a real pipeline reads back from
    // its last run's output
    val corpusClusters = {
      val sigs = spark.read.parquet(s"$p/sigs")
      val dgs = spark.read.parquet(s"$p/digests")
      val wD = org.apache.spark.sql.expressions.Window.partitionBy("dg")
      val exactC = dgs
        .select(col("doc_id"), min(col("doc_id")).over(wD).as("m"))
        .filter(col("doc_id") =!= col("m"))
        .select(col("doc_id").as("doc_a"), col("m").as("doc_b"))
      val bandsC = bandsOf(sigs)
      val candC = bandsC.as("x").join(bandsC.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val nearC = verifyJaccard(candC, sigs, sigs, 0.8).select("doc_a", "doc_b")
      connectedComponents(spark, docs.filter(!isNewDoc).select("doc_id"),
        exactC.unionByName(nearC))
    }
    val stars = corpusClusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // new evidence: near-dup pairs from the index probe + exact digest hits
    val incPairs = dedupIncremental(spark, dir).select("doc_a", "doc_b")
    val newDg = docs.filter(isNewDoc && col("text").isNotNull)
      .select(col("doc_id"), sha2(col("text"), 256).as("dg"))
    val allDg = newDg.unionByName(spark.read.parquet(s"$p/digests"))
    val exactNew = newDg.as("n").join(allDg.as("a"),
        col("n.dg") === col("a.dg") && col("n.doc_id") =!= col("a.doc_id"))
      .select(least(col("n.doc_id"), col("a.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("a.doc_id")).as("doc_b"))
      .distinct()
    val cc = connectedComponents(spark, docs.select("doc_id"),
      stars.unionByName(incPairs).unionByName(exactNew))
    clusterTable(cc)
  }

  /** `dedup_clusters_star` — the same cluster resolution as
    * [[dedupClusters]] computed by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    * whose round count is O(log² n) in the WORST case — independent of
    * component diameter. Min-label propagation (the default) wins on dedup
    * graphs because their diameter is small by construction; this variant
    * is the one that also survives pathological long-path graphs (the spec
    * clusters a 200-node chain, which the label path's round guard would
    * reject). Identical output contract and oracle as `dedup_clusters`. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nearEdges = dedupMinhashLsh(spark, dir).select("doc_a", "doc_b")
    val cc = connectedComponentsLogStar(spark, docs.select("doc_id"),
      exactDupEdges(docs).unionByName(nearEdges))
    clusterTable(cc)
  }

  /** Connected components by alternating large-star / small-star edge
    * rewrites until the edge set reaches a fixpoint (at which point it is a
    * star forest rooted at each component's min node):
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): every neighbor v ≤ u (edges oriented to their larger
    *    endpoint) re-attaches to m = min(Γ≤(u)).
    *
    * Each half-round is ONE window shuffle over the symmetric (or oriented)
    * edge list carrying two longs — the per-u neighborhood min comes from a
    * partitioned window, never a collected adjacency list, so a massive
    * star (every doc duplicating one boilerplate page) cannot blow an
    * aggregation buffer. Rounds are O(log² n) worst-case regardless of
    * diameter; lineage is truncated per round. Returns (doc_id, cluster_id
    * = component min), singletons included. */
  def connectedComponentsLogStar(spark: SparkSession, nodes: DataFrame,
                                 edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    var cur = canon(edges).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 40) {
      val tRound = System.nanoTime()
      // large-star over the symmetric list: u = doc_a, neighbors b
      val sym = cur.unionByName(
        cur.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val mL = least(min(col("doc_b")).over(Window.partitionBy("doc_a")), col("doc_a"))
      val ls = canon(sym
        .withColumn("m", mL)
        .filter(col("doc_b") > col("doc_a"))
        .select(col("doc_b").as("doc_a"), col("m").as("doc_b")))
      // small-star: orient each edge to its larger endpoint u; neighbors v < u
      val oriented = ls.select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      val mS = min(col("v")).over(Window.partitionBy("u"))
      val withM = oriented.withColumn("m", mS)
      val ss = canon(
        withM.filter(col("v") =!= col("m"))
          .select(col("v").as("doc_a"), col("m").as("doc_b"))
          .unionByName(withM.select(col("u").as("doc_a"), col("m").as("doc_b"))))
      val next = ss.localCheckpoint()
      changed = next.exceptAll(cur).count() + cur.exceptAll(next).count()
      cur = next
      rounds += 1
    }
    require(changed == 0, s"connectedComponentsLogStar did not converge in $rounds rounds")
    // fixpoint is a star forest: cluster = min(self, min neighbor)
    val sym = cur.unionByName(
      cur.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    nodes.join(sym.groupBy("doc_a").agg(min(col("doc_b")).as("nb")),
        nodes("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nb"), col("doc_id"))).as("cluster_id"))
  }

  /** `llm_corpus_pipeline` — the curation pipeline end-to-end as ONE
    * operator, the full pass sequence of a training-data pipeline: quality
    * gate (token count + unique-token ratio) → repetition filter (Gopher
    * bigram signals) → benchmark decontamination → near-dup cluster dedup
    * (keep canonical) → substring-span cut applied to the survivors. The
    * output is exactly the table a training run consumes: surviving doc
    * ids with their post-cut text and token accounting.
    *
    * Semantics are deliberate about WHAT each stage sees:
    *  - clustering and span detection run on the FULL corpus — a
    *    low-quality or contaminated duplicate still votes its cluster's
    *    canonical, and a boilerplate span is still detected when its other
    *    occurrences sit in dropped docs; filtering first would silently
    *    re-admit near-dups as "unique" and boilerplate as "novel";
    *  - the drop filters compose conjunctively on the survivor set: a
    *    cluster whose canonical is benchmark/contaminated vanishes
    *    entirely (its members are near-dups of contaminated content —
    *    keeping them would defeat the decontamination).
    *
    * Plan shape: every stage reuses its already-verified operator and the
    * checkpointed token/shingle/gram frames underneath them, so
    * composing the stages adds doc_id equi-joins (semi for the id-set
    * filters, one left for the cut accounting) but NO new corpus-wide
    * shuffles — the documents table is tokenized once per distinct
    * tokenization, not once per stage. The id-set sides are
    * corpus-fractions; AQE broadcasts them when small. */
  def llmCorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    val quality = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(tk).cast(LongType).as("n_tokens"),
        (size(array_distinct(tk)).cast(DoubleType) / size(tk)).as("uniq_ratio"))
      .filter(col("n_tokens") >= 5 && col("uniq_ratio") >= 0.3)
    val keepRep = TextOps.textRepetitionFilter(spark, dir)
      .filter(col("keep") === 1L).select("doc_id")
    val decontaminated = dedupDecontaminate(spark, dir).select("doc_id")
    val cut = dedupSubstringCut(spark, dir)
      .select(col("doc_id"), col("text_cut"), col("tokens_removed").as("tokens_cut"))
    quality
      .join(keepRep, Seq("doc_id"), "left_semi")
      .join(decontaminated, Seq("doc_id"), "left_semi")
      .join(dedupClusters(spark, dir).filter(col("is_canonical")), "doc_id")
      .join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("uniq_ratio"),
        col("cluster_size"),
        coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
        (col("n_tokens") - coalesce(col("tokens_cut"), lit(0L))).as("n_tokens_final"),
        coalesce(col("text_cut"), lit("")).as("text_cut"))
      .orderBy("doc_id")
  }

  /** `llm_curation_funnel` — the curation pipeline's OBSERVABILITY rollup:
    * per-stage (docs_in, docs_out, docs_dropped, tokens_in, tokens_out)
    * accounting for the exact stage sequence [[llmCorpusPipeline]] runs.
    * This is the datasheet a pipeline owner reads before trusting a
    * training corpus — "where did my tokens go" — and the regression
    * alarm (a decontamination stage suddenly dropping 40% of docs means
    * the benchmark slice leaked, not that the corpus got dirtier).
    *
    * Accounting semantics: stage k's input is the survivor set of stages
    * 1..k-1 (the pipeline's conjunctive composition), so the numbers are
    * the ones an operator actually observes between stages — a doc
    * failing both quality and repetition is charged to quality, the
    * stage that actually removed it. The substring-cut stage drops no
    * docs; its row shows the token mass the span cuts removed from the
    * final survivors.
    *
    * Plan shape: every per-stage verdict comes from the SAME operators
    * the pipeline itself runs (repetition keep-set, decontaminate
    * survivor set, cluster canonicals, cut accounting), joined once on
    * doc_id; the funnel then collapses to ONE wide aggregate row of
    * conditional sums (the [[graft.etl.EtlOps.etlQualityAudit]]
    * single-scan pattern) and a plan-local `stack` to six rows — no
    * per-stage scans, no window, driver state O(stages). */
  def llmCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    val base = t(spark, dir, "documents")
      .select(col("doc_id"),
        col("text").isNotNull.cast(LongType).as("ht"),
        when(col("text").isNotNull, size(tk).cast(LongType)).otherwise(0L).as("nt"),
        when(col("text").isNotNull &&
          size(tk) >= 5 &&
          size(array_distinct(tk)).cast(DoubleType) / size(tk) >= 0.3, 1L)
          .otherwise(0L).as("qok"))
    val rep = TextOps.textRepetitionFilter(spark, dir)
      .filter(col("keep") === 1L).select(col("doc_id"), lit(1L).as("rok"))
    val dec = dedupDecontaminate(spark, dir).select(col("doc_id"), lit(1L).as("dok"))
    val can = dedupClusters(spark, dir).filter(col("is_canonical"))
      .select(col("doc_id"), lit(1L).as("cok"))
    val cut = dedupSubstringCut(spark, dir)
      .select(col("doc_id"), col("tokens_removed").as("tc"))
    val flags = base
      .join(rep, Seq("doc_id"), "left")
      .join(dec, Seq("doc_id"), "left")
      .join(can, Seq("doc_id"), "left")
      .join(cut, Seq("doc_id"), "left")
      .select(col("ht"), col("nt"), col("qok"),
        coalesce(col("rok"), lit(0L)).as("rok"),
        coalesce(col("dok"), lit(0L)).as("dok"),
        coalesce(col("cok"), lit(0L)).as("cok"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      // conjunctive prefixes: c_k = survived stages 1..k
      .withColumn("c1", col("ht"))
      .withColumn("c2", col("c1") * col("qok"))
      .withColumn("c3", col("c2") * col("rok"))
      .withColumn("c4", col("c3") * col("dok"))
      .withColumn("c5", col("c4") * col("cok"))
    val a = flags.agg(
      count(lit(1)).as("n0"), sum("nt").as("t0"),
      sum("c1").as("n1"), sum(col("c1") * col("nt")).as("t1"),
      sum("c2").as("n2"), sum(col("c2") * col("nt")).as("t2"),
      sum("c3").as("n3"), sum(col("c3") * col("nt")).as("t3"),
      sum("c4").as("n4"), sum(col("c4") * col("nt")).as("t4"),
      sum("c5").as("n5"), sum(col("c5") * col("nt")).as("t5"),
      sum(col("c5") * col("tc")).as("cut5"))
    val stages = Seq(
      ("text_not_null", "n0", "n1", "t0", "t1"),
      ("quality_gate", "n1", "n2", "t1", "t2"),
      ("repetition_filter", "n2", "n3", "t2", "t3"),
      ("decontaminate", "n3", "n4", "t3", "t4"),
      ("cluster_dedup", "n4", "n5", "t4", "t5"),
      ("substring_cut", "n5", "n5", "t5", "t5 - cut5"))
    val stacked = stages.zipWithIndex.map { case ((nm, ni, no, ti, to), i) =>
      s"${i + 1}L, '$nm', $ni, $no, $ni - $no, $ti, $to"
    }.mkString(", ")
    a.select(expr(s"stack(${stages.size}, $stacked) AS " +
        "(stage_idx, stage, docs_in, docs_out, docs_dropped, tokens_in, tokens_out)"))
      .orderBy("stage_idx")
  }

  /** `dedup_decontaminate` — benchmark decontamination: drop every corpus
    * document that shares a 5-token shingle with the held-out benchmark
    * set, the overlap-removal pass a training pipeline runs so eval scores
    * measure generalization rather than memorization. The benchmark here is
    * the deterministic `doc_id % 97 == 0` slice (a real run reads the eval
    * suites); production systems use 8-13-token windows — 5 plays the same
    * role at this corpus's document length, and the matches it finds are
    * genuine near-duplicates, not chance collisions (verified: 1-2 flagged
    * docs per scale, each a shared-run overlap). Plan shape at scale:
    * benchmark suites are tiny next to a 100 TB corpus (at most ~10^7
    * distinct shingles), so the benchmark shingle set BROADCASTS and the
    * corpus side streams through a semi-join — one scan, no corpus shuffle;
    * the contaminated-id set broadcasts into the anti-join ONLY when it is
    * actually small: its size is the contamination count, which is usually
    * tiny but adversarially up to the whole corpus (imagine decontaminating
    * against a benchmark scraped FROM the corpus), so the hint is gated on a
    * measured count against `graft.decontaminate.broadcastIdLimit` (default
    * 5M ids ≈ 40 MB). Over the limit the anti-join degrades to a shuffle
    * equi-join on doc_id — same correctness, one more exchange — instead of
    * a driver/executor OOM from force-broadcasting an unbounded set. The
    * count needs the id set twice (decide + join), so it is locally
    * checkpointed. If the "benchmark" side ever grows beyond broadcast
    * size the same fallback applies to the first semi-join: dropping that
    * hint yields a shuffle equi-join on the shingle hash. Both sides join
    * on the shingles' xxhash64 (never a joined string): a false
    * contamination flag needs a cross-side 64-bit collision against the
    * benchmark set (~1e-8 at 10^7 benchmark x 10^9 corpus shingles), and
    * the join keys drop from ~40-byte strings to 8 bytes. */
  def dedupDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val isBench = col("doc_id") % 97 === 0
    val toksDf = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        split(col("text"), " ").as("tk"))
      .localCheckpoint() // barrier: keeps split() out of the shingle lambda (see shinglesOf)
    val grams = shingleHashesOf(col("tk"), 5)
    val benchGrams = toksDf.filter(isBench)
      .select(explode(grams).as("g")).distinct()
    val contaminated = toksDf.filter(!isBench)
      .select(col("doc_id"), explode(grams).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .localCheckpoint()
    val idLimit = spark.conf.getOption("graft.decontaminate.broadcastIdLimit")
      .map(_.toLong).getOrElse(5000000L)
    val nContaminated = contaminated.count()
    val contaminatedSide =
      if (nContaminated <= idLimit) broadcast(contaminated) else contaminated
    toksDf.filter(!isBench)
      .join(contaminatedSide, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** `dedup_substring` — exact repeated-SPAN detection, the substring-level
    * dedup pass (à la "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022) that doc-level and near-dup passes both miss:
    * a license header or boilerplate paragraph pasted into otherwise-unique
    * documents. Definition: a 10-token window is duplicated when its exact
    * token sequence occurs in MORE THAN ONE document (within-doc repetition
    * is [[TextOps.textRepetitionFilter]]'s signal, not this one); per doc,
    * overlapping/adjacent duplicated windows merge into maximal spans
    * `[span_start, span_end]` (1-based token positions) — the byte ranges a
    * training pipeline would cut.
    *
    * Plan shape at scale (suffix arrays don't shard; rolling windows do):
    * one typed pass emits (doc_id, pos, FNV-1a-64 of the window) — 24
    * bytes/window, never the text; cross-doc windows via a map-side-combined
    * groupBy on the hash with `min(doc_id) != max(doc_id)` (constant state —
    * no countDistinct, no per-gram position lists, so a boilerplate window
    * in 10^6 docs costs one row); a semi-join flags positions; the island
    * merge is a per-doc window function over only the FLAGGED positions (a
    * small fraction of the corpus). Two shuffles on the 8-byte hash + one on
    * doc_id, all equi — AQE-splittable if a hash is hot. A false span needs
    * a 64-bit collision landing in-span; at 10^9 windows the expected count
    * is ~0.03 windows corpus-wide. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val L = 10
    import spark.implicits._
    // checkpointed: feeds both the dup-window aggregate and the semi-join probe
    val grams = t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val tk = toks(text)
          val n = tk.length - (L - 1)
          (0 until n).iterator.map { i =>
            var h = 0xcbf29ce484222325L // FNV-1a over the L tokens, space-joined
            var j = i
            while (j < i + L) {
              val s = tk(j)
              var c = 0
              while (c < s.length) { h = (h ^ s.charAt(c)) * 1099511628211L; c += 1 }
              if (j < i + L - 1) h = (h ^ ' ') * 1099511628211L
              j += 1
            }
            (id, (i + 1).toLong, h)
          }
        }
      }.toDF("doc_id", "pos", "h")
      .localCheckpoint()
    val dupWindows = grams.groupBy("h")
      .agg((min("doc_id") =!= max("doc_id")).as("crossdoc"))
      .filter(col("crossdoc")).select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    grams.join(dupWindows, Seq("h"), "left_semi")
      // windows at pos p cover [p, p+L-1]: a gap > L tokens between
      // consecutive flagged positions means the spans neither overlap nor
      // touch — close the island there
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > L, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (L - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** `dedup_substring_cut` — APPLY the spans [[dedupSubstring]] reports: for
    * every document, the text with all duplicated spans removed (tokens at
    * 1-based positions inside any merged span dropped, survivors re-joined
    * with single spaces) plus the removed-token count. This is the
    * operator's actual payoff (Lee et al. 2022 cut the spans; reporting
    * them is only the diagnosis), and it pins the span arithmetic — 1-based,
    * inclusive, merge-adjacent — end to end under the oracle.
    *
    * Plan shape at scale: the span frame is a small fraction of the corpus
    * (only flagged docs have rows) and aggregates to one array per affected
    * doc; the corpus joins it on doc_id (equi shuffle, AQE-broadcastable
    * when contamination is light) and the cut itself is one codegen'd
    * higher-order filter over the token array — no explode, the shuffle
    * never carries per-token rows. Spans per doc are bounded by
    * n_tokens/L, so the collected array cannot exceed the document's own
    * size — no skew beyond the corpus's own document-length skew. */
  def dedupSubstringCut(spark: SparkSession, dir: String): DataFrame = {
    val spansAgg = dedupSubstring(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
        sum("span_tokens").as("tokens_removed"))
    val inSpan = (pos1: Column) => exists(col("spans"),
      s => pos1 >= s("span_start") && pos1 <= s("span_end"))
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .join(spansAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          // spans is null for untouched docs: exists(null) is null, and
          // coalesce-to-keep makes that "not in any span" instead of
          // letting the filter drop the token on a null predicate
          filter(col("tk"), (tok, i) => coalesce(!inSpan(i + 1), lit(true))),
          " ").as("text_cut"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
      .orderBy("doc_id")
  }

  /** `dedup_embedding_cosine` — near-dup pairs by cosine >= 0.95 over the
    * embedding column. Candidates via random-hyperplane LSH (256
    * fixed-seed sign planes in bands of ~log2(n) bits — see
    * [[embeddingCosinePairs]] for the width rule), exact double-precision
    * cosine verification. Same shape as MinHash-LSH: signature scan →
    * band bucket join (ids only) → verify with vectors joined back in.
    *
    * The input is the embeddings table augmented with DETERMINISTIC planted
    * near-dups, derived from the data itself (same move as `dedup_url`'s
    * in-query URL variants): for each vector i with a successor i+1, plant
    * `vec_id + 1_000_000` = `0.9*v_i + 0.1*v_{i+1}`. Its cosine against
    * v_i is >= 0.995 for ANY corpus (||0.9v+0.1w|| <= 0.906 when
    * |cos(v,w)| <= 0.6, and random 64-dim corpora max out well below
    * that), while every other pairing stays far under 0.95 — so the key
    * returns exactly one planted pair per source vector under any testdata
    * regeneration instead of the vacuous 0-row match r10 flagged; LSH
    * miss probability at cosine 0.995 is ~5e-7/pair. The oracle builds the
    * identical augmentation (same `0.9*a[i] + 0.1*b[i]` op order) and
    * verifies by exhaustive cosine, so the LSH path is genuinely checked
    * for full recall on the plants. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    // derive dimensionality from the data: a hardcoded mismatch would
    // silently zero the sign bits (null-poisoned zip_with) and collapse
    // every vector into one bucket
    val dim = graft.Tables.embeddingDim(spark, dir)
    embeddingCosinePairs(spark, augmentedEmbeddings(spark, dir), dim, 0.95)
  }

  /** The embeddings table augmented with the deterministic planted
    * near-dups [[dedupEmbeddingCosine]] documents (vec_id+1e6 =
    * 0.9·v_i + 0.1·v_{i+1}) — shared by every embedding-dedup key so all of
    * them exercise a corpus that provably CONTAINS near-duplicates under
    * any testdata regeneration. */
  private[graft] def augmentedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val planted = base.as("a")
      .join(base.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(
        (col("a.vec_id") + 1000000L).as("vec_id"),
        zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => lit(0.9) * x.cast(DoubleType) + lit(0.1) * y.cast(DoubleType))
          .as("embedding"))
    base.unionByName(planted)
  }

  /** `dedup_semantic` — SemDeDup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023): cluster
    * the corpus with the IVF coarse quantizer, then WITHIN each cluster drop
    * every vector whose cosine to an earlier-ordered cluster member exceeds
    * the threshold. The published ordering is by distance to the cluster
    * centroid, farthest first (the paper found keeping low
    * centroid-similarity examples best preserves downstream accuracy) —
    * here (d2c DESC, vec_id ASC), so the rule is the paper's upper-
    * triangular max-similarity filter made deterministic: keep i iff no j
    * with (d2c_j, -vec_id_j) > (d2c_i, -vec_id_i) in the same cell has
    * cosine(i,j) >= 0.95.
    *
    * That per-pair rule (drop on ANY earlier near-neighbor, kept or not) is
    * exactly the reference implementation's triu(sim)·max > eps test — a
    * pure per-row predicate, no sequential greedy state, so the whole pass
    * is two joins: an ids-only within-cell candidate join and a vector
    * re-join for the cosine verify (the MinHash-LSH shape).
    *
    * Scale: within-cell pairwise is SemDeDup's own cost model — the cluster
    * count grows with the corpus (FAISS ~sqrt(n) rule, [[Similarity.IvfK]])
    * so per-cell volume, and with it the candidate join's output per cell,
    * stays bounded; clusters shard across executors by the cell-key
    * shuffle. K-means clustering is not SQL-expressible → rows-only driver
    * check; the spec mirrors the full rule exactly on collected data. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val threshold = 0.95
    val assigned = semanticAssignment(spark, dir)

    // ids-only candidate pairs: same cell, j strictly earlier than i in
    // (d2c desc, vec_id asc) order — the vector payload joins back in only
    // for the cosine verify, so the within-cell quadratic carries 3 longs +
    // a double per pair, not 2×dim doubles
    val ids = assigned.select(col("vec_id"), col("cell"), col("d2c"))
    val earlier = (col("j.d2c") > col("i.d2c")) ||
      (col("j.d2c") === col("i.d2c") && col("j.vec_id") < col("i.vec_id"))
    val cand = ids.as("i").join(ids.as("j"),
        col("i.cell") === col("j.cell") && earlier)
      .select(col("i.vec_id").as("vi"), col("j.vec_id").as("vj"))

    val vecs = assigned.select(col("vec_id"), col("v"))
    val dups = cpuStageRepartition(
        cand.join(vecs.select(col("vec_id").as("vi"), col("v").as("va")), "vi"),
        col("vj"))
      .join(vecs.select(col("vec_id").as("vj"), col("v").as("vb")), "vj")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("vi").as("vec_id"))
      .distinct()

    assigned
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("dup"), lit(true)).as("kept"))
      .orderBy("vec_id")
  }

  /** [[dedupSemantic]]'s (vec_id, v, cell, d2c) frame: the augmented
    * corpus assigned to its IVF cells, checkpointed because the candidate
    * self-join, the vector re-joins and the final projection all read it.
    * The spec mirrors the SemDeDup rule from it. */
  private[graft] def semanticAssignment(spark: SparkSession, dir: String): DataFrame = {
    val emb = augmentedEmbeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    Similarity.assignCells(emb, Similarity.trainedCentroids(spark, dir)).localCheckpoint()
  }

  /** Core of `dedup_embedding_cosine`, reusable on any (vec_id, embedding)
    * frame (the query key binds it to the testdata embeddings table). */
  def embeddingCosinePairs(spark: SparkSession, emb: DataFrame, dim: Int,
                           threshold: Double): DataFrame = {
    // Band WIDTH scales with log2(n) (floor 16, cap 24): a random
    // (near-orthogonal) pair collides in a band w.p. 2^-bits, so FIXED bits
    // make the random-collision candidate mass Θ(n²·2^-bits) — the same
    // defect class as the fixed IVF nlist probe #20 caught: invisible at
    // 1× where planted pairs dominate, the dominant term by 100×
    // (probe #21 measured the key at exponent 2.1/decade under 16 fixed
    // bits; n=200k ⇒ ~10M random candidates vs ~200k plants). With
    // bits ≈ log2(n), per-band collision ≈ 1/n and candidate mass stays
    // ~n·bands — linear by construction. Recall: a planted near-dup at
    // cosine ≥ 0.995 agrees per-plane w.p. 0.968, so at the cap
    // (24 bits / 10 bands) it misses every band w.p. ≤ (1-0.968²⁴)¹⁰
    // ≈ 2e-7; past ~16M vectors one raises nPlanes to keep ≥ 10 bands
    // rather than widening further.
    val nPlanes = 256
    // checkpointed: the count, the signature pass and both verify sides read it
    val vecs = emb
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
      .localCheckpoint()
    val nVec = vecs.count()
    val bandBits = math.min(24, math.max(16,
      math.ceil(math.log(math.max(nVec, 2).toDouble) / math.log(2)).toInt))
    val nBands = nPlanes / bandBits
    val planes = Array.tabulate(nPlanes) { p =>
      val rnd = new scala.util.Random(9000 + p)
      Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    }

    import spark.implicits._
    val bands = vecs.as[(Long, Seq[Double])].mapPartitions { rows =>
      rows.flatMap { case (vecId, v) =>
        val arr = v.toArray
        val bits = new Array[Int](nPlanes)
        var p = 0
        while (p < nPlanes) {
          var s = 0.0
          val w = planes(p)
          var i = 0
          while (i < dim && i < arr.length) { s += arr(i) * w(i); i += 1 }
          bits(p) = if (s > 0) 1 else 0
          p += 1
        }
        (0 until nBands).map { b =>
          var key = 0L
          var i = b * bandBits
          while (i < (b + 1) * bandBits) { key = key * 2 + bits(i); i += 1 }
          (vecId, b, key)
        }
      }
    }.toDF("vec_id", "band", "key")
    // both sides of the self-join shuffle the identical plan: one
    // hyperplane pass, read back as a ReusedExchange

    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()

    // the canonical fold-order-sensitive definitions live in Similarity —
    // one copy, so the oracle-mirrored arithmetic cannot drift. The
    // cpuStageRepartition keeps the O(dim) cosine predicate stage at full
    // parallelism.
    cpuStageRepartition(
        candidates.join(vecs.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a"),
        col("vec_b"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }
}
