package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t
import graft.llm.{Dedup, TextOps}

/** The LLM curation pipeline under the SAME operational contract as the
  * Ethereum export DAG (A12 / export_pipeline_template.py:49,136-137):
  * per-stage retry budget, cascade failure, idempotent full-path-overwrite
  * Parquet STAGING between stages, and the dead-letter surface.
  *
  * `llm_corpus_pipeline` (Dedup.llmCorpusPipeline) composes the five
  * curation passes as ONE Spark plan — the right shape for a healthy run.
  * This is the operational form of the same DAG: each stage checkpoints its
  * survivor set to Parquet, so a retry replays only the failed stage from
  * its upstream's staged output (never the upstream passes themselves), a
  * stage that exhausts its budget cascade-fails its dependents without
  * evaluating them, and a half-written stage output is harmless because
  * every attempt is a full-path overwrite. At 100 TB this is the difference
  * between re-running a day of curation and re-running one pass: the staged
  * Parquet between stages is exactly the reference's staged export files,
  * with the curation passes in place of the table exports.
  *
  * Stage semantics mirror `llmCorpusPipeline` EXACTLY (the spec pins result
  * equality with the composed operator): corpus-wide signals — repetition
  * stats, contamination ids, near-dup clusters, duplicated spans — are
  * computed over the FULL corpus inside their stage (a near-duplicate still
  * votes its cluster's canonical even though an earlier gate dropped it),
  * while the per-document survivor set threads conjunctively through the
  * staged checkpoints. Each corpus-wide frame is built once, inside its
  * own stage, so the staged form re-reads small checkpoints but never
  * re-tokenizes the corpus per stage.
  */
object CurationPipeline {

  /** Stage names in DAG order; each depends on its predecessor. */
  val StageNames: Seq[String] =
    Seq("quality", "repetition", "decontaminate", "near_dup", "substring_cut")

  /** Run the curation DAG. Only `maxRetries` and `stageInterceptor` (the
    * fault-injection seam) are read from the config — the stage set is
    * fixed, unlike the flag-gated export DAG. The stages form a chain, so
    * [[StageRunner]] runs them one at a time, in declaration order. */
  def run(spark: SparkSession, cfg: PipelineConfig, dir: String,
          outDir: String): PipelineResult = {
    val runner = new StageRunner(cfg.maxRetries)
    val out = TrieMap.empty[String, DataFrame]

    def finish(name: String, df: DataFrame): DataFrame = {
      val staged = cfg.stageInterceptor(name, df)
      staged.write.mode("overwrite").parquet(s"$outDir/$name")
      // read back with the explicit schema: an empty survivor set writes no
      // data files and schema inference over zero files fails
      val back = spark.read.schema(staged.schema).parquet(s"$outDir/$name")
      out(name) = back
      back
    }

    val tk = split(col("text"), " ")
    // stage 1: quality gate (token count + unique-token ratio)
    runner.stage("quality")(_ =>
      finish("quality", t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(tk).cast(LongType).as("n_tokens"),
          (size(array_distinct(tk)).cast(DoubleType) / size(tk)).as("uniq_ratio"))
        .filter(col("n_tokens") >= 5 && col("uniq_ratio") >= 0.3)))
    // stage 2: Gopher-style repetition filter on the staged survivors
    runner.stage("repetition", "quality")(up =>
      finish("repetition", up("quality").join(
        TextOps.textRepetitionFilter(spark, dir)
          .filter(col("keep") === 1L).select("doc_id"),
        Seq("doc_id"), "left_semi")))
    // stage 3: benchmark decontamination (full-corpus contamination ids)
    runner.stage("decontaminate", "repetition")(up =>
      finish("decontaminate", up("repetition").join(
        Dedup.dedupDecontaminate(spark, dir).select("doc_id"),
        Seq("doc_id"), "left_semi")))
    // stage 4: near-dup cluster dedup — clusters computed on the FULL
    // corpus, survivors keep only their cluster's canonical
    runner.stage("near_dup", "decontaminate")(up =>
      finish("near_dup", up("decontaminate")
        .join(Dedup.dedupClusters(spark, dir).filter(col("is_canonical")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("uniq_ratio"),
          col("cluster_size"))))
    // stage 5: substring-span cut applied to the survivors (spans detected
    // corpus-wide); output schema == llmCorpusPipeline's
    runner.stage("substring_cut", "near_dup") { up =>
      val cut = Dedup.dedupSubstringCut(spark, dir)
        .select(col("doc_id"), col("text_cut"), col("tokens_removed").as("tokens_cut"))
      finish("substring_cut", up("near_dup")
        .join(cut, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("uniq_ratio"),
          col("cluster_size"),
          coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
          (col("n_tokens") - coalesce(col("tokens_cut"), lit(0L))).as("n_tokens_final"),
          coalesce(col("text_cut"), lit("")).as("text_cut")))
    }

    val stages = runner.run() // before out.toMap: the stages fill `out`
    PipelineResult(out.toMap, stages)
  }

  /** `llm_corpus_pipeline_staged` — the staged DAG as a query key: run the
    * pipeline (healthy config) into a scratch dir, fail loudly if any stage
    * did not succeed, and return the final staged table. Its oracle is the
    * SAME SQL as `llm_corpus_pipeline`: the staged execution must be
    * indistinguishable from the composed single-plan execution. Every call
    * runs the full staged write, like the other write-then-read sink keys. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val res = run(spark, PipelineConfig(), dir, graft.Tables.scratchDir("curation"))
    val bad = res.stages.collect {
      case (n, s) if !s.isInstanceOf[StageStatus.Succeeded] => s"$n: $s"
    }
    require(bad.isEmpty, s"curation stages failed: ${bad.mkString("; ")}")
    res.tables("substring_cut").orderBy("doc_id")
  }
}
