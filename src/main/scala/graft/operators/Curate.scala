package graft.operators

import graft.functions.{Hashing, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a pre-training data pipeline
  * actually runs, built entirely from the engine's verified operators:
  *
  *   1. quality gate: length + repetition filters (TextAnalysis features);
  *   2. near-dup removal: MinHash+LSH candidate pairs (banded equi-join — no
  *      quadratic step outside tiny band buckets) → connected components →
  *      keep only cluster survivors (min doc id);
  *   3. the survivors of both gates, ready for sampling/sharding.
  *
  * Each stage is a narrowing filter, so the expensive pair step only ever
  * sees quality-passing docs. At 100 TB: stage 1 is a projection at scan
  * speed; stage 2's shuffles carry minhash longs, hashed token sets and
  * (id, component) labels, never raw text. The default candidate generator
  * is LSH ([[Dedup.minhashNearDupPairs]]); the block-scoped all-pairs
  * variant ([[Dedup.jaccardPairs]]) remains available for corpora with many
  * small natural blocks, where exact recall matters more than the N²/|blocks|
  * pair cost.
  */
object Curate {

  final case class Config(
      minChars: Int = 100,
      maxRepetition: Double = 0.65,
      neardupThreshold: Double = 0.9,
      /** LSH (scale-safe, default) vs exact all-pairs within [[blockCol]]. */
      useLsh: Boolean = true,
      minhashK: Int = 8,
      bands: Int = 4,
      minAgree: Int = 4,
      blockCol: String = "source",
  )

  /** Near-dup candidate pair generation for the configured strategy —
    * exposed so plan tests can assert the LSH path never block-joins.
    */
  def candidatePairs(quality: DataFrame, cfg: Config): DataFrame =
    if (cfg.useLsh)
      Dedup.minhashNearDupPairs(
        quality, "doc_id", "text",
        k = cfg.minhashK, bands = cfg.bands,
        threshold = cfg.neardupThreshold, minAgree = cfg.minAgree,
      )
    else
      Dedup.jaccardPairs(quality, "doc_id", "text", cfg.blockCol, cfg.neardupThreshold)

  /** Returns the curated corpus: input rows that pass the quality gate and
    * are their near-dup cluster's survivor (or belong to no cluster).
    */
  def curate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val toks = TextAnalysis.wsTokens(col("text"))
    // materialize the gated corpus once — it fans out into the pair branch
    // AND the final anti-join left side (two full re-scans otherwise)
    val quality = docs
      .filter(
        length(col("text")) >= cfg.minChars &&
          (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)) <= cfg.maxRepetition
      )
      .transform(Lineage.truncate(_))
    val pairs = candidatePairs(quality, cfg)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nonSurvivors = Dedup
      .connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    quality.join(nonSurvivors, Seq("doc_id"), "left_anti")
  }

  /** Leakage-safe train/val/test split: near-duplicate docs MUST land in the
    * same split (a hash-of-content split — q70 — sends two 0.9-Jaccard
    * variants of one document to train and test, leaking the eval set). So
    * the split key is the near-dup CLUSTER, not the doc: candidate pairs →
    * connected components → every doc in a component buckets on the
    * component's MINIMUM content hash (content-derived, so the assignment
    * is stable across dataset versions and engines; singletons degenerate
    * to exactly q70's per-doc rule).
    *
    * Scale design: the cluster-hash aggregation and the split join are both
    * keyed on the component id — one shuffle each over (id, long) pairs,
    * never text; the pair/CC machinery is the same verified LSH path as
    * [[curate]].
    */
  def clusterSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10,
  ): DataFrame = {
    require(trainPct + valPct < 100, s"train+val must leave room for test: $trainPct+$valPct")
    val cc = Dedup.connectedComponents(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    // two consumers (cluster-hash agg + the split join) — materialize the
    // narrow (id, cluster, hash) projection once so the docs↔components
    // join and the full-text hash run exactly once
    val withComp = Lineage.truncate(
      docs
        .join(cc, docs(idCol) === cc("id"), "left_outer")
        .select(
          col(idCol),
          coalesce(col("comp"), col(idCol)).as("cluster_id"),
          Hashing.hash64(col(textCol)).as("__h"),
        )
    )
    val clusterHash = withComp
      .groupBy(col("cluster_id"))
      .agg(min(col("__h")).as("__ch"))
    val bucket = col("__ch") % 100
    withComp
      .join(clusterHash, Seq("cluster_id"))
      .select(
        col(idCol),
        col("cluster_id"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test")
          .as("split"),
      )
  }
}
