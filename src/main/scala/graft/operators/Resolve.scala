package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity-resolution pair scoring (Fellegi–Sunter shape with fixed integer
  * agreement weights): enumerate candidate pairs inside blocking-key groups,
  * score each pair as the sum of per-field agreement weights, and keep pairs
  * at or above a match threshold. The deterministic, oracle-mirrorable core
  * of a record-linkage pipeline — learned weights would slot into the same
  * dataflow as a weights table.
  *
  * Field comparators are arbitrary Columns over the input row (bands,
  * prefixes, phonetic codes …), compared null-safely (`<=>`): two nulls
  * AGREE — the SQL `IS NOT DISTINCT FROM` rule — so absent fields behave
  * identically cross-engine.
  */
object Resolve {

  /** Score all (id_a < id_b) pairs within each block.
    *
    * Scale design: the comparator PROJECTION runs once per row before the
    * self-join (never per pair — a pair evaluates `fields.size` equality
    * checks on precomputed values); the join shuffles the block key plus
    * one fixed-width column per field, never raw records. Inherits
    * [[Dedup.requireBoundedGroups]]' loud pre-flight: a block larger than
    * `maxBlockRows` fails with the B² estimate instead of running it.
    *
    * Output: (id_a, id_b, score, matched) for every in-block pair with
    * `score >= minScore` — pass `minScore = threshold` to keep matches
    * only, or a lower floor to audit the near-miss band; `matched` flags
    * `score >= threshold` either way.
    */
  def scorePairs(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      fields: Seq[(Column, Int)],
      threshold: Int,
      minScore: Int,
      maxBlockRows: Long = 10000L,
  ): DataFrame = {
    require(blockCols.nonEmpty, "scorePairs: need at least one blocking column")
    require(fields.nonEmpty, "scorePairs: need at least one field comparator")
    require(fields.forall(_._2 > 0), "scorePairs: agreement weights must be positive")
    val projected = Lineage.truncate(
      df.select(
        col(idCol).as("id") +:
          blockCols.map(col) ++:
          fields.zipWithIndex.map { case ((c, _), i) => c.as(s"__f$i") }: _*
      )
    )
    Dedup.requireBoundedGroups(
      projected.select(blockCols.map(col): _*),
      blockCols,
      maxBlockRows,
      (key, n) =>
        s"scorePairs: block ($key) of (${blockCols.mkString(", ")}) has $n rows (> maxBlockRows=$maxBlockRows): " +
          s"the within-block scoring would enumerate ~${n * n / 2} pairs. Tighten the blocking key or " +
          "raise maxBlockRows deliberately.",
    )
    val blockEq = blockCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _)
    val score = fields.zipWithIndex
      .map { case ((_, w), i) => when(col(s"l.__f$i") <=> col(s"r.__f$i"), w).otherwise(0) }
      .reduce(_ + _)
    projected
      .as("l")
      .join(projected.as("r"), blockEq && col("l.id") < col("r.id"))
      .withColumn("score", score)
      .filter(col("score") >= minScore)
      .select(
        col("l.id").as("id_a"),
        col("r.id").as("id_b"),
        col("score"),
        (col("score") >= threshold).as("matched"),
      )
  }

  /** Edit-distance near-duplicate pairs: (id_a < id_b) pairs agreeing on a
    * blocking key (the first `blockChars` characters) whose length gap is
    * <= `maxLenDiff` and whose `compareChars`-char prefixes are within
    * Levenshtein distance `maxDist` — the typo-tolerant matcher MinHash
    * (set-based) and SimHash (bit-based) can't express, since both are
    * blind to character ORDER inside a token.
    *
    * Recall contract (by construction, not tuning): a pair is found iff the
    * edits leave the first `blockChars` characters untouched — the
    * canonical blocked-Levenshtein trade (cf. prefix blocking in
    * sorted-neighborhood linkage). Pairs differing inside the block prefix
    * need [[scorePairs]]' multi-key blocking or q150's sliding windows.
    *
    * Scale design: the O(s²) Levenshtein DP runs only on in-block,
    * length-banded candidates over FIXED `compareChars`-char prefixes (cost
    * per pair is a constant, not |doc|²); the length-band filter is a
    * cheap integer predicate evaluated before the DP. The projection
    * (id, block, len, prefix) is materialized once and shuffled by block —
    * raw documents never move. Oversized blocks fail loudly pre-join.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockChars: Int,
      compareChars: Int,
      maxLenDiff: Int,
      maxDist: Int,
      maxBlockRows: Long = 10000L,
  ): DataFrame = {
    val projected = Lineage.truncate(
      df.select(
        col(idCol).as("id"),
        substring(col(textCol), 1, blockChars).as("__blk"),
        length(col(textCol)).cast("long").as("__len"),
        substring(col(textCol), 1, compareChars).as("__pfx"),
      )
    )
    Dedup.requireBoundedGroups(
      projected.select(col("__blk")),
      Seq("__blk"),
      maxBlockRows,
      (key, n) =>
        s"editDistancePairs: prefix block ($key) has $n rows (> maxBlockRows=$maxBlockRows): " +
          s"the within-block DP would enumerate ~${n * n / 2} pairs. Raise blockChars (more, " +
          "smaller blocks) or raise maxBlockRows deliberately.",
    )
    projected
      .as("l")
      .join(
        projected.as("r"),
        col("l.__blk") === col("r.__blk") && col("l.id") < col("r.id") &&
          abs(col("l.__len") - col("r.__len")) <= maxLenDiff,
      )
      .withColumn("dist", levenshtein(col("l.__pfx"), col("r.__pfx")))
      .filter(col("dist") <= maxDist)
      .select(
        col("l.id").as("id_a"),
        col("r.id").as("id_b"),
        col("l.__len").as("len_a"),
        col("r.__len").as("len_b"),
        col("dist"),
      )
  }

  /** Golden-record fusion — the master-data step AFTER pair matching:
    * matched pairs close transitively into clusters
    * ([[Dedup.connectedComponents]] over the match graph, which is tiny
    * relative to the entity table), every entity lands in a cluster
    * (unmatched rows become singletons via `coalesce(comp, id)` — never
    * dropped), and each cluster fuses to ONE survivor row:
    *
    *  - `fuseFirst` attributes take the first NON-NULL value in id order
    *    (`min_by` over the (isnull, id) struct — deterministic because ids
    *    are unique, and a null-heavy duplicate can't shadow a complete one);
    *  - `fuseMax` attributes take the cluster maximum (completeness-style
    *    survivorship for monotone fields — balances, last-seen dates).
    *
    * Scale: the CC runs on match edges only; the fusion is ONE
    * cluster-keyed aggregation of the entity table after an id-keyed left
    * join against the (node, comp) labels — AQE broadcasts the label side
    * when the matched subset is small, and the join stays a co-partitioned
    * shuffle when it isn't (label cardinality can approach entity count,
    * so a forced broadcast would be wrong by construction).
    */
  def goldenRecords(
      entities: DataFrame,
      idCol: String,
      matchedPairs: DataFrame,
      fuseFirst: Seq[String],
      fuseMax: Seq[String],
  ): DataFrame = {
    require(fuseFirst.nonEmpty || fuseMax.nonEmpty, "goldenRecords: need at least one fused attribute")
    val comps = Dedup
      .connectedComponents(matchedPairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as(idCol), col("comp"))
    val members = entities
      .join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val firstAggs = fuseFirst.map(a => min_by(col(a), struct(col(a).isNull.cast("int"), col(idCol))).as(a))
    val maxAggs   = fuseMax.map(a => max(col(a)).as(a))
    val aggs      = (count(lit(1)).as("n_members") +: (firstAggs ++ maxAggs))
    members
      .groupBy(col("comp"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
