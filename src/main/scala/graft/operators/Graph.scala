package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over an edge relation. Connected components (the
  * near-dup clustering primitive) live in [[Dedup]]; this hosts the
  * rank-propagation family and the co-occurrence edge builder.
  */
object Graph {

  /** Co-occurrence edge relation: items sharing at least `minSupport`
    * distinct activity buckets become an undirected edge `(a < b, sup)`.
    * This is the standard graph-construction step ahead of
    * [[triangleCounts]] / [[labelPropagation]] — and the classic quadratic
    * trap: the within-bucket self-join emits `n·(n−1)/2` rows per bucket
    * BEFORE the support filter can drop anything, so one hot bucket (a
    * popular event type in a busy hour, a stopword shingle) silently owns
    * the job. Engine policy, not caller luck: a pre-flight per-bucket count
    * fails LOUDLY when any bucket exceeds `maxBucketRows` (the
    * [[Dedup.jaccardPairs]] `maxBlockRows` stance), which makes this
    * operator EAGER — one small count job at call time.
    *
    * Scale design: the distinct (bucket, item) projection is materialized
    * once and feeds the guard plus both self-join sides; the join is an
    * equi-join on the bucket key (shuffle carries fixed-width ids, never
    * payload), and the pair aggregation map-side combines. At 100 TB the
    * guard is the contract: cap or sample per-bucket membership upstream
    * (top-N items per bucket) rather than raising the bound blindly.
    */
  def cooccurrenceEdges(
      df: DataFrame,
      itemCol: String,
      bucketCols: Seq[String],
      minSupport: Long,
      maxBucketRows: Long = 100000L,
  ): DataFrame = {
    require(bucketCols.nonEmpty, "cooccurrenceEdges: need at least one bucket column")
    val b = Lineage.truncate(
      df.select((bucketCols :+ itemCol).map(col): _*).distinct()
    )
    val oversized = b
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      val r = oversized.head
      val n = r.getLong(bucketCols.length)
      val key = bucketCols.zipWithIndex.map { case (c, i) => s"$c=${r.get(i)}" }.mkString(", ")
      throw new IllegalStateException(
        s"cooccurrenceEdges: bucket ($key) has $n distinct items (> maxBucketRows=$maxBucketRows): " +
          s"the within-bucket pairing would enumerate ~${n * n / 2} pairs before the support filter. " +
          "Cap or sample per-bucket membership upstream (e.g. top-N items per bucket), or raise " +
          "maxBucketRows deliberately."
      )
    }
    val joinCond = bucketCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
      col(s"l.$itemCol") < col(s"r.$itemCol")
    // [[Pin.byKey]]: structural reduce parallelism for the within-bucket
    // pairing (AQE byte-coalescing collapses it to one task otherwise).
    val pinned = Pin.byKey(b, bucketCols.map(col): _*)
    // MERGE-hinted like the banding self-join: one pinned exchange reused
    // by both sides; no build-side shuffle discarded under a toy-SF
    // broadcast (broadcast is never right for a same-sized self-join).
    pinned
      .as("l")
      .hint("merge")
      .join(pinned.as("r").hint("merge"), joinCond)
      .groupBy(col(s"l.$itemCol").as("a"), col(s"r.$itemCol").as("b"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
  }

  /** Fixed-iteration PageRank with damping 0.85, integer-exact across
    * engines: ranks are scaled longs (1e6 = rank 1.0) and one iteration is
    * {{{ rank'(v) = 150000 + (85 * sum_{u->v} (rank(u) div outdeg(u))) div 100 }}}
    * — per-edge contributions and the damping factor use truncating integer
    * division, so every iteration is an order-independent integer sum (no
    * double accumulation to mirror; the cost is ≤1e-6 rank units of floor
    * truncation per edge, irrelevant for ranking). Mass through dangling
    * nodes (no out-edges) is dropped, the common simplification; a fixed
    * iteration count (not convergence detection) keeps the oracle
    * expressible as a plain chained-CTE SQL query.
    *
    * `danglingMass = true` switches to the standard redistribute-to-all
    * variant: each iteration the summed rank of dangling nodes is divided
    * (truncating) by |V| and added to every node's inflow BEFORE damping —
    * still integer-exact, one extra |V|-row anti-join + scalar aggregate
    * per iteration (the scalar broadcasts back). Use it on graphs with
    * sinks where total-mass conservation matters.
    *
    * `saltBuckets > 1` salts the per-iteration ranks→edges join via
    * [[SkewJoin.saltedJoin]]: a hub node (every real web graph has one)
    * concentrates its out-edges on one reducer every iteration; salting
    * spreads them over `saltBuckets` at the cost of replicating the
    * |V|-row rank table `saltBuckets`×. Results are bit-identical (the
    * inflow sum is an order-independent integer sum).
    *
    * Scale design: each iteration is the canonical two-shuffle plan — join
    * ranks (|V| rows, fixed-width) to edges on src, then re-aggregate by
    * dst; the edge list itself never mutates, so at cluster scale you
    * pre-partition BOTH edge tables by key once (bucketing) and every
    * iteration's join is co-located. Lineage is truncated per iteration
    * ([[Lineage.truncate]] — the `spark.graft.reliableCheckpoints` knob
    * applies), so the plan doesn't grow with the iteration count.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      saltBuckets: Int = 1,
      danglingMass: Boolean = false,
  ): DataFrame = {
    require(iters >= 1 && iters <= 100, s"pageRank: iters must be in [1, 100]: $iters")
    require(saltBuckets >= 1 && saltBuckets <= 1024, s"pageRank: saltBuckets must be in [1, 1024]: $saltBuckets")
    // Edge set, node list, and out-degrees are reused by EVERY iteration's
    // joins — materialize each once (off the materialized edge set, not the
    // raw plan, or each iteration re-runs the caller's edge-building query).
    val ej = Lineage.truncate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = Lineage.truncate(
      ej.select(col("src").as("node")).union(ej.select(col("dst").as("node"))).distinct()
    )
    val oj = Lineage.truncate(ej.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).withColumnRenamed("src", "node"))
    // |V| is iteration-invariant — materialize the 1-row aggregate once.
    val nv = if (danglingMass) Lineage.truncate(nodes.agg(count(lit(1)).as("__nv"))) else null
    var ranks = nodes.withColumn("rank_s", lit(1000000L))
    for (i <- 1 to iters) {
      // Inner join: nodes without out-edges contribute nothing by definition.
      val withDeg = ranks.join(oj, "node")
      val contrib =
        if (saltBuckets == 1)
          ej.join(withDeg, ej("src") === withDeg("node"))
            .select(ej("dst").as("dst"), expr("rank_s div outdeg").as("c"))
        else
          SkewJoin
            .saltedJoin(ej, withDeg.withColumnRenamed("node", "src"), "src", col("dst"), saltBuckets)
            .select(col("dst"), expr("rank_s div outdeg").as("c"))
      val inflow = contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_s"))
      val next =
        if (danglingMass) {
          // dangling mass this round: ranks of nodes with no out-edges,
          // redistributed as a broadcast scalar (dang div |V| each).
          val dang = ranks
            .join(oj, Seq("node"), "left_anti")
            .agg(coalesce(sum(col("rank_s")), lit(0L)).as("__dang"))
            .crossJoin(nv)
          nodes
            .join(inflow, col("node") === col("dst"), "left_outer")
            .crossJoin(broadcast(dang))
            .select(
              col("node"),
              (lit(150000L) + expr("85 * (coalesce(in_s, CAST(0 AS BIGINT)) + __dang div __nv) div 100"))
                .as("rank_s"),
            )
        } else
          nodes
            .join(inflow, col("node") === col("dst"), "left_outer")
            .select(
              col("node"),
              (lit(150000L) + expr("85 * coalesce(in_s, CAST(0 AS BIGINT)) div 100")).as("rank_s"),
            )
      // LAZY truncation: pageRank has no per-round driver action (unlike
      // CC's convergence check), so the caller's single action materializes
      // every round's checkpoint in one cascading job instead of one
      // blocking job per round.
      ranks = if (i == iters) next else Lineage.truncate(next, eager = false)
    }
    ranks
  }

  /** Per-node triangle participation counts over an undirected graph given
    * as canonical `src < dst` edges — the numerator of the local clustering
    * coefficient (community-density / bot-ring signal).
    *
    * Scale design: degree-ordered orientation — every edge points at its
    * higher-`(degree, id)` endpoint, wedges open only at the orientation
    * minimum, and each triangle `{p ≺ q ≺ r}` (in that total order) is
    * enumerated exactly once as wedge `(p→q, p→r)` closed by `q→r`, then
    * credits all three corners. Under this orientation out-degree is
    * bounded by `O(√(2m))` for ANY degree distribution (a node keeps only
    * edges toward still-higher-degree nodes), so wedge fan-out is
    * `Σ min-degree²` instead of the raw `Σ deg²` — a hub-star's `deg²`
    * blow-up collapses to one wedge list owned by its lowest-degree
    * corners. Two equi-joins on node keys over fixed-width id pairs; the
    * oriented edge set feeds all three join sides and is materialized once
    * ([[Lineage.truncate]]).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleCountsOf(canonicalEdges(edges, srcCol, dstCol))

  /** Local clustering coefficient per node: `2·triangles·1e6 div
    * (deg·(deg−1))` as an exact scaled long (1e6 = fully clustered
    * neighborhood); degree-<2 nodes report 0. Composes [[triangleCounts]]
    * and the degree table off ONE materialized canonical edge set.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    // ONE materialized degree table serves the output's degree column AND
    // the orientation joins inside triangleCountsOf — the aggregation over
    // the full edge set must not run twice (no DataFrame CSE).
    val deg = degreesOf(e)
    deg
      .select(col("node"), col("__d").as("degree"))
      .join(triangleCountsOf(e, Some(deg)), Seq("node"), "left_outer")
      .select(
        col("node"),
        col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(
          col("degree") >= 2,
          expr("2 * coalesce(triangles, CAST(0 AS BIGINT)) * 1000000 div (degree * (degree - 1))"),
        ).otherwise(lit(0L)).as("coef_scaled"),
      )
  }

  /** Synchronous label propagation (LPA community detection), fully
    * deterministic: labels seed as the node's own id; each of `iters`
    * rounds every node adopts its neighbors' MOST FREQUENT label, ties to
    * the SMALLEST label (`max_by` over `(count, -label)` — no RNG, no
    * update-order dependence, so a fixed-iteration chained-CTE oracle can
    * mirror it exactly). Fixed iterations rather than convergence detection:
    * synchronous LPA can 2-cycle on bipartite-ish structure, and a bounded
    * round count is the standard production guard.
    *
    * Scale design: per round one join of the label table (|V| fixed-width
    * rows) onto the undirected edge list + two partial-aggregated groupBys
    * keyed by node — the PageRank plan shape; the edge set is materialized
    * once and never mutates (bucket both sides on a cluster and every
    * round's join is co-located). Lineage truncated per round.
    * `saltBuckets > 1` salts the labels→edges join ([[SkewJoin.saltedJoin]])
    * for hub-skewed graphs — results identical (max_by over counts is
    * order-independent).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      saltBuckets: Int = 1,
  ): DataFrame = {
    require(iters >= 1 && iters <= 50, s"labelPropagation: iters must be in [1, 50]: $iters")
    require(saltBuckets >= 1 && saltBuckets <= 1024, s"labelPropagation: saltBuckets must be in [1, 1024]: $saltBuckets")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val und = Lineage.truncate(
      e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    )
    var labels = und.select(col("a").as("node")).distinct().withColumn("label", col("node"))
    for (i <- 1 to iters) {
      val joined =
        if (saltBuckets == 1) und.join(labels, col("b") === col("node"))
        else SkewJoin.saltedJoin(und, labels.withColumnRenamed("node", "b"), "b", col("a"), saltBuckets)
      val next = joined
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("a"))
        .agg(expr("max_by(label, named_struct('c', __c, 'nl', -label))").as("label"))
        .select(col("a").as("node"), col("label"))
      // same lazy-truncation rationale as pageRank: no per-round action
      labels = if (i == iters) next else Lineage.truncate(next, eager = false)
    }
    labels
  }

  /** Normalize an undirected edge list to canonical `a < b` form: each edge
    * is REORIENTED (least, greatest) rather than filtered — an input that
    * lists an edge in either (or both) directions yields the same canonical
    * set; self-loops drop.
    */
  private def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Lineage.truncate(
      edges
        .select(col(srcCol).cast("long").as("__s"), col(dstCol).cast("long").as("__t"))
        .filter(col("__s") =!= col("__t"))
        .select(least(col("__s"), col("__t")).as("a"), greatest(col("__s"), col("__t")).as("b"))
        .distinct()
    )

  /** Degree per node of a canonical edge set, materialized
    * ([[Lineage.truncate]]) — it always feeds at least two joins.
    */
  private def degreesOf(e: DataFrame): DataFrame =
    Lineage.truncate(
      e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("__d"))
    )

  private def triangleCountsOf(e: DataFrame, degOpt: Option[DataFrame] = None): DataFrame = {
    // Degree table feeds both endpoint joins — materialize once (no
    // DataFrame CSE: two consumers would re-run the aggregation); callers
    // that already have it pass it in rather than re-aggregating.
    val deg = degOpt.getOrElse(degreesOf(e))
    // Orient each edge toward the HIGHER (degree, id) endpoint; carry the
    // head's (degree, id) struct so wedge endpoints can be totally ordered
    // without re-joining the degree table.
    val aLower = struct(col("__da"), col("a")) < struct(col("__db"), col("b"))
    val oriented = Lineage.truncate(
      e.join(deg.select(col("node").as("a"), col("__d").as("__da")), "a")
        .join(deg.select(col("node").as("b"), col("__d").as("__db")), "b")
        .select(
          when(aLower, col("a")).otherwise(col("b")).as("x"),
          when(aLower, struct(col("__db").as("d"), col("b").as("n")))
            .otherwise(struct(col("__da").as("d"), col("a").as("n"))).as("yk"),
        )
    )
    // Wedge (x→v, x→w) with v ≺ w in the orientation order closes iff the
    // oriented edge v→w exists (v ≺ w fixes the closing edge's direction).
    // [[Pin.byKey]]: the wedge self-join's output is quadratic in the
    // per-x out-neighborhood — structural reduce parallelism, the bucket
    // self-join rule.
    val pinnedOriented = Pin.byKey(oriented, col("x"))
    // MERGE-hinted — see cooccurrence pairing above: one pinned exchange,
    // reused by both sides; no build-side shuffle discarded under a
    // broadcast.
    val triangles = pinnedOriented
      .as("o1")
      .hint("merge")
      .join(pinnedOriented.as("o2").hint("merge"), col("o1.x") === col("o2.x") && col("o1.yk") < col("o2.yk"))
      .select(col("o1.x").as("ta"), col("o1.yk.n").as("tb"), col("o2.yk.n").as("tc"))
      .join(
        oriented.select(col("x").as("tb"), col("yk.n").as("tc")),
        Seq("tb", "tc"),
      )
      .select(col("ta"), col("tb"), col("tc"))
    triangles
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Multi-source BFS: minimum hop distance from any seed node, capped at
    * `maxHops` — k-hop neighborhoods, blast-radius analysis, "how far is
    * every account from a known-bad seed set".
    *
    * Frontier-based rounds (the at-scale BFS shape): round r joins ONLY the
    * nodes first reached at distance r-1 against the edge set, so per-round
    * work is proportional to the frontier's out-edges, not the graph — the
    * same reason Pregel-style engines beat naive whole-graph iteration.
    * Each frontier and the accumulated distance table are materialized
    * behind [[Lineage.truncate]] (same per-round policy as [[pageRank]]);
    * an empty frontier short-circuits the remaining rounds (the check rides
    * the materialization the round needs anyway). Distances are exact
    * integers — no tie-breaking needed: a node's first reaching round IS
    * its distance, and the anti-join guarantees each node is assigned once.
    *
    * Output: (node, d) for every node within `maxHops` of a seed —
    * unreached nodes are absent (left-join the node list for a dense form).
    */
  /** k-core decomposition (membership for ONE k): iteratively peel nodes of
    * degree < k until the remaining subgraph is stable — the standard
    * density filter (spam/bot rings, well-connected user cores, vocabulary
    * cores in co-occurrence graphs). Returns each surviving node with its
    * degree INSIDE the core.
    *
    * Per round: one degree aggregation + one anti-join of the edge set
    * against the (typically tiny) peel set, both materialized once behind
    * [[Lineage.truncate]] — per-round cost is proportional to the current
    * edge set, shrinking monotonically; convergence (empty peel set) rides
    * the degree table the round needs anyway. Rounds are data-dependent
    * (a chain peels one layer per round), so an unconverged `maxRounds`
    * exit throws LOUDLY — a silent partial peel would over-report the
    * core — the round-cap stance of [[graft.operators.Dedup.connectedComponents]].
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 20,
  ): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1: $k")
    var e = canonicalEdges(edges, srcCol, dstCol)
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      val deg = degreesOf(e)
      val weak = deg.filter(col("__d") < k)
      converged = weak.isEmpty
      if (!converged) {
        e = Lineage.truncate(
          e.join(weak.select(col("node").as("a")), Seq("a"), "left_anti")
            .join(weak.select(col("node").as("b")), Seq("b"), "left_anti")
        )
      }
      r += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore: not converged after $maxRounds rounds (k=$k) — deep peeling chains need a higher maxRounds"
      )
    degreesOf(e)
      .select(col("node"), col("__d").as("core_degree"))
      .filter(col("core_degree") >= k)
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of the
    * degrees at the two ends of every edge, computed over BOTH directed
    * orientations of each undirected edge (the standard 2m-entry form, so r
    * is symmetric by construction). r > 0 = hubs link to hubs (social
    * graphs); r < 0 = hubs link to leaves (web/star topologies) — a
    * one-number health check before trusting PageRank/community output on a
    * co-occurrence graph.
    *
    * Determinism/scale: degrees are exact integers, so all five sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact DECIMAL(38,0)
    * sums — order-independent, map-side combined — and r materializes in ONE
    * mirrored IEEE expression at the end (the [[Quality.regressionStats]]
    * discipline). The degree table is materialized once and feeds both
    * endpoint joins; everything after the |E|-row join is a scalar
    * aggregate. Zero-variance graphs (regular graphs: every degree equal)
    * return NULL rather than 0/0.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dsum38(c: Column) = sum(c.cast(d38)).cast("double")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(e)
    val both = e
      .select(col("a"), col("b"))
      .unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .join(deg.select(col("node").as("a"), col("__d").as("__x")), "a")
      .join(deg.select(col("node").as("b"), col("__d").as("__y")), "b")
    both
      .agg(
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        count(lit(1)).as("__n"),
        dsum38(col("__x")).as("__sx"),
        dsum38(col("__y")).as("__sy"),
        dsum38(col("__x") * col("__y")).as("__sxy"),
        dsum38(col("__x") * col("__x")).as("__sxx"),
        dsum38(col("__y") * col("__y")).as("__syy"),
      )
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("__num", col("__nd") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__denx", col("__nd") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__deny", col("__nd") * col("__syy") - col("__sy") * col("__sy"))
      .select(
        col("n_edges"),
        when(col("__denx") === 0 || col("__deny") === 0, lit(null))
          .otherwise(col("__num") / (sqrt(col("__denx")) * sqrt(col("__deny"))))
          .as("assortativity"),
      )
  }

  /** Landmark harmonic centrality: run BFS from a SMALL landmark set and
    * score every reached node `Σ_lm floor(1e6 / dist(lm, node))` over the
    * landmarks that reach it within `maxHops` — the standard sampled
    * estimator for closeness/harmonic centrality (exact all-pairs is
    * O(V·E), never an option at scale; landmark count is the
    * precision dial). The scaled-integer form keeps the score exact and
    * order-independent across engines.
    *
    * Scale shape: ALL landmarks advance in the SAME frontier loop — the
    * per-hop work is one (lm, node)-keyed frontier join against the edge
    * set, not |landmarks| separate BFS runs; visited state is fixed-width
    * (lm, node, d) rows, first visit pins the shortest distance (the
    * [[bfsHops]] anti-join rule per landmark). Lineage truncated per hop.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      landmarks: DataFrame,
      lmCol: String,
      maxHops: Int,
  ): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30, s"harmonicCentrality: maxHops must be in [1, 30]: $maxHops")
    val ej = Lineage.truncate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    var dist = Lineage.truncate(
      landmarks
        .select(col(lmCol).as("lm"))
        .distinct()
        .select(col("lm"), col("lm").as("node"))
        .withColumn("d", lit(0))
    )
    var frontier = dist.select(col("lm"), col("node"))
    var r = 1
    var exhausted = frontier.isEmpty
    while (r <= maxHops && !exhausted) {
      val next = Lineage.truncate(
        ej.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("lm"), col("dst").as("node"))
          .distinct()
          .join(dist.select(col("lm"), col("node")), Seq("lm", "node"), "left_anti")
      )
      exhausted = next.isEmpty
      if (!exhausted) {
        frontier = next
        dist = Lineage.truncate(dist.union(next.withColumn("d", lit(r))))
      }
      r += 1
    }
    dist
      .filter(col("d") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"), sum(expr("1000000 div d")).as("harmonic_s"))
  }

  /** Weighted PageRank: [[pageRank]]'s integer-exact iteration with edge
    * weights — each node's contribution splits proportionally to out-edge
    * weight, `(rank·w) div W(src)` per edge with truncating division, so
    * every round stays an order-independent integer sum. With all weights
    * equal this reduces EXACTLY to [[pageRank]] (the spec pins that).
    * Co-occurrence support, affinity scores, and edge multiplicities plug
    * in directly as `wCol`.
    *
    * Scale: identical two-shuffle-per-round shape — the only new state is
    * one long per edge; [[SkewJoin]] salting composes the same way if a
    * hub dominates.
    */
  def pageRankWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iters: Int,
  ): DataFrame = {
    require(iters >= 1 && iters <= 100, s"pageRankWeighted: iters must be in [1, 100]: $iters")
    val ej = Lineage.truncate(
      edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w"))
        .groupBy(col("src"), col("dst"))
        .agg(max(col("w")).as("w"))
    )
    val nodes = Lineage.truncate(
      ej.select(col("src").as("node")).union(ej.select(col("dst").as("node"))).distinct()
    )
    val oj = Lineage.truncate(
      ej.groupBy(col("src")).agg(sum(col("w")).as("outw")).withColumnRenamed("src", "node")
    )
    var ranks = nodes.withColumn("rank_s", lit(1000000L))
    for (i <- 1 to iters) {
      val withW = ranks.join(oj, "node")
      val contrib = ej
        .join(withW, ej("src") === withW("node"))
        .select(ej("dst").as("dst"), expr("(rank_s * w) div outw").as("c"))
      val inflow = contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_s"))
      val next = nodes
        .join(inflow, col("node") === col("dst"), "left_outer")
        .select(
          col("node"),
          (lit(150000L) + expr("85 * coalesce(in_s, CAST(0 AS BIGINT)) div 100")).as("rank_s"),
        )
      ranks = if (i == iters) next else Lineage.truncate(next, eager = false)
    }
    ranks
  }

  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
  ): DataFrame = {
    require(maxHops >= 0 && maxHops <= 30, s"bfsHops: maxHops must be in [0, 30]: $maxHops")
    val ej = Lineage.truncate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    var dist = Lineage.truncate(
      seeds.select(col(seedCol).as("node")).distinct().withColumn("d", lit(0))
    )
    var frontier = dist.select(col("node"))
    var r = 1
    var exhausted = frontier.isEmpty
    while (r <= maxHops && !exhausted) {
      val next = Lineage.truncate(
        ej.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"))
          .distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti")
      )
      exhausted = next.isEmpty
      if (!exhausted) {
        frontier = next
        dist = Lineage.truncate(dist.union(next.withColumn("d", lit(r))))
      }
      r += 1
    }
    dist
  }
}
