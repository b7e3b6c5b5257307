package graft.operators

import graft.functions.CosineSimilarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set,
  *    stream the corpus once, per-partition top-k via window. O(N·Q) but one
  *    corpus scan, no N×N shuffle; the right answer for Q ≲ thousands.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH. Each vector gets a
  *    `planes`-bit signature (deterministic pseudo-planes derived from a hash
  *    formula, no RNG state to ship); candidates = same bucket; rerank
  *    exactly within buckets. Shuffles only (bucket, id) pairs. Recall tunes
  *    with `planes` (fewer bits → bigger buckets → higher recall, more work).
  *
  * Cosine itself is the custom codegen'd Catalyst expression
  * [[graft.functions.CosineSimilarity]]; [[cosineBuiltin]] is the
  * builtin-composed equivalent kept for cross-checking it.
  */
object Similarity {

  /** Builtin-composed cosine (zip_with + aggregate) — same left-to-right
    * double accumulation as the custom expression; used to cross-validate it
    * in tests.
    */
  def cosineBuiltin(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
    dot / (na * nb)
  }

  def cosine(a: Column, b: Column): Column = CosineSimilarity.cosine(a, b)

  /** Exact top-k neighbors for each query vector (self-matches excluded).
    * The query side must be small enough to broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** The ±1 sign matrix for [[randomProjection]], derived at PLAN-BUILD time
    * from [[graft.functions.Hashing.hash64Jvm]] parity over the tag
    * `"rp_<out>_<in>"` — a small constant table (outDim × dim ints) inlined
    * as literals on both engines, so the "random" matrix exists only as this
    * formula and can never drift between the Spark plan and the oracle SQL.
    */
  def rpSigns(outDim: Int, dim: Int): Seq[Seq[Int]] =
    (0 until outDim).map { i =>
      (0 until dim).map { j =>
        if (graft.functions.Hashing.hash64Jvm(s"rp_${i}_$j") % 2 == 0) 1 else -1
      }
    }

  /** Sparse-free Johnson–Lindenstrauss random projection: embeddings are
    * quantized to exact integer per-micro (`floor(v·1e6 + 0.5)` — float→
    * double widening is exact, so both engines quantize identically), then
    * each output dimension is a ±1-signed integer sum over the input dims
    * ([[rpSigns]]): `p_i = Σ_j s(i,j)·q_j`, an exact, order-independent
    * LONG — the cheap dimensionality-reduction front end for clustering /
    * dedup sketches over high-dim embeddings (JL: pairwise distances are
    * preserved within ~1/√outDim).
    *
    * Scale: a pure zero-shuffle projection — per row it's outDim array
    * folds over the quantized vector, all codegen'd builtins (`transform` /
    * `zip_with` / `aggregate`), no UDF, no matrix object shipped (the signs
    * ride the plan as literals). At 100 TB this is a map-only pass you
    * fuse onto the scan that reads the embeddings.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String, dim: Int, outDim: Int): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"randomProjection: bad dims $dim -> $outDim")
    val signs = rpSigns(outDim, dim)
    val q = transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val projCols = signs.zipWithIndex.map { case (row, i) =>
      val sl = array(row.map(s => lit(s.toLong)): _*)
      aggregate(zip_with(q, sl, (a, b) => a * b), lit(0L), (acc, x) => acc + x).as(s"p$i")
    }
    df.select(col(idCol) +: projCols: _*)
  }

  /** Exact upper-triangle covariance matrix of an embedding column — the
    * front half of whitening / PCA over a vector corpus (the eigen solve on
    * the dim×dim result is a driver-side afterstep; THIS is the part that
    * touches 100 TB). Vectors quantize to per-micro LONGs (the
    * [[randomProjection]] rule), so all three sufficient statistics per
    * (i, j) cell are exact DECIMAL(38,0) sums — order-independent,
    * map-side combined — and the population covariance materializes in one
    * mirrored IEEE expression: `((n·Σxy − Σx·Σy) / n²) / 1e12`.
    *
    * Scale shape: one pass, no self-join, and NO per-row cell explosion —
    * a [[graft.functions.GramMatrixAggregator]] accumulates all
    * dim·(dim+1)/2 cells in a primitive-array buffer per partition
    * (128-bit exact sums), so the only exchange carries one ~dim²/2-long
    * buffer per partition regardless of corpus size, and per-row cost is a
    * tight array loop instead of dim²/2 Tungsten rows.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"covarianceMatrix: bad dim $dim")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df
      .select(
        transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("__q")
      )
      // the explode plan dropped null-vector rows (explode(null) emits
      // nothing); mirror that before the typed aggregate sees them
      .filter(col("__q").isNotNull)
      // ragged or null-element vectors would silently skew n / truncate
      // cells (the explode plan null-skipped them instead) — fail loudly
      // with the offending shape rather than diverge from the oracle
      .select(
        when(
          size(col("__q")) =!= lit(dim) || exists(col("__q"), e => e.isNull),
          raise_error(
            concat(
              lit(s"covarianceMatrix: every vector must be length-$dim with no null elements; got size="),
              size(col("__q")).cast("string"),
            )
          ),
        ).otherwise(col("__q")).as("__q")
      )
      .as[Array[Long]]
    q.select(new graft.functions.GramMatrixAggregator(dim).toColumn.name("__cells"))
      .toDF("__cells")
      .select(explode(col("__cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.n").as("n"), col("c.cov").as("cov"))
  }

  /** Pearson correlation matrix of an embedding column — the scale-free
    * readout of [[covarianceMatrix]] (feature redundancy screening: |corr|
    * near 1 marks dimensions a projection can drop). One Gram-aggregator
    * pass produces the covariance cells; the diagonal (the per-dimension
    * variances) joins back onto every (i, j) cell by BROADCAST — the cell
    * table is dim·(dim+1)/2 rows regardless of corpus size — and
    * `corr = cov / (√var_i · √var_j)` is one mirrored IEEE expression over
    * values both engines already computed identically. Constant dimensions
    * (zero variance) report NULL rather than a divide-by-zero.
    *
    * The covariance cells are materialized once ([[Lineage.truncate]]):
    * the diagonal filter and the cell scan are two consumers, and without
    * the barrier each would re-run the full corpus aggregation.
    */
  def correlationMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val cov  = Lineage.truncate(covarianceMatrix(df, vecCol, dim))
    val diag = cov.filter(col("i") === col("j")).select(col("i").as("__k"), col("cov").as("__v"))
    cov
      .join(broadcast(diag.select(col("__k").as("i"), col("__v").as("__vi"))), Seq("i"))
      .join(broadcast(diag.select(col("__k").as("j"), col("__v").as("__vj"))), Seq("j"))
      .select(
        col("i"),
        col("j"),
        col("n"),
        when(col("__vi") > 0.0 && col("__vj") > 0.0, col("cov") / (sqrt(col("__vi")) * sqrt(col("__vj"))))
          .otherwise(lit(null).cast("double"))
          .as("corr"),
      )
  }

  /** Top principal component by QUANTIZED power iteration — the eigen step
    * that turns [[covarianceMatrix]] into an actionable projection (PC1
    * loadings + the dominant eigenvalue), kept cross-engine deterministic
    * by a rule the float textbook version can't offer: every iteration is
    * exact integer arithmetic.
    *
    *  - covariance cells quantize to per-1e-8 LONGs (from doubles both
    *    engines already computed bit-identically in q189);
    *  - the iterate is a per-micro LONG vector; the mat-vec is an exact
    *    integer sum, its norm² an exact 128-bit sum, and the renormalized
    *    iterate re-quantizes to per-micro through ONE mirrored IEEE
    *    divide+floor (the int→double casts need only IDENTICAL rounding on
    *    both engines, which round-to-nearest guarantees — no order-
    *    sensitive float accumulation exists anywhere in the loop);
    *  - the start vector is ∝ (1, 2, …, dim) — deterministic and generic
    *    (an all-ones start is exactly orthogonal to the top eigenvector of
    *    any ± symmetric matrix, a real degeneracy);
    *  - a zero mat-vec (start ⊥ everything reachable) keeps the previous
    *    iterate instead of dividing by zero, identically on both engines.
    *
    * The dim×dim matrix is a bounded driver-side afterstep (the IVF
    * codebook stance): dim ≤ 1024 is enforced loudly, the corpus-side work
    * is exactly one Gram-aggregator pass, and the per-iteration cost is
    * driver-local dim² integer ops. Output: one row per dimension with the
    * per-micro PC1 loading (an exact integer) and the eigenvalue estimate
    * `v·Cv` (one mirrored IEEE division at the very end).
    */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int, iters: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (vq, eigen) = pcaLoadingsDriver(df, vecCol, dim, iters)
    vq.zipWithIndex.map { case (l, i) => (i, l, eigen) }.toSeq
      .toDF("i", "loading_micro", "eigenvalue")
  }

  /** The driver-side quantized power loop shared by [[pcaTopComponent]] and
    * [[pcaProjectionCensus]]: returns (per-micro PC1 loadings, eigenvalue).
    * One Gram-aggregator corpus pass; everything after is bounded dim²
    * integer work on the driver (the IVF-codebook stance).
    */
  private[graft] def pcaLoadingsDriver(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      iters: Int,
  ): (Array[Long], Double) = {
    require(dim >= 1 && dim <= 1024, s"pcaTopComponent: dim must be in [1, 1024]: $dim (dim² driver cells)")
    require(iters >= 1 && iters <= 64, s"pcaTopComponent: bad iters $iters")
    val cells = covarianceMatrix(df, vecCol, dim).select(col("i"), col("j"), col("cov")).collect()
    val cq = Array.ofDim[Long](dim, dim)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val q = math.floor(r.getDouble(2) * 1.0e8 + 0.5).toLong
      cq(i)(j) = q; cq(j)(i) = q
    }
    // start ∝ (1..dim): norm² = dim(dim+1)(2dim+1)/6 exact, one sqrt
    val s0 = math.sqrt((dim.toLong * (dim + 1) * (2L * dim + 1) / 6).toDouble)
    var vq = Array.tabulate(dim)(j => math.floor((j + 1).toDouble / s0 * 1.0e6 + 0.5).toLong)
    // mat-vec accumulates in BigInt: a plain Long wraps silently around
    // cov ~9e9 × v ~1e6 × 1024 terms while the oracle's HUGEINT list_sum
    // does not — exactness here costs only bounded driver-side dim² work
    def matvec(v: Array[Long]): Array[BigInt] =
      Array.tabulate(dim) { i =>
        var s = BigInt(0); var j = 0
        while (j < dim) { s += BigInt(cq(i)(j)) * v(j); j += 1 }
        s
      }
    for (_ <- 0 until iters) {
      val w = matvec(vq)
      val n2 = w.foldLeft(BigInt(0))((acc, x) => acc + x * x)
      if (n2 != 0) {
        val nd = math.sqrt(n2.doubleValue)
        vq = w.map(x => math.floor(x.doubleValue / nd * 1.0e6 + 0.5).toLong)
      }
    }
    val wf = matvec(vq)
    val lam = vq.indices.foldLeft(BigInt(0))((acc, i) => acc + BigInt(vq(i)) * wf(i))
    (vq, lam.doubleValue / 1.0e20)
  }

  /** Per-label census of the corpus projected onto PC1 — "does the dominant
    * axis separate the labels?" (embedding-drift and class-collapse
    * screening). The projection score is an EXACT integer: per-micro PC1
    * loadings ([[pcaLoadingsDriver]]) dotted with the per-micro-quantized
    * vector, inlined as a literal array so the second corpus pass is one
    * codegen'd projection + partial-aggregating groupBy (no join, no
    * shuffle of vectors). The only float op is the final mean division
    * (score scale: per-micro² = 1e12).
    *
    * Two corpus passes total — one for the Gram matrix, one for the
    * projection — which is the honest minimum for "eigen then project".
    */
  def pcaProjectionCensus(
      df: DataFrame,
      vecCol: String,
      labelCol: String,
      dim: Int,
      iters: Int = 12,
  ): DataFrame = {
    val (vq, _) = pcaLoadingsDriver(df, vecCol, dim, iters)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val lits = typedLit(vq.toSeq)
    val q = transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val score = aggregate(zip_with(q, lits, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    df.select(col(labelCol), score.as("__s"))
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n"),
        min(col("__s")).as("min_score_q"),
        max(col("__s")).as("max_score_q"),
        ((sum(col("__s").cast(d38)).cast("double") / count(lit(1))) / lit(1.0e12)).as("mean_score"),
      )
  }

  /** The previous explode-based covariance plan, kept as the equivalence
    * reference for [[covarianceMatrix]]'s Gram aggregator (PropertySpec
    * proves cell-for-cell identity, including the IEEE expression order).
    * Correct and scale-safe, but materializes dim·(dim+1)/2 struct rows
    * per input row — the constant factor the aggregator removes.
    */
  private[graft] def covarianceMatrixExploded(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"covarianceMatrix: bad dim $dim")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dsum38(c: Column) = sum(c.cast(d38)).cast("double")
    val q = df.select(
      transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")).as("__q")
    )
    val pairsArr = flatten(
      transform(
        sequence(lit(0), lit(dim - 1)),
        i =>
          transform(
            sequence(i, lit(dim - 1)),
            j =>
              struct(
                i.cast("int").as("i"),
                j.cast("int").as("j"),
                element_at(col("__q"), i + 1).as("qi"),
                element_at(col("__q"), j + 1).as("qj"),
              ),
          ),
      )
    )
    q.select(explode(pairsArr).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.qi").as("__qi"), col("p.qj").as("__qj"))
      .groupBy(col("i"), col("j"))
      .agg(
        count(lit(1)).as("n"),
        dsum38(col("__qi")).as("__sx"),
        dsum38(col("__qj")).as("__sy"),
        dsum38(col("__qi") * col("__qj")).as("__sxy"),
      )
      .withColumn("__nd", col("n").cast("double"))
      .select(
        col("i"),
        col("j"),
        col("n"),
        (((col("__nd") * col("__sxy") - col("__sx") * col("__sy")) / (col("__nd") * col("__nd"))) / lit(1.0e12))
          .as("cov"),
      )
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i):
    * an LCG over j*dim+i mapped to [-0.5, 0.5). No RNG object — the "planes"
    * exist only as this formula, identically on every executor.
    */
  private def planeComponent(j: Int, i: Column, dim: Int): Column = {
    val idx = lit(j * dim) + i
    val h = pmod(idx * lit(2654435761L) + lit(1013904223L), lit(Hashing2Pow))
    h.cast("double") / lit(Hashing2Pow.toDouble) - lit(0.5)
  }
  private val Hashing2Pow: Long = 1L << 31

  /** `planes`-bit hyperplane signature of an embedding column for hash table
    * `table` (each table uses a disjoint run of pseudo-planes). Built with
    * `aggregate` over the vector indices — a projection, no UDF.
    */
  def lshSignature(vec: Column, dim: Int, planes: Int, table: Int = 0): Column =
    (0 until planes)
      .map { j =>
        val dot = aggregate(
          sequence(lit(0), lit(dim - 1)),
          lit(0.0),
          (acc, i) => acc + element_at(vec, i + 1).cast("double") * planeComponent(table * planes + j, i, dim),
        )
        when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** ANN top-k with multi-table LSH: `tables` independent `planes`-bit
    * signatures; candidates = same bucket in ANY table (union, deduped);
    * exact cosine rerank on candidates only. Recall grows with `tables`
    * (1-(1-p^planes)^tables), cost grows linearly — the standard
    * recall/latency dial. Shuffles carry only (bucket, id) pairs; the exact
    * rerank touches candidates, never N×N.
    *
    * Dial guidance (measured on the sf0.01 embeddings, recall@3 vs exact):
    * planes=2/tables=4 → 0.87, planes=2/tables=8 → 0.93,
    * planes=4/tables=8 → 0.67. Start at planes=2/tables=4 and raise
    * `planes` as the corpus grows (buckets shrink ~2^planes-fold); the
    * ExtensionSpec recall assertion pins the 0.8 floor at defaults.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      k: Int,
      tables: Int = 4,
  ): DataFrame = {
    // All table signatures in ONE projection + explode — a unionAll of
    // per-table selects would rescan and re-hash the corpus `tables` times
    // (same anti-pattern the minhash banding had).
    val buckets = (d: DataFrame, idAs: String) =>
      d.select(
        col(idCol).as(idAs),
        explode(
          array((0 until tables).map { tbl =>
            struct(lit(tbl).as("tbl"), lshSignature(col(vecCol), dim, planes, tbl).as("bucket"))
          }: _*)
        ).as("tb"),
      ).select(col(idAs), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = buckets(corpus, "neighbor_id")
      .join(broadcast(buckets(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val scored = cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")), "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))), "query_id")
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Embedding near-duplicate pairs above a cosine threshold, blocked by a
    * grouping column to stay sub-quadratic. This is the EXACT-within-block
    * variant: recall is total inside a block and zero across blocks, so it
    * needs a high-cardinality, similarity-aligned block column (a label, a
    * shard key). For unlabeled corpora use [[cosineNearDupPairsLsh]] — the
    * default at scale, where no data column can be trusted to block on.
    *
    * Like [[Dedup.jaccardPairs]], the operator guards its own quadratic
    * step: a pre-flight count over just `blockCol` (column-pruned scan, no
    * vectors read) fails loudly when any block exceeds `maxBlockRows` — a
    * low-cardinality block column on a 100 TB corpus must error with a
    * pointer to the LSH variant, not silently enumerate N²/|blocks| vector
    * pairs. The guard makes this operator EAGER (one small driver action at
    * call time).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      maxBlockRows: Long = 100000L,
  ): DataFrame = {
    val oversized = df
      .groupBy(col(blockCol))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      val block = oversized.head.get(0)
      val n = oversized.head.getLong(1)
      throw new IllegalStateException(
        s"cosineNearDupPairs: block '$block' of '$blockCol' has $n rows (> maxBlockRows=$maxBlockRows): " +
          s"the within-block pairing would enumerate ~${n * n / 2} vector pairs. Use cosineNearDupPairsLsh " +
          "(hyperplane-bucketed, sub-quadratic, no block column needed) for such corpora, or raise " +
          "maxBlockRows deliberately."
      )
    }
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"), col(blockCol).as("block"))
    // [[Pin.byKey]]: structural reduce parallelism for the within-block
    // pairing (AQE byte-coalescing collapses it to one task otherwise).
    val pinned = Pin.byKey(v, col("block"))
    // MERGE-hinted like the banding self-join: one pinned exchange reused
    // by both sides; no build-side shuffle discarded under a toy-SF
    // broadcast (broadcast is never right for a same-sized self-join).
    val l = pinned.as("l").hint("merge")
    val r = pinned.as("r").hint("merge")
    l.join(r, col("l.block") === col("r.block") && col("l.id") < col("r.id"))
      .withColumn("sim", cosine(col("l.vec"), col("r.vec")))
      .filter(col("sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus by
    * nearest-centroid assignment ([[IvfIndex.assign]] — a zero-shuffle
    * argmax projection against the broadcast codebook), enumerate
    * within-cluster cosine pairs above `threshold` (via the GUARDED
    * [[cosineNearDupPairs]], blocked by the assigned cluster), and keep one
    * survivor per pair — every non-minimal pair member drops. This is the
    * embedding-space answer to MinHash dedup: paraphrases and re-renders
    * that share no token n-grams still collide in embedding space.
    *
    * The caller supplies the codebook (`centroids`: `(centroid_id,
    * centroid)` rows) — per-label means, a k-means pass, or a loaded index
    * — so the clustering policy stays composable. Scale design: assignment
    * is map-only; the within-cluster pairing inherits
    * [[cosineNearDupPairs]]' per-block loud-fail (`maxBlockRows`), so a
    * degenerate codebook that funnels the corpus into one cluster errors
    * with a pointer instead of running B². The final survivor filter is an
    * anti-join shipping bare ids.
    *
    * Keep policies:
    *  - default (`representative = false`): drop every `id_b` of a
    *    qualifying pair. Cheap (no extra pass) but OVER-drops transitive
    *    chains: in A~B, B~C (A≁C), B drops for A and C drops for B — even
    *    though C's only qualifying partner was already dropped.
    *  - `representative = true`: connected components over the qualifying
    *    pair graph ([[Dedup.connectedComponents]] — the pair graph
    *    holds only docs in >= 1 pair, tiny vs the corpus), keep exactly
    *    the CENTROID-NEAREST doc per component (max `sim` to its assigned
    *    centroid, ties to the lowest id; the sim rides out of the argmax
    *    projection free via `assign(withSim = true)`). In the A~B~C chain
    *    exactly one of the three survives — the SemDeDup-paper policy.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      maxBlockRows: Long = 100000L,
      representative: Boolean = false,
  ): DataFrame = {
    // Materialize the assignment once: it feeds the block-size guard AND
    // both self-join sides of the pairing — without this the corpus scan +
    // argmax projection runs three times (correctness must not lean on
    // optional ReuseExchange; same stance as bandedPairs).
    val assigned = Lineage.truncate(
      IvfIndex.assign(df.select(col(idCol), col(vecCol)), centroids, idCol, vecCol, withSim = representative)
    )
    val pairs = cosineNearDupPairs(assigned, idCol, vecCol, "centroid_id", threshold, maxBlockRows)
    val drop =
      if (!representative) pairs.select(col("id_b").as(idCol)).distinct()
      else {
        // Components of the pair graph, then one window over (component
        // members ⋈ sim) — both sides fixed-width (id, comp, sim), no
        // vectors; the non-representative members are the drop set.
        val comps = Dedup.connectedComponents(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        )
        comps
          .join(assigned.select(col(idCol).as("id"), col("sim")), Seq("id"))
          .withColumn(
            "__rn",
            row_number().over(Window.partitionBy(col("comp")).orderBy(col("sim").desc, col("id"))),
          )
          .filter(col("__rn") > 1)
          .select(col("id").as(idCol))
      }
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * vector, the most-similar vector with a DIFFERENT label — the pairs
    * that actually teach a model where its decision boundary is (easy
    * random negatives carry no gradient signal). Mining is scoped to the
    * vector's coarse cluster ([[IvfIndex.assign]] against the supplied
    * codebook) — the standard IVF-probe approximation: a hard negative is
    * by definition close, and close vectors share a coarse cell, so the
    * within-cluster candidate set holds the true answer for every
    * boundary-relevant vector while keeping the pair work Σ cluster²
    * (guarded by `maxBlockRows`, the [[cosineNearDupPairs]] stance) instead
    * of N².
    *
    * Deterministic: ties break to the LOWEST negative id; vectors whose
    * cluster holds no other-label vector emit no row (their cell is pure —
    * nothing boundary-relevant to mine).
    */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      centroids: DataFrame,
      maxBlockRows: Long = 100000L,
  ): DataFrame = {
    // One materialized assignment feeds the guard and both join sides.
    val assigned = Lineage.truncate(
      IvfIndex
        .assign(df.withColumn("__iv", struct(col(idCol), col(labelCol))), centroids, "__iv", vecCol)
        .select(col("__iv")(idCol).as("id"), col("__iv")(labelCol).as("label"), col("centroid_id"), col(vecCol).as("vec"))
    )
    val oversized = assigned
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      throw new IllegalStateException(
        s"hardNegatives: cluster '${oversized.head.get(0)}' has ${oversized.head.getLong(1)} vectors " +
          s"(> maxBlockRows=$maxBlockRows): within-cluster pairing would be quadratic. Train a finer " +
          "codebook (more centroids), or raise maxBlockRows deliberately."
      )
    }
    // [[Pin.byKey]]: structural reduce parallelism for the within-cluster
    // pairing (AQE byte-coalescing collapses it to one task otherwise).
    val pinnedAssigned = Pin.byKey(assigned, col("centroid_id"))
    // MERGE-hinted — see cosineNearDupPairs: one pinned exchange, reused
    // by both sides; no build-side shuffle discarded under a broadcast.
    pinnedAssigned
      .as("l")
      .hint("merge")
      .join(
        pinnedAssigned.as("r").hint("merge"),
        col("l.centroid_id") === col("r.centroid_id") && col("l.label") =!= col("r.label"),
      )
      .withColumn("sim", cosine(col("l.vec"), col("r.vec")))
      .withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy(col("l.id")).orderBy(col("sim").desc, col("r.id"))
        ),
      )
      .filter(col("__rn") === 1)
      .select(col("l.id").as(idCol), col("l.label").as(labelCol), col("r.id").as("neg_id"), col("sim"))
  }

  /** Embedding near-duplicate pairs for UNLABELED corpora: the blocker is the
    * same deterministic hyperplane signature [[lshSignature]] the ANN path
    * uses (oracled by q50), so no data column is needed and the plan stays
    * sub-quadratic on any input. Candidates = same bucket in ANY of `tables`
    * hash tables; each candidate pair is emitted EXACTLY once (kept only in
    * its first agreeing table — all table signatures ride along on both join
    * sides, so no multi-million-row DISTINCT shuffle), then exact cosine >=
    * `threshold` keeps real near-dups.
    *
    * Scale shape: signatures are computed once ([[DataFrame.localCheckpoint]]
    * — the self-join must not recompute the projection twice, and
    * correctness must not lean on optional ReuseExchange); the self-join
    * shuffles (id, `tables` longs) per row, never the vectors; vectors are
    * joined back only for candidate pairs. Recall tunes with `planes`
    * (fewer bits → bigger buckets → higher recall, more rerank work) and
    * `tables`, exactly like [[lshTopK]].
    */
  def cosineNearDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      threshold: Double,
      tables: Int = 4,
  ): DataFrame = {
    val sigs = df
      .select(
        col(idCol).as("id") +:
          (0 until tables).map(t => lshSignature(col(vecCol), dim, planes, t).as(s"b$t")): _*
      )
      .transform(Lineage.truncate(_))
    val banded = sigs.select(
      col("id") +: (0 until tables).map(t => col(s"b$t")) :+
        explode(array((0 until tables).map(t => struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)).as("tb"): _*
    )
    val firstTableOnly = (0 until tables)
      .map { t =>
        val earlierNoMatch = (0 until t).map(t2 => col(s"l.b$t2") =!= col(s"r.b$t2")).foldLeft(lit(true))(_ && _)
        (col("l.tb.tbl") === t) && earlierNoMatch
      }
      .reduce(_ || _)
    // [[Pin.byKey]]: structural reduce parallelism for the within-bucket
    // pairing (AQE byte-coalescing collapses it to one task otherwise).
    val pinned = Pin.byKey(banded, col("tb"))
    // MERGE-hinted — see cosineNearDupPairs: one pinned exchange, reused
    // by both sides; no build-side shuffle discarded under a broadcast.
    val cand = pinned
      .as("l")
      .hint("merge")
      .join(pinned.as("r").hint("merge"), col("l.tb") === col("r.tb") && col("l.id") < col("r.id"))
      .filter(firstTableOnly)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val vecs = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("vid").as("id_a"), col("v").as("vec_a")), "id_a")
      .join(vecs.select(col("vid").as("id_b"), col("v").as("vec_b")), "id_b")
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding norm-hygiene report: per label, the distribution of squared
    * L2 norms in exact per-micro-squared integers (`Σ q_i²` over the
    * [[randomProjection]] quantization) — the 30-second check that catches
    * zero vectors, unnormalized rows, and mixed-scale batches BEFORE any
    * cosine-based operator silently misbehaves on them. `n_zero` counts
    * exactly-zero vectors (cosine against them is undefined); min/max/mean
    * localize scale mixing to a label.
    *
    * A zero-shuffle projection into one partial-aggregating groupBy; the
    * mean is an exact integer sum with one final division.
    */
  def normReport(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val n2 = aggregate(q, lit(0L), (acc, x) => acc + x * x)
    df.select(col(labelCol), n2.as("__n2"))
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("__n2")).as("min_norm2_q"),
        max(col("__n2")).as("max_norm2_q"),
        (sum(col("__n2").cast(d38)).cast("double") / count(lit(1))).as("mean_norm2_q"),
      )
  }
}
