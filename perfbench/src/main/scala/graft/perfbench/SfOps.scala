package graft.perfbench

import graft.functions.Hashing
import graft.operators.{Dedup, IvfIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Paths

/** The dedup and index workloads: the public call sequences of the suite's
  * queries named in each op's key, with the same arguments (the constants
  * below mirror `ExtensionQueries`'). Each op's output is reduced by
  * `Bench`'s hash fold, which the caller compares with a pinned fold.
  */
object SfOps {
  private val K = 8
  private val EmbDim = 64
  private val PqM = 4
  private val PqNlist = 8
  private val PqIters = 2
  private val AnnNprobe = 2
  private val AdcCandK = 8
  private val AnnK = 3

  /** The suite queries each op reproduces, for pin capture. */
  val DedupOps = Seq("q22_minhash_lsh_pairs", "q45_neardup_clusters", "q64_cc_chain")
  val IndexOps = Seq("q275_manifest_lifecycle", "q281_dedup_manifest_lifecycle")

  private def table(spark: SparkSession, in: String, name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")

  private def check(tr: Tracer, it: Main.Iteration, op: String, df: DataFrame): Unit = {
    val (n, h) = Tracer.fold(df)
    tr.current.foreach(_.add("rows", n.toDouble))
    it.checks(op) = Json.str(s"$n:$h")
    if (DedupOps.contains(op)) it.add("dedup_rows", n.toDouble)
  }

  /** Between ops: sample the live heap, then release pinned blocks. */
  private def settle(spark: SparkSession, it: Main.Iteration): Unit = {
    it.boundary()
    release(spark)
  }

  def dedup(spark: SparkSession, tr: Tracer, in: String, it: Main.Iteration): Unit = it.time("dedup_s") {
    val docs = table(spark, in, "documents")
    tr.span("dedup.pairs") {
      check(tr, it, "q22_minhash_lsh_pairs",
        Dedup.minhashNearDupPairs(docs, "doc_id", "text", K, bands = 4, threshold = 0.8, minAgree = 4))
    }
    settle(spark, it)
    val pairs = tr.span("dedup.pairs") {
      val p = Dedup
        .jaccardPairs(docs, "doc_id", "text", "source", threshold = 0.9)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      tr.force(p)
      p
    }
    tr.span("dedup.cc") {
      check(tr, it, "q45_neardup_clusters",
        Dedup
          .connectedComponentsAdaptive(pairs)
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"), (col("id") === col("comp")).cast("int").as("is_survivor")))
    }
    settle(spark, it)
    val edges = tr.span("dedup.pairs") {
      val c = table(spark, in, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))
      val e = c
        .withColumn("nxt", lead(col("c_custkey"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("c_custkey").as("src"), col("nxt").as("dst"))
      tr.force(e)
      e
    }
    tr.span("dedup.cc") {
      check(tr, it, "q64_cc_chain",
        Dedup.connectedComponentsStar(edges).select(col("id").as("c_custkey"), col("comp").as("cluster_id")))
    }
    settle(spark, it)
  }

  def index(spark: SparkSession, tr: Tracer, in: String, root: String, it: Main.Iteration): Unit = {
    def phase[T](name: String, dir: String)(body: => T): T =
      tr.span(s"index.$name") {
        val before = if (tr.enabled) tr.overhead(Main.dataFiles(Paths.get(dir))) else Map.empty[String, Long]
        val out = body
        if (tr.enabled) tr.overhead {
          val fresh = Main.dataFiles(Paths.get(dir)).filter { case (f, size) => !before.get(f).contains(size) }
          tr.current.foreach { s => s.add("files", fresh.size.toDouble); s.add("bytes", fresh.values.sum.toDouble) }
        }
        out
      }
    def serve(op: String, dir: String, df: => DataFrame): Unit = {
      it.time("lake_query_s")(phase("serve", dir)(check(tr, it, op, df)))
      settle(spark, it)
    }
    val emb = table(spark, in, "embeddings")
    val docs = table(spark, in, "documents")

    // q275: ANN index, manifest lifecycle
    {
      val dir = s"$root/ann"
      val base = emb.filter(col("vec_id") % 2 === 0)
      val inc1 = emb.filter(col("vec_id") % 4 === 1)
      val inc2 = emb.filter(col("vec_id") % 4 === 3)
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val centroids = phase("train", dir) {
        val c = IvfIndex.train(base, "vec_id", "embedding", nlist = 16, iters = 0)
        tr.force(c)
        c
      }
      phase("land", dir)(IvfIndex.saveAdcIndex(base, "vec_id", "embedding", centroids,
        m = PqM, subDim = EmbDim / PqM, pqNlist = PqNlist, pqIters = PqIters, dir = dir))
      phase("commit", dir)(IvfIndex.writeAdcManifest(spark, dir))
      phase("land", dir)(IvfIndex.appendToAdcIndex(spark, dir, inc1, "vec_id", "embedding", m = PqM, batchId = Some(0L)))
      phase("commit", dir)(IvfIndex.commitAdcBatchToManifest(spark, dir, 0L))
      phase("land", dir)(IvfIndex.appendToAdcIndex(spark, dir, inc2, "vec_id", "embedding", m = PqM, batchId = Some(1L)))
      phase("commit", dir)(IvfIndex.commitAdcBatchToManifest(spark, dir, 1L))
      phase("compact", dir)(IvfIndex.compactAdcIndexCodesManifest(spark, dir, targetBytes = 128L << 20,
        minRetainedBatchId = Some(2L)))
      phase("cleanup", dir)(require(IvfIndex.cleanupAdcGenerations(spark, dir, keepGens = 1) > 0L,
        "q275: the compaction must have de-referenced the pre-bin files"))
      serve("q275_manifest_lifecycle", dir, IvfIndex.adcTopKFromSnapshot(spark, dir, emb, queries, "vec_id", "embedding",
        m = PqM, nprobe = AnnNprobe, candK = AdcCandK, k = AnnK))
    }

    // q281: dedup signature index, manifest lifecycle
    {
      val path = s"$root/dedup"
      val b = Hashing.hash64(concat(lit("upd:"), col("text"))) % 10
      def signed(df: DataFrame) = Dedup.buildDedupIndex(df, "doc_id", "text")
      phase("land", path)(Dedup.saveDedupIndex(signed(docs.filter(b < 5)), path))
      phase("commit", path)(Dedup.writeDedupManifest(spark, path))
      phase("land", path)(Dedup.appendDedupIndex(signed(docs.filter(b >= 5 && b < 7)), path, batchId = Some(0L)))
      phase("commit", path)(Dedup.commitDedupBatchToManifest(spark, path, 0L))
      phase("land", path)(Dedup.appendDedupIndex(signed(docs.filter(b === 7)), path, batchId = Some(1L)))
      phase("commit", path)(Dedup.commitDedupBatchToManifest(spark, path, 1L))
      phase("compact", path)(Dedup.compactDedupIndexManifest(spark, path, targetFiles = 1, minRetainedBatchId = Some(2L)))
      phase("cleanup", path)(require(Dedup.cleanupDedupGenerations(spark, path, keepGens = 1) > 0L,
        "q281: the compaction must have de-referenced the pre-bin files"))
      serve("q281_dedup_manifest_lifecycle", path,
        Dedup.dedupIncrementWithIndex(Dedup.loadDedupIndexSnapshot(spark, path), docs.filter(b >= 8), "doc_id", "text"))
    }

  }

  /** `Bench`'s between-query rule: release every pinned block synchronously
    * so a later op does not pay for an earlier op's checkpoints.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The suite's own query for each op, folded the same way, so a capture
    * can prove the harness reproduces it.
    */
  def suiteFolds(spark: SparkSession, in: String, ops: Seq[String]): Seq[(String, String)] =
    ops.map { q =>
      val (n, h) = Tracer.fold(graft.ExtensionQueries.queries(q)(spark, in))
      release(spark)
      q -> Json.str(s"$n:$h")
    }
}
