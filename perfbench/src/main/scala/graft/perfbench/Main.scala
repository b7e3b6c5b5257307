package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryPoolMXBean}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark JVM: sets up a Spark session, runs one iteration of one
  * workload, traced or not, and writes one JSON result file. The caller
  * (`run.py`) generates the inputs, starts the JVMs, checks the answers and
  * turns the iterations into metrics.
  *
  * {{{
  * Main --workload W --inputs DIR --work DIR --out FILE --cpus N [--trace] [--capture] [--setup-only]
  * }}}
  */
object Main {

  /** What one iteration measured. `values` are seconds and counts; `checks`
    * are answers as JSON fragments for the caller to verify.
    */
  final class Iteration(sampleHeap: Boolean) {
    val values = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, String]
    private var pausedNs = 0L
    private var peakHeap = 0L
    def add(key: String, v: Double): Unit = values(key) = values.getOrElse(key, 0.0) + v

    /** Times `body` into `key`, less any `untimed` part inside it. */
    def time[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val p0 = pausedNs
      try body finally add(key, (System.nanoTime() - t0 - (pausedNs - p0)) / 1e9)
    }

    /** Harness work (answer checks, heap samples) kept out of every timing. */
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally pausedNs += System.nanoTime() - t0
    }

    /** An op boundary: the old generation's occupancy after a full
      * collection (the live heap) joins the peak. The first collection lets
      * Spark's cleaner drop blocks whose owners died; the second measures
      * what is left (one collection left ±25% between runs).
      */
    def boundary(): Unit = if (sampleHeap) untimed {
      System.gc()
      Thread.sleep(300)
      System.gc()
      peakHeap = math.max(peakHeap, Main.oldGenUsed)
    }
    def peakHeapMb: Double = peakHeap / (1024.0 * 1024.0)
  }

  /** The harness's own copy of `Bench`'s host-era probe: a fixed
    * single-thread xorshift loop with no allocation, I/O or Spark. It is a
    * recorded fact of the host's speed, kept out of every end-to-end metric.
    */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("probe")
    (System.nanoTime() - t0) / 1e9
  }

  private val oldGen: Option[MemoryPoolMXBean] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.find(_.getName.contains("Old Gen"))

  /** Old-generation occupancy after the last collection, in bytes. */
  def oldGenUsed: Long = oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def need(n: String) = arg(args, n).getOrElse(throw new IllegalArgumentException(s"missing $n"))
    val workload = need("--workload")
    val inputs = need("--inputs")
    val work = Paths.get(need("--work"))
    val out = Paths.get(need("--out"))
    val cpus = need("--cpus").toInt
    val traced = args.contains("--trace")

    val tSession = System.nanoTime()
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = (System.nanoTime() - tSession) / 1e9
    val tWarm = System.nanoTime()
    warmup(spark, work.resolve("warmup"))
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setup = Seq(
      "setup_s" -> setupS,
      "session.jvm_s" -> (enteredMs - jvmStartMs) / 1e3,
      "session.spark_s" -> sparkS,
      "session.warmup_s" -> warmupS,
    )

    // A traced run reports no heap metric, so its JVMs skip the samples.
    val it = new Iteration(sampleHeap = !traced)
    var error: Option[String] = None
    val probe = hostProbe()
    val tracer = new Tracer(spark, traced)
    try {
      // --setup-only: the build's run that records the class-data archive.
      if (!args.contains("--setup-only")) tracer.enabledFor(traced) {
        it.time("run_s") {
          workload match {
            case "jhu_daily" => Jhu.iteration(spark, tracer, inputs, work.resolve("iter").toString, it)
            case "dedup_index" =>
              SfOps.dedup(spark, tracer, inputs, it)
              SfOps.index(spark, tracer, inputs, work.resolve("iter").toString, it)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
        }
      }
      it.values("peak_heap_mb") = it.peakHeapMb
      if (traced) {
        tracer.drain()
        Layers.report(tracer, it)
      }
    } catch {
      case e: Throwable =>
        error = Some(e.getClass.getName + ": " + Option(e.getMessage).getOrElse("").take(500))
        e.printStackTrace()
    }

    val suite =
      if (!args.contains("--capture") || error.isDefined) Nil
      else SfOps.suiteFolds(spark, inputs, SfOps.DedupOps ++ SfOps.IndexOps)
    val json = Json.obj(
      "suite" -> Json.obj(suite: _*),
      "workload" -> Json.str(workload),
      "setup" -> Json.obj(setup.map { case (k, v) => k -> Json.num(v) }: _*),
      "host.cpu_probe_s" -> Json.num(probe),
      "error" -> error.map(Json.str).getOrElse("null"),
      "traced" -> traced.toString,
      "values" -> Json.obj(it.values.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "checks" -> Json.obj(it.checks.toSeq: _*),
    )
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    if (error.isDefined) sys.exit(3)
  }

  /** Engine warm-up outside every timed region: the first job, codegen and
    * a parquet round trip, on a few rows.
    */
  private def warmup(spark: SparkSession, dir: Path): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(100).selectExpr("id", "cast(id as string) as s").write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString).selectExpr("sum(id)").collect()
    deleteTree(dir)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally all.close()
    }

  /** Data files (no `_SUCCESS` markers or checksums) under `p`, with sizes. */
  def dataFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val all = Files.walk(p)
      try all.iterator().asScala
          .filter(f => Files.isRegularFile(f))
          .filter { f => val n = f.getFileName.toString; !n.startsWith("_") && !n.startsWith(".") }
          .map(f => f.toString -> Files.size(f))
          .toMap
      finally all.close()
    }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
