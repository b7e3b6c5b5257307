package graft.perfbench

import graft.Pipelines
import graft.ops.{Enrich, Lake, Sink}
import graft.sources.Csv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FileSourceScanExec

import java.nio.file.Paths

/** The paper's nightly job over landed CSVs, then SQL over the lake it wrote:
  * `parser2` to the flat JSON output, `parser` once per measure to the
  * `type=`-partitioned lake, then a fixed Athena-style query set.
  */
object Jhu {
  val Measures = Seq("confirmed", "deaths", "recovered")
  val RangeFrom = "2021-01-01 00:00:00"
  val RangeTo = "2021-03-31 00:00:00"
  val TopK = 10
  val LakeRounds = 3

  /** The lake query set; the gate compares each answer with closed form. */
  val Queries: Seq[(String, String)] = Seq(
    // partition-pruned per-country latest value
    "latest" ->
      """SELECT count(*) AS countries, sum(latest) AS total FROM (
        |  SELECT `country/region` AS country, sum(element_at(time_series, -1).value) AS latest
        |  FROM jhu_lake WHERE type = 'deaths' GROUP BY `country/region`)""".stripMargin,
    // top-k countries by deaths over the exploded series
    "topk" ->
      s"""SELECT `country/region` AS country, sum(p.value) AS total
         |FROM jhu_lake LATERAL VIEW explode(time_series) t AS p
         |WHERE type = 'deaths' GROUP BY `country/region`
         |ORDER BY total DESC, country LIMIT $TopK""".stripMargin,
    // date-range global sum
    "range" ->
      s"""SELECT sum(p.value) AS total
         |FROM jhu_lake LATERAL VIEW explode(time_series) t AS p
         |WHERE type = 'confirmed' AND p.date BETWEEN '$RangeFrom' AND '$RangeTo'""".stripMargin,
  )

  def iteration(spark: SparkSession, tr: Tracer, in: String, root: String, it: Main.Iteration): Unit = {
    val flatPath = s"$root/flat"
    val lakePath = s"$root/lake"
    it.time("etl_s") {
      val read = tr.span("sources.read") {
        val facts = Measures.map(m => m -> asDictReader(Csv.readCsv(spark, s"$in/$m.csv"))).toMap
        val lookup = Enrich.withFileOrder(Csv.readCsv(spark, s"$in/lookup.csv"))
        (facts.values.toSeq :+ lookup).foreach(tr.force)
        (facts, lookup)
      }
      val combined = planned(tr, Pipelines.parser2(read._1("confirmed"), read._1("deaths"), read._1("recovered"), read._2))
      written(tr, flatPath)(Sink.flatJson(combined, flatPath))
      it.boundary()
      Measures.foreach { m =>
        val records = planned(tr, Pipelines.parser(read._1(m), read._2))
        written(tr, lakePath)(Sink.partitionedJson(records, m, lakePath))
      }
    }
    // The query set runs LakeRounds times over the same lake, each round
    // registering the table (schema inference) afresh. lake_query_s is the
    // median round, so one slow round (the first is cold) does not move it.
    val rounds = (0 until LakeRounds).map { r =>
      val key = s"lake_round_$r"
      val answers = it.time(key)(queryLake(spark, tr, lakePath))
      (it.values(key), answerChecks(answers))
    }
    it.values("lake_query_s") = rounds.map(_._1).sorted.apply(LakeRounds / 2)
    it.boundary()
    it.untimed {
      // Every round must give the same answers; the gate checks them once.
      rounds.head._2.foreach { case (k, v) =>
        it.checks(k) = if (rounds.forall(_._2(k) == v)) v else Json.str(s"the $LakeRounds rounds disagree")
      }
      gate(spark, it, flatPath)
    }
  }

  private def queryLake(spark: SparkSession, tr: Tracer, lakePath: String): Map[String, Array[org.apache.spark.sql.Row]] = {
    tr.span("lake.infer")(Lake.registerTable(spark, lakePath, "jhu_lake"))
    Queries.map { case (name, sql) =>
      name -> tr.span("lake.query") {
        val ds = spark.sql(sql)
        val rows = ds.collect()
        if (tr.enabled) tr.overhead(scans(ds, lakePath).foreach { case (read, total) =>
          tr.current.foreach { s => s.add("files_read", read); s.add("files_total", total) }
        })
        rows
      }
    }.toMap
  }

  /** The landed CSV as the reference's `csv.DictReader` reads it: an empty
    * `Province/State` is `""`. Spark's CSV reader gives null there, and
    * `Combine.combine` joins on the key with `=`, so without this every
    * empty-province row loses its deaths and recovered series (README.md,
    * "A defect the gate found"). Once the program reads `""`, this is a no-op.
    */
  private def asDictReader(df: DataFrame): DataFrame = df.na.fill("", Seq("Province/State"))

  /** The pipeline as the job builds it; traced, its construction (which
    * analyzes the plan eagerly) is a span of its own. Optimization and
    * physical planning run inside the write (see `written`).
    */
  private def planned(tr: Tracer, build: => DataFrame): DataFrame = tr.span("pipelines.analyze")(build)

  /** A sink call. Traced, its span also records the write's own planning
    * phases (`df.write` optimizes and plans the pipeline in a command
    * execution of its own), the optimized plan's expression nodes, the
    * whole-stage-codegen subtrees it compiled into, and the files it wrote.
    */
  private def written(tr: Tracer, path: String)(write: => Unit): Unit = {
    val before = if (tr.enabled) tr.overhead(Main.dataFiles(Paths.get(path))) else Map.empty[String, Long]
    var span: Option[Span] = None
    tr.span("sink.write") { span = tr.current; write }
    for (s <- span) tr.overhead {
      val fresh = Main.dataFiles(Paths.get(path)) -- before.keys
      s.add("files", fresh.size.toDouble)
      s.add("bytes", fresh.values.sum.toDouble)
      tr.drain()
      tr.writes.drain().foreach { qe =>
        val phases = qe.tracker.phases
        def phase(n: String) = phases.get(n).map(p => p.durationMs / 1e3).getOrElse(0.0)
        s.add("analysis_s", phase(QueryPlanningTracker.ANALYSIS))
        s.add("plan_s", phase(QueryPlanningTracker.OPTIMIZATION) + phase(QueryPlanningTracker.PLANNING))
        s.add("exprs", qe.optimizedPlan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum.toDouble)
        s.add("codegen", Tracer.nodes(qe.executedPlan).count(_.nodeName.startsWith("WholeStageCodegen")).toDouble)
      }
    }
  }

  /** (files read, files in the lake) of each file scan in the executed plan. */
  private def scans(ds: DataFrame, lakePath: String): Seq[(Double, Double)] = {
    val total = Main.dataFiles(Paths.get(lakePath)).size.toDouble
    Tracer.nodes(ds.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      (s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0), total)
    }
  }

  /** The query set's answers, as the caller checks them against closed form. */
  private def answerChecks(answers: Map[String, Array[org.apache.spark.sql.Row]]): Map[String, String] = {
    val latest = answers("latest").head
    Map(
      "latest" -> Json.arr(Seq(latest.getLong(0).toString, latest.getLong(1).toString)),
      "topk" -> Json.arr(answers("topk").toSeq.map(r => Json.arr(Seq(Json.str(r.getString(0)), r.getLong(1).toString)))),
      "range" -> answers("range").head.getLong(0).toString,
    )
  }

  /** The other answers the caller checks against closed form: the lake's and
    * the flat output's record counts and per-measure sums, and every
    * record's first-match `iso2`.
    */
  private def gate(spark: SparkSession, it: Main.Iteration, flatPath: String): Unit = {
    val perType = spark
      .sql("""SELECT type, count(*) AS n, sum(aggregate(time_series, 0L, (a, p) -> a + p.value)) AS total
             |FROM jhu_lake GROUP BY type ORDER BY type""".stripMargin)
      .collect()
    it.checks("lake_sums") = Json.obj(perType.toSeq.map(r => r.getString(0) -> r.getLong(2).toString): _*)
    it.checks("lake_counts") = Json.obj(perType.toSeq.map(r => r.getString(0) -> r.getLong(1).toString): _*)
    it.checks("lake_records") = perType.map(_.getLong(1)).sum.toString
    it.checks("lake_iso2") = iso2Pairs(spark.sql("SELECT `country/region` AS c, `country-iso2` AS i FROM jhu_lake WHERE type = 'confirmed'"))
    val flat = spark.read.json(flatPath)
    flat.createOrReplaceTempView("jhu_flat")
    val f = spark
      .sql("""SELECT count(*),
             |  sum(aggregate(time_series, 0L, (a, p) -> a + p.confirmed)),
             |  sum(aggregate(time_series, 0L, (a, p) -> a + p.deaths)),
             |  sum(aggregate(time_series, 0L, (a, p) -> a + p.recovered))
             |FROM jhu_flat""".stripMargin)
      .head()
    it.checks("flat_records") = f.getLong(0).toString
    it.checks("flat_sums") = Json.obj(Measures.zipWithIndex.map { case (m, i) => m -> f.getLong(i + 1).toString }: _*)
    it.checks("flat_iso2") = iso2Pairs(spark.sql("SELECT `country/region` AS c, iso2 AS i FROM jhu_flat"))
  }

  private def iso2Pairs(df: DataFrame): String =
    Json.arr(df.orderBy("c").collect().toSeq.map(r => Json.arr(Seq(Json.str(r.getString(0)), Option(r.getString(1)).map(Json.str).getOrElse("null")))))
}
