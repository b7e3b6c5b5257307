package graft

import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end equivalents of the reference's two entry points
  * (SURVEY §3.1–§3.2), composed from the ops package.
  *
  * Input contract: JHU-shaped DataFrames — attrs
  * (`Province/State`, `Country/Region`, `Lat`, `Long`) plus a dynamic tail of
  * `M/d/yy` date columns (reference `src/parser.py:88-91`); a lookup table
  * with `Country_Region`, `iso2`, `Lat`, `Long_` and a `__row_id` file-order
  * column (see [[graft.ops.Enrich.withFileOrder]]).
  *
  * Both pipelines are single-stage lineages: scan → projection (unpivot) →
  * broadcast join(s) → projection — no wide shuffle anywhere, so they scale
  * linearly with the fact table.
  */
object Pipelines {

  /** parser.py equivalent (reference `src/parser.py:57-83`): unpivot R1 +
    * first-match enrich J1. Output schema matches FIXTURES.md A3: struct
    * field order = `time_series`, lowercased attrs in CSV order, then the
    * three enrich fields (JSON key order parity, SURVEY §2.6).
    */
  def parser(fact: DataFrame, lookup: DataFrame): DataFrame = {
    val cls = Normalize.classify(fact.columns.toSeq)
    val nested = Unpivot.nest(emptyAttrsAsBlank(fact), cls.dateCols)
    val normalized = nested.select((col("time_series") +: Normalize.lowercasedAttrs(cls)): _*)
    Enrich.enrich(
      normalized,
      lookup,
      factKey = Seq("country/region"),
      lookupKey = Seq("Country_Region"),
      orderCol = "__row_id",
      projections = Seq(
        (col("iso2"), "country-iso2"),
        (col("Lat").cast("double"), "country-lat"),
        (col("Long_").cast("double"), "country-long"),
      ),
    )
  }

  /** parser2.py equivalent (reference `src/parser2.py:84-139`): three-way
    * combine J2/R2 with zero-fill E2, then single-field enrich J3. Output
    * schema matches FIXTURES.md A4.
    */
  def parser2(confirmed: DataFrame, deaths: DataFrame, recovered: DataFrame, lookup: DataFrame): DataFrame = {
    val key = Seq("Country/Region", "Province/State")
    val combined = Combine.combine(
      driver = emptyAttrsAsBlank(confirmed),
      driverMeasure = "confirmed",
      measures = Seq("deaths" -> emptyAttrsAsBlank(deaths), "recovered" -> emptyAttrsAsBlank(recovered)),
      keyCols = key,
    )
    val cls = Normalize.classify(confirmed.columns.toSeq)
    val normalized = combined.select((col("time_series") +: Normalize.lowercasedAttrs(cls)): _*)
    Enrich.enrich(
      normalized,
      lookup,
      factKey = Seq("country/region"),
      lookupKey = Seq("Country_Region"),
      orderCol = "__row_id",
      projections = Seq((col("iso2"), "iso2")),
    )
  }

  /** `csv.DictReader` reads an empty field as `""`; Spark's CSV reader reads
    * it as null. Blank the nulls of the attribute columns (the non-date,
    * non-Lat/Long ones) so an empty `Province/State` joins in
    * [[Combine.combine]], keys its record and serializes as the reference's
    * `""`. Date columns keep their nulls: ANSI mode throws on
    * `cast("" as int)`.
    */
  private def emptyAttrsAsBlank(df: DataFrame): DataFrame =
    df.na.fill("", Normalize.classify(df.columns.toSeq).other)

  /** Output key synthesis (P5/P6, reference `src/parser.py:72-75`):
    * `type=<category>/<country>[-<province>].json`.
    */
  def recordKey(category: String): Column =
    concat(
      lit(s"type=$category/"),
      col("country/region"),
      when(col("province/state") === "", lit("")).otherwise(concat(lit("-"), col("province/state"))),
      lit(".json"),
    )

  /** Serialize records to the reference's JSON shape (field order = struct
    * order; nulls dropped for absent-key parity, reference `src/parser.py:71`).
    */
  def toJsonRecords(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*), Map("ignoreNullFields" -> "true")).as("json"))
}
