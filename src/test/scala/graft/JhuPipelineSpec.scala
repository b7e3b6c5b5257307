package graft

import graft.ops._
import org.apache.spark.sql.DataFrame

/** Golden-output tests for the parser/parser2 pipeline equivalents against
  * the reference's exact JSON shape (FIXTURES.md A3/A4): field order, absent
  * keys on lookup miss (E3), zero-fill (E2), first-match join (J1), empty
  * province key format (P5).
  */
class JhuPipelineSpec extends SparkSpec {
  import spark.implicits._

  // A1-shaped facts: empty province; non-empty province; country missing
  // from the lookup.
  private def confirmed: DataFrame =
    Seq(
      ("", "Freedonia", "10.5", "-20.25", "1", "2"),
      ("North", "Sylvania", "1.0", "2.0", "3", "4"),
      ("", "Atlantis", "0.0", "0.0", "5", "6"),
    ).toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "1/23/20")

  private def deaths: DataFrame =
    Seq(("", "Freedonia", "10.5", "-20.25", "0", "1"))
      .toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "1/23/20")

  private def recovered: DataFrame =
    // Note: recovered lacks the 1/23/20 column entirely -> per-date zero-fill.
    Seq(("North", "Sylvania", "1.0", "2.0", "2"))
      .toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20")

  // A2-shaped lookup with a DUPLICATED key: first row (file order) must win (J1).
  private def lookup: DataFrame = Enrich.withFileOrder(
    Seq(
      ("Freedonia", "FD", "10.5", "-20.25"),
      ("Freedonia", "XX", "99.0", "99.0"),
      ("Sylvania", "SY", "1.0", "2.0"),
    ).toDF("Country_Region", "iso2", "Lat", "Long_")
  )

  private def jsonOf(df: DataFrame): Map[String, String] = {
    val rows = Pipelines.toJsonRecords(df).as[String].collect()
    rows.map { j => "\"country/region\":\"([^\"]+)\"".r.findFirstMatchIn(j).get.group(1) -> j }.toMap
  }

  test("parser: golden JSON — field order, first-match enrich, absent keys on miss") {
    val out = jsonOf(Pipelines.parser(confirmed, lookup))
    assert(out("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","value":1},{"date":"2020-01-23 00:00:00","value":2}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,""" +
        """"country-iso2":"FD","country-lat":10.5,"country-long":-20.25}""")
    // Lookup miss: enrich keys ABSENT, not null (E3).
    assert(out("Atlantis") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","value":5},{"date":"2020-01-23 00:00:00","value":6}],""" +
        """"province/state":"","country/region":"Atlantis","lat":0.0,"long":0.0}""")
    assert(out("Sylvania").contains(""""country-iso2":"SY""""))
  }

  test("parser2: golden JSON — three-measure zip, zero-fill for missing sides/dates") {
    val out = jsonOf(Pipelines.parser2(confirmed, deaths, recovered, lookup))
    // Freedonia: deaths matched, recovered missing entirely -> recovered=0.
    assert(out("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":1,"deaths":0,"recovered":0},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":2,"deaths":1,"recovered":0}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,"iso2":"FD"}""")
    // Sylvania: recovered matched but lacks the 1/23 date column -> 0 for that date.
    assert(out("Sylvania") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":3,"deaths":0,"recovered":2},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":4,"deaths":0,"recovered":0}],""" +
        """"province/state":"North","country/region":"Sylvania","lat":1.0,"long":2.0,"iso2":"SY"}""")
    // Atlantis: no lookup match -> iso2 absent.
    assert(!out("Atlantis").contains("iso2"))
  }

  test("record key synthesis: empty province drops the dash (P5/P6)") {
    val keys = Pipelines
      .parser(confirmed, lookup)
      .select(Pipelines.recordKey("confirmed").as("k"))
      .as[String]
      .collect()
      .toSet
    assert(keys == Set(
      "type=confirmed/Freedonia.json",
      "type=confirmed/Sylvania-North.json",
      "type=confirmed/Atlantis.json",
    ))
  }

  test("parser2 over landed CSVs: an empty province joins, keys and serializes as an empty string") {
    // Spark's CSV reader reads an empty field as null; csv.DictReader reads "".
    val dir = java.nio.file.Files.createTempDirectory("graft-jhu-empty").toString
    def land(name: String, rows: String*): String = {
      val f = java.nio.file.Paths.get(dir, s"$name.csv")
      java.nio.file.Files.writeString(f, ("Province/State,Country/Region,Lat,Long,1/22/20,1/23/20" +: rows).mkString("", "\n", "\n"))
      f.toString
    }
    def read(path: String) = graft.sources.Csv.readCsv(spark, path)
    val out = Pipelines.parser2(
      read(land("confirmed", ",Freedonia,10.5,-20.25,1,2")),
      read(land("deaths", ",Freedonia,10.5,-20.25,0,1")),
      read(land("recovered", ",Freedonia,10.5,-20.25,3,4")),
      Enrich.withFileOrder(Seq(("Freedonia", "FD", "10.5", "-20.25")).toDF("Country_Region", "iso2", "Lat", "Long_")),
    )
    assert(jsonOf(out)("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":1,"deaths":0,"recovered":3},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":2,"deaths":1,"recovered":4}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,"iso2":"FD"}""")
    assert(out.select(Pipelines.recordKey("confirmed")).as[String].collect().toSeq == Seq("type=confirmed/Freedonia.json"))
  }
}
