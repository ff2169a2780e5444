package graft.weather

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkSpec

/** End-to-end Bronze→Silver golden test over the FIXTURES.md §A fixtures,
  * plus the source/sink surface (S3-S6, F3, F8).
  *
  * The fixture exercises every imputation arm: group-avg (I1 arm 2),
  * all-null group (I1 arm 3), null join keys via the station missing from
  * the dimension (J2 fall-through), derived temperature (I2 arm 2),
  * missing-min guard (I2 arm 3), constant fills (I3), plus dedup, an
  * out-of-vocabulary datatype, and ISO-'T' date parsing.
  */
class WeatherPipelineSpec extends SparkSpec {

  private def resource(name: String): String =
    getClass.getResource(s"/weather/$name").getPath

  private lazy val silver = Silver.pipeline(
    Bronze.pivotToWide(Bronze.readLongCsv(spark, resource("noaa_long.csv"))),
    Bronze.readStationCsv(spark, resource("stations.csv")))

  private lazy val byKey = silver.collect()
    .map(r => (r.getAs[String]("date"), r.getAs[String]("station")) -> r)
    .toMap

  test("S3: CSV source applies the explicit schema (no inference)") {
    val raw = Bronze.readLongCsv(spark, resource("noaa_long.csv"))
    assert(raw.schema == WeatherSchemas.noaaLong)
    assert(raw.count() == 12)
  }

  test("Bronze: dedup + vocabulary filter + pivot shape") {
    val wide = Bronze.pivotToWide(Bronze.readLongCsv(spark, resource("noaa_long.csv")))
    assert(wide.count() == 4) // 4 (date, station) groups
    assert(wide.schema.fieldNames.toSeq ==
      WeatherSchemas.observationsWide.fieldNames.toSeq)
    val w1 = wide.filter("date = '2024-01-15T00:00:00'").collect()(0)
    assert(w1.getAs[Double]("precipitation") == 5.5) // duplicate collapsed
    // FOO never became a column; its value is nowhere
    assert(!wide.schema.fieldNames.contains("FOO"))
  }

  test("Bronze plan: ONE scan, ONE shuffle, no join") {
    // dedup, pivot and first-seen coordinates are one aggregate; a
    // second CSV scan, a second exchange or a join means one of them
    // was planned as an operator of its own
    val plan = Bronze.pivotToWide(
        Bronze.readLongCsv(spark, resource("noaa_long.csv")))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
    assert(!plan.contains("Join"), s"Bronze must not plan a join:\n$plan")
    assert("FileScan csv".r.findAllIn(plan).length == 1,
      s"expected exactly one CSV scan:\n$plan")
  }

  test("golden: I1 arm 2 — null wind imputes from the (year,lat,lon) group avg") {
    val r = byKey(("2024-01-15T00:00:00", "GHCND:TEST1"))
    assert(r.getAs[Double]("avg_wind_speed") == 5.0)
    assert(r.getAs[Double]("wind_direction_2min") == 180.0)
  }

  test("golden: I1 arm 3 — all-null group falls to 0") {
    val r = byKey(("2024-01-10T00:00:00", "GHCND:TEST2"))
    assert(r.getAs[Double]("avg_wind_speed") == 0.0)
    assert(r.getAs[Double]("wind_direction_2min") == 0.0)
  }

  test("golden: J2 — station missing from dimension → null keys → 0") {
    val r = byKey(("2024-03-05T00:00:00", "GHCND:TEST5"))
    assert(r.isNullAt(r.fieldIndex("latitude")))
    assert(r.getAs[Double]("avg_wind_speed") == 0.0)
    // but its own TAVG survives untouched (I2 arm 1)
    assert(r.getAs[Double]("avg_temperature_rounded") == 12.3)
  }

  test("golden: I2 — temperature derives from (min+max)/2, guard to 0") {
    assert(byKey(("2024-01-15T00:00:00", "GHCND:TEST1"))
      .getAs[Double]("avg_temperature_rounded") == 6.0) // (2+10)/2
    assert(byKey(("2024-01-10T00:00:00", "GHCND:TEST2"))
      .getAs[Double]("avg_temperature_rounded") == 0.0) // min missing
  }

  test("golden: I3 — constant fills for wsf2/wt01") {
    val r1 = byKey(("2024-01-15T00:00:00", "GHCND:TEST1"))
    assert(r1.getAs[Double]("fastest_2min_wind") == 0.0)
    assert(r1.getAs[Double]("weather_type_1") == 0.0)
    val r2 = byKey(("2024-02-20T00:00:00", "GHCND:TEST1"))
    assert(r2.getAs[Double]("weather_type_1") == 1.0)
    assert(byKey(("2024-01-10T00:00:00", "GHCND:TEST2"))
      .getAs[Double]("fastest_2min_wind") == 12.0)
  }

  test("golden: F3 — ISO-'T' strings parse to DateType") {
    import org.apache.spark.sql.types.DateType
    assert(silver.schema("Date_1").dataType == DateType)
    assert(byKey(("2024-03-05T00:00:00", "GHCND:TEST5"))
      .getAs[java.sql.Date]("Date_1").toString == "2024-03-05")
  }

  test("golden: full Silver output matches the checked-in golden CSV (A4)") {
    val got = silver.collect().map { r =>
      (0 until r.length).map(i =>
        if (r.isNullAt(i)) "" else r.get(i).toString).mkString(",")
    }.sorted
    val want = scala.io.Source.fromFile(resource("silver_golden.csv"))
      .getLines().toSeq
    assert(silver.schema.fieldNames.mkString(",") == want.head)
    assert(got.toSeq == want.tail.sorted)
  }

  test("WeatherGold: the reference's Gold analytics over the fixture") {
    val series = WeatherGold.stationSeries(silver, "GHCND:TEST1",
      Seq("Date_1", "avg_temperature_rounded")).collect()
    assert(series.map(_.getDouble(1)).toSeq == Seq(6.0, 7.4)) // date order

    val clim = WeatherGold.monthlyClimatology(silver, "avg_temperature_rounded")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(clim.contains(("GHCND:TEST1", 1, 6.0)))
    assert(clim.contains(("GHCND:TEST1", 2, 7.4)))

    val corr = WeatherGold.precipTempCorrelation(silver).collect()(0)
    assert(corr.isNullAt(0)) // single non-null precipitation row → undefined

    val geo = WeatherGold.monthYearGeoSummary(silver,
        Seq("avg_wind_speed")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(geo.contains(("GHCND:TEST1", "2024-01", 5.0)))

    val named = WeatherGold.stationDisplayNames(silver,
        Map("GHCND:TEST1" -> "One", "GHCND:TEST2" -> "Two"))
      .select("station").collect().map(_.getString(0)).toSet
    assert(named == Set("One", "Two", "Unknown"))

    // single-year fixture: the least-squares slope over one x value is
    // undefined (null), intercept degenerates to the yearly mean — the
    // null path np.polyfit would crash on (Weather_API.py:991)
    val trend = WeatherGold.yearlyTemperatureTrend(silver).collect()(0)
    assert(trend.isNullAt(trend.fieldIndex("slope")))
  }

  test("F8: dropNull removes rows null in the chosen subset only") {
    val out = Silver.dropNull(silver, Seq("latitude"))
    assert(out.count() == 3) // TEST5 row dropped
  }

  test("S3 audited: malformed CSV lines quarantine instead of failing/nulling") {
    val (clean, bad) = Bronze.corruptSplit(
      Bronze.readLongCsvAudited(spark, resource("noaa_long_corrupt.csv")))
    assert(clean.count() == 2) // TMAX + PRCP rows
    val badLines = bad.collect().map(_.getString(0))
    assert(badLines.length == 2)
    assert(badLines.exists(_.contains("not parseable")))
    assert(badLines.exists(_.contains("not_a_number")))
  }

  test("S4/S5: in-memory table with explicit schema") {
    val rows = Seq(Row("GHCND:X", "NAME", 1.0, 2.0))
    val df = Bronze.fromRows(spark, rows, WeatherSchemas.station)
    assert(df.schema == WeatherSchemas.station)
    assert(df.collect()(0).getAs[Double]("latitude") == 1.0)
  }

  test("S6: header CSV sink round-trips") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/out"
    Sinks.writeCsv(silver.select("date", "station", "avg_temperature_rounded"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 4)
    assert(back.schema.fieldNames.toSeq ==
      Seq("date", "station", "avg_temperature_rounded"))
  }

  test("S7: collect is reserved for small results and preserves rows") {
    assert(Sinks.collectRows(silver).length == 4)
  }
}
