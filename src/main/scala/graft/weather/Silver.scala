package graft.weather

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Imputation, Persist}

/** Silver stage: cleaning (SURVEY.md §2.9 I1-I3, §2.8 F3/F5/F7/F8,
  * §2.3 J1-J2) — each step a pure `DataFrame => DataFrame`, composed by
  * [[pipeline]].
  *
  * Silver is a table in the reference's medallion design: the notebook
  * cleans once and every Gold analytic reads the cleaned data
  * (Weather_API.py:215-497, 500-1195). [[pipeline]] keeps that contract
  * by staging once (see there), so its consumers never re-scan the
  * source or re-run the Bronze aggregate. The steps themselves stay
  * lazy; compose them directly to inspect an unstaged Silver plan.
  *
  * Fidelity notes vs the reference (Weather_API.py:215-497):
  *  - station enrichment drops the observation-side coords and takes the
  *    dimension's (Weather_API.py:305, 316-327); the 4-row dimension
  *    broadcasts;
  *  - wind imputation averages over (year, latitude, longitude) and
  *    joins back with `===` semantics: the station missing from the
  *    dimension has null lat/lon, never matches, and falls through to 0
  *    (Weather_API.py:341-391) — both value columns in ONE agg + join;
  *  - avg_temperature imputes from (min+max)/2, both-present guard via
  *    null-propagating arithmetic, else 0 (Weather_API.py:407-413);
  *  - constant fills for fastest_2min_wind / weather_type_1
  *    (Weather_API.py:426, 448);
  *  - `Date_1` parses the ISO-'T' string (Weather_API.py:469), UTC
  *    session pins year/month extraction;
  *  - temperature rounds to 2 dp HALF_UP and the raw column drops
  *    (Weather_API.py:483-490).
  */
object Silver {

  /** J1 — enrich with the station dimension's COORDS (the display name
    * is dropped with the join key — reference keeps only lat/lon at
    * this stage; [[WeatherGold.stationDisplayNames]] re-attaches names
    * where the Gold output wants them).
    */
  def enrichStations(obs: DataFrame, stations: DataFrame): DataFrame = {
    val dim = broadcast(stations)
    obs.drop("latitude", "longitude")
      .join(dim, obs("station") === dim("station_id"), "left")
      .drop("station_id", "name")
  }

  /** P3+F1 — derive the year from the raw ISO date string (reference
    * applies year() to the string column, Weather_API.py:341).
    */
  def withYear(obs: DataFrame): DataFrame =
    // try_to_date: the date arrives as a raw external CSV string that
    // Bronze's corrupt-record audit cannot vet (a syntactically valid
    // CSV line with a malformed date parses "clean"); plain to_date
    // THROWS under Spark's default ANSI mode and would abort the whole
    // pipeline on one bad row — malformed dates become null years and
    // flow to the dropna/quarantine stages instead
    obs.withColumn("year",
      year(expr("try_to_date(substring(date, 1, 10))")))

  /** I1 — group-average wind imputation over (year, lat, lon). */
  def imputeWind(obs: DataFrame): DataFrame =
    Imputation.imputeByGroupAvg(obs,
      Seq("avg_wind_speed", "wind_direction_2min"),
      Seq("year", "latitude", "longitude"),
      default = 0.0, broadcastAvgs = true)

  /** I2 — avg_temperature from (min+max)/2, else 0. */
  def imputeAvgTemperature(obs: DataFrame): DataFrame =
    Imputation.imputeDerived(obs, "avg_temperature",
      (col("min_temperature") + col("max_temperature")) / 2)

  /** I3 — constant fills (Weather_API.py:426, 448). */
  def fillConstants(obs: DataFrame): DataFrame =
    Imputation.fillConstants(obs,
      Map("fastest_2min_wind" -> 0.0, "weather_type_1" -> 0.0))

  /** F3 — parse the ISO-'T' date string to DateType (try_to_date: see
    * [[withYear]] — ANSI mode makes plain to_date throw on dirty rows).
    */
  def parseDate(obs: DataFrame): DataFrame =
    obs.withColumn("Date_1",
      expr("try_to_date(date, \"yyyy-MM-dd'T'HH:mm:ss\")"))

  /** F5+P4 — round temperature to 2 dp, drop the raw column. */
  def roundTemperature(obs: DataFrame): DataFrame =
    obs.withColumn("avg_temperature_rounded", round(col("avg_temperature"), 2))
      .drop("avg_temperature")

  /** F8 — dropna over a column subset (Weather_API.py:843 et al.). */
  def dropNull(obs: DataFrame, cols: Seq[String]): DataFrame =
    obs.na.drop(cols)

  /** Full Bronze-wide → Silver chain (Weather_API.py:305-490 order).
    *
    * Eager: the call stages the enriched frame ([[enrichStations]] +
    * [[withYear]]) through [[Persist.round]] (local blocks by default,
    * reliable files under `spark.graft.checkpointDir`), which runs the
    * upstream plan once. Under adaptive execution that is three Spark
    * jobs: the station broadcast, the Bronze shuffle and the staging
    * itself. The remaining steps build lazily on top of the staged
    * frame. The stage sits before [[imputeWind]], not at the end:
    * the imputation is a group aggregate joined back to its own input,
    * so staging the finished frame would still run the upstream plan
    * twice inside the stage, once per side of that self-join. Staging
    * here runs it once, and the self-join, the Silver sink and every
    * Gold output all read the same blocks. The ContextCleaner frees
    * them once the returned frame, and every frame built on it, is
    * unreferenced and garbage-collected.
    */
  def pipeline(obs: DataFrame, stations: DataFrame): DataFrame = {
    val enriched = Persist.round(withYear(enrichStations(obs, stations)))
    val steps: Seq[DataFrame => DataFrame] = Seq(
      imputeWind,
      imputeAvgTemperature,
      fillConstants,
      parseDate,
      roundTemperature)
    steps.foldLeft(enriched)((df, f) => f(df))
  }
}
