package graft.weather

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze stage: ingestion (SURVEY.md §2.1 S3-S5, §2.4 A5/A9).
  *
  * The reference stages raw CSV through driver-side pandas and pivots in
  * a single-threaded dict (Weather_API.py:76-91, 154, 194). Here both are
  * distributed from the first touch: a schema-applied CSV scan, then ONE
  * hash aggregate on (date, station) that pivots the explicit 10-value
  * vocabulary and picks the coordinates in the same pass (no
  * distinct-values pre-scan, no separate dedup — see [[pivotToWide]]).
  */
object Bronze {

  /** S3 — CSV source with the schema APPLIED (fixing the reference's
    * dead-schema bug by intent, Weather_API.py:175-194).
    */
  def readLongCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(WeatherSchemas.noaaLong).csv(path)

  /** S3, audit-grade: PERMISSIVE parse with malformed lines captured in a
    * `_corrupt_record` column instead of silently nulled or failing the
    * job — at ingest scale some malformed lines are a certainty, and the
    * split lets the pipeline load clean rows while quarantining bad ones
    * ([[corruptSplit]]).
    */
  def readLongCsvAudited(spark: SparkSession, path: String): DataFrame = {
    val schema = WeatherSchemas.noaaLong
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(path)
  }

  /** Split an audited read into (clean rows, quarantined raw lines).
    *
    * The INPUT frame is cached (PERMISSIVE's corrupt column is only
    * referable from a cached/re-read plan — the documented Spark
    * pattern) and stays cached: the caller owns the lifecycle and
    * releases it with `df.unpersist()` on the handle they passed once
    * both splits are consumed — otherwise the raw parse stays pinned in
    * storage memory for the application lifetime.
    */
  def corruptSplit(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    val clean = cached.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = cached.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record")
    (clean, bad)
  }

  /** S3 — station dimension CSV (Weather_API.py:287-295 shape). */
  def readStationCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(WeatherSchemas.station).csv(path)

  /** S4/S5 — in-memory table from driver rows with explicit schema
    * (`createDataFrame(rows, schema)`, Weather_API.py:194, 295).
    */
  def fromRows(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 1000)),
      schema)

  /** A5 + A9 — dedup raw records, drop out-of-vocabulary datatypes
    * (Weather_API.py:78, 119), pivot long→wide, and attach first-seen
    * coordinates (Weather_API.py:86-88; `min` as the deterministic
    * stand-in for first-seen — SURVEY.md §7.4 tie-break note).
    *
    * One scan, one shuffle, one aggregate: each wide column is a
    * conditional `max(when(datatype = dt, value))` and the coordinates
    * are `min`s, all in a single groupBy on (date, station). `max` and
    * `min` are idempotent, so exact duplicate records cannot change any
    * cell and the reference's dedup needs no operator of its own.
    * [[graft.operators.Pivot.longToWide]] is not used: Spark plans its
    * pivot as two aggregates, and the coordinates would then need a
    * second aggregate, a second scan of the source and a join.
    */
  def pivotToWide(raw: DataFrame): DataFrame = {
    val cells = WeatherSchemas.columnsMapping.map { case (dt, name) =>
      max(when(col("datatype") === dt, col("value"))).as(name)
    }
    raw
      .filter(col("datatype").isin(WeatherSchemas.datatypeVocabulary: _*))
      // a record without a date or station is no observation: drop it
      // EXPLICITLY so the loss is a documented filter, not a plan artifact
      .filter(col("date").isNotNull && col("station").isNotNull)
      .groupBy("date", "station")
      .agg(min("latitude").as("latitude"),
        (min("longitude").as("longitude") +: cells): _*)
      .select(WeatherSchemas.observationsWide.fieldNames.map(col): _*)
  }
}
