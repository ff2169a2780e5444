package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is a pure function of the seed:
  * the same seed writes byte-identical files. Sizes are fixed (only the
  * content moves with the seed), so runs on different seeds do the same
  * amount of work.
  */
object Gen {

  // ---------------------------------------------------------------- NOAA

  /** Observation stations: (id, name, lat, lon). The last one is left out
    * of the station dimension, so Silver's null-key arm stays live.
    */
  val Stations: Seq[(String, String, Double, Double)] = Seq(
    ("GHCND:USW00094728", "NY CITY CENTRAL PARK, NY US", 40.77898, -73.96925),
    ("GHCND:USW00014732", "LAGUARDIA AIRPORT, NY US", 40.77945, -73.88027),
    ("GHCND:USW00094789", "JFK INTERNATIONAL AIRPORT, NY US", 40.63915, -73.76390),
    ("GHCND:USW00054743", "CALDWELL ESSEX CO AIRPORT, NJ US", 40.87645, -74.28284),
    ("GHCND:USW00013874", "ATLANTA HARTSFIELD INTL AIRPORT, GA US", 33.62972, -84.44224))

  val MissingStation: String = Stations.last._1

  /** Per-code presence probability: AWND and TAVG are sparse so both
    * imputation arms run; EVAP is outside the 10-code vocabulary.
    */
  private val CodeProb: Seq[(String, Double)] = Seq(
    "PRCP" -> 0.97, "SNOW" -> 0.7, "SNWD" -> 0.7, "TMAX" -> 0.95,
    "TMIN" -> 0.95, "AWND" -> 0.45, "WDF2" -> 0.6, "WSF2" -> 0.6,
    "WT01" -> 0.3, "TAVG" -> 0.35, "EVAP" -> 0.25)

  /** Ground truth the medallion checks compare against. */
  final case class NoaaTruth(
      widePairs: Long,
      stationMonths: Long,
      missingStationPairsWithoutWind: Long,
      seriesStationDays: Long)

  /** Writes the long-format CSV (split over `files` part files) and the
    * station dimension CSV; returns the ground truth.
    */
  def noaa(seed: Long, dir: String, firstYear: Int, lastYear: Int,
      files: Int): NoaaTruth = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val longDir = new File(s"$dir/noaa_long"); longDir.mkdirs()
    val outs = (0 until files).map { i =>
      val w = new BufferedWriter(new FileWriter(f"$longDir/part-$i%05d.csv"))
      w.write("date,station,latitude,longitude,datatype,value\n"); w
    }
    var pairs = 0L
    var noWind = 0L
    var seriesDays = 0L
    val months = mutable.HashSet.empty[(String, Int, Int)]
    var day = LocalDate.of(firstYear, 1, 1)
    val end = LocalDate.of(lastYear, 12, 31)
    var dayIdx = 0
    while (!day.isAfter(end)) {
      val date = s"${day}T00:00:00"
      val seasonal = -10.0 * math.cos(2 * math.Pi * day.getDayOfYear / 365.25)
      for ((st, _, lat, lon) <- Stations) {
        val out = outs((dayIdx + st.hashCode.abs) % files)
        var inVocab = false
        var wind = false
        for ((code, p) <- CodeProb if rnd.nextDouble() < p) {
          val v = code match {
            case "TMAX" => 20.0 + seasonal + rnd.nextDouble() * 8
            case "TMIN" => 8.0 + seasonal + rnd.nextDouble() * 8
            case "TAVG" => 14.0 + seasonal + rnd.nextDouble() * 4
            case "AWND" => 0.5 + rnd.nextDouble() * 9
            case "WT01" => 1.0
            case _ => math.floor(rnd.nextDouble() * 400) / 10
          }
          val line = f"$date,$st,$lat,$lon,$code,$v%.1f\n"
          out.write(line)
          // ~1% planted exact duplicates (Bronze's dropDuplicates arm)
          if (rnd.nextDouble() < 0.01) out.write(line)
          if (code != "EVAP") inVocab = true
          if (code == "AWND") wind = true
        }
        if (inVocab) {
          pairs += 1
          months += ((st, day.getYear, day.getMonthValue))
          if (st == MissingStation && !wind) noWind += 1
          if (st == Stations.head._1) seriesDays += 1
        }
      }
      day = day.plusDays(1); dayIdx += 1
    }
    outs.foreach(_.close())
    val sw = new BufferedWriter(new FileWriter(s"$dir/stations.csv"))
    sw.write("station_id,name,latitude,longitude\n")
    for ((st, name, lat, lon) <- Stations.init)
      sw.write(s"""$st,"$name",$lat,$lon\n""")
    sw.close()
    NoaaTruth(pairs, months.size.toLong, noWind, seriesDays)
  }

  // ------------------------------------------------- documents, vectors

  /** A word vocabulary in the style of the sf0.1 `documents` corpus. */
  val Vocab: IndexedSeq[String] = (
    "batch part spark line column order small sort fast value scan hash " +
    "slow group agg filter query big key window row table stream merge " +
    "data vector join index shuffle plan cache task stage driver node " +
    "graph edge rank score token shard page block frame record field " +
    "schema parquet delta lake tier gold silver bronze")
    .split(" ").toIndexedSeq

  /** Writes `documents` (doc_id, text) with `planted` near-duplicates:
    * each copies an original and appends one extra word, so its 3-shingle
    * Jaccard to the original is ≥ 0.96. Returns the planted
    * (original, copy) id pairs.
    */
  def documents(spark: SparkSession, seed: Long, dir: String, numDocs: Int,
      planted: Int): Seq[(Long, Long)] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val docs = (1 to numDocs).map { id =>
      val n = 30 + rnd.nextInt(60)
      id.toLong -> Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val step = numDocs / planted
    val dups = (0 until planted).map { i =>
      val (id, text) = docs(i * step)
      (id, 1000000L + id) -> s"$text ${Vocab(rnd.nextInt(Vocab.size))}"
    }
    val rows = docs.map { case (id, t) => Row(id, t) } ++
      dups.map { case ((_, copy), t) => Row(copy, t) }
    writeParquet(spark, rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))), s"$dir/documents.parquet")
    dups.map(_._1)
  }

  /** Writes `embeddings` (vec_id, embedding array<float>, label): `dim`
    * dimensions around `labels` cluster centres, the sf0.1 shape.
    */
  def embeddings(spark: SparkSession, seed: Long, dir: String, num: Int,
      dim: Int, labels: Int): Unit = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    val centres = Array.fill(labels, dim)(rnd.nextDouble() * 2 - 1)
    val rows = (1 to num).map { id =>
      val l = rnd.nextInt(labels)
      val v = Array.tabulate(dim) { j =>
        (centres(l)(j) + 0.35 * (rnd.nextDouble() + rnd.nextDouble() +
          rnd.nextDouble() - 1.5)).toFloat
      }
      Row(id.toLong, v.toSeq, l)
    }
    writeParquet(spark, rows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), s"$dir/embeddings.parquet")
  }

  private def writeParquet(spark: SparkSession, rows: Seq[Row],
      schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)
}
