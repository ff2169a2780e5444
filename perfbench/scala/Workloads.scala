package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Persist, Search, Similarity}
import graft.sources.Tables
import graft.weather.{Bronze, Silver, Sinks, WeatherGold}

/** Times the two halves of one operation: the public call that returns a
  * frame (`build`) and the action that consumes it (`materialize`).
  */
final class Phases {
  var buildNs = 0L
  var materializeNs = 0L

  private def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }

  def build[A](f: => A): A = {
    val (a, ns) = timed(f); buildNs += ns; a
  }

  def materialize[A](f: => A): A = {
    val (a, ns) = timed(f); materializeNs += ns; a
  }
}

/** What an operation hands back after its timed run. Both parts are
  * evaluated only once the pass is over: the output's order-independent
  * digest, and the full check against ground truth, which returns the
  * problems found.
  */
final class Check(digestOf: => String, problemsOf: => Checks.Problems) {
  lazy val digest: String = digestOf
  def problems(): Checks.Problems = problemsOf
}

final case class Op(name: String, run: Phases => Check)

/** One benchmark workload: its seeded inputs and its operations, which
  * run in order once per pass.
  */
abstract class Workload(val name: String) {
  /** Writes the seeded inputs (untimed, after the session start). */
  def generate(spark: SparkSession, seed: Long): Unit
  def ops(spark: SparkSession): Seq[Op]
}

object Workloads {

  def apply(name: String, work: String, seed: Long): Workload = name match {
    case "medallion" => new Medallion(work)
    case "retrieval" => new Retrieval(work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** All output columns hashed and summed in one job: forces every column
    * of every row, returns (rows, order-independent digest).
    */
  def hashAll(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), s"${r.getLong(0)}:${r.get(1)}")
  }

  // ------------------------------------------------- retrieval inputs

  val Dim = 64
  val NumEmbeddings = 400
  val NumAnnQueries = 10
  val K = 5

  /** Floor for the mean recall@5 of the IVF-PQ re-rank against brute
    * force. Every seed measured so far reads 1.0 (well separated clusters,
    * and a 100-candidate shortlist re-ranked exactly); the floor leaves
    * room for a probe miss but not for a broken index.
    */
  val RecallFloor = 0.9

  def annQueryIds(seed: Long): Seq[Long] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    Iterator.continually(1L + rnd.nextInt(NumEmbeddings)).distinct
      .take(NumAnnQueries).toSeq.sorted
  }
}

import Workloads._

/** The paper's Bronze → Silver → Gold pipeline over a seeded NOAA-shaped
  * long CSV: 5 stations, daily, `FirstYear`-`LastYear`.
  */
final class Medallion(work: String) extends Workload("medallion") {
  val FirstYear = 2022
  val LastYear = 2024
  private val in = s"$work/in"
  private val out = s"$work/out"
  private var truth: Gen.NoaaTruth = _

  def generate(spark: SparkSession, seed: Long): Unit =
    truth = Gen.noaa(seed, in, FirstYear, LastYear, files = 8)

  private val imputed = Seq("avg_wind_speed", "wind_direction_2min",
    "fastest_2min_wind", "weather_type_1", "avg_temperature_rounded")

  def ops(spark: SparkSession): Seq[Op] = {
    var stations: DataFrame = null
    var wide: DataFrame = null
    var silver: DataFrame = null
    Seq(
      Op("bronze", ph => {
        val w = ph.build {
          stations = Bronze.readStationCsv(spark, s"$in/stations.csv")
          Bronze.pivotToWide(Bronze.readLongCsv(spark, s"$in/noaa_long"))
        }
        val (n, dig) = ph.materialize(hashAll(w))
        wide = w
        new Check(dig, Checks.equal("wide rows", n, truth.widePairs))
      }),
      Op("silver", ph => {
        val s = ph.build(Silver.pipeline(wide, stations))
        ph.materialize(Sinks.writeCsv(s, s"$out/silver"))
        silver = s
        lazy val back = spark.read.option("header", "true").csv(s"$out/silver")
        lazy val got = rows(back)
        new Check(Checks.digest(got), Checks.silver(back.columns.toSeq, got,
          truth.widePairs, imputed, Gen.MissingStation,
          truth.missingStationPairsWithoutWind))
      }),
      Op("gold", ph => {
        val frames = ph.build(Seq(
          WeatherGold.stationSeries(silver, Gen.Stations.head._1,
            Seq("Date_1", "max_temperature", "min_temperature",
              "precipitation")),
          WeatherGold.monthlyClimatology(silver, "max_temperature"),
          WeatherGold.yearlyTemperatureTrend(silver),
          WeatherGold.precipTempCorrelation(silver),
          WeatherGold.monthYearGeoSummary(silver,
            Seq("max_temperature", "min_temperature", "precipitation"))))
        val outs = ph.materialize(frames.map(rows))
        new Check(outs.map(Checks.digest).mkString("/"), {
          val Seq(series, clim, trend, corr, geo) = outs
          def finite(v: Any) = v != null && !v.asInstanceOf[Double].isNaN
          Checks.equal("station series rows", series.size,
            truth.seriesStationDays) ++
          Checks.equal("monthly climatology rows", clim.size,
            Gen.Stations.size * 12L) ++
          Checks.equal("trend rows", trend.size, 1) ++
          (if (trend.forall(_.forall(finite))) Nil
           else Seq("trend slope/intercept not finite")) ++
          (if (corr.size == 1 && finite(corr.head.head) &&
               math.abs(corr.head.head.asInstanceOf[Double]) <= 1) Nil
           else Seq(s"correlation not one value in [-1, 1]: $corr")) ++
          Checks.equal("month-year geo rows", geo.size, truth.stationMonths)
        })
      }))
  }
}

/** The LLM-pipeline read path: MinHash near-dup clusters, IVF-PQ search
  * with recall against brute force, BM25 and tf-idf cosine retrieval.
  */
final class Retrieval(work: String, seed: Long) extends Workload("retrieval") {
  private val in = s"$work/in"
  private var planted: Seq[(Long, Long)] = _
  private val queryIds = annQueryIds(seed)
  private var bm25Queries: Seq[(Long, String)] = _

  def generate(spark: SparkSession, seed: Long): Unit = {
    planted = Gen.documents(spark, seed, in, numDocs = 300, planted = 20)
    Gen.embeddings(spark, seed, in, NumEmbeddings, Dim, labels = 10)
    val rnd = new java.util.SplittableRandom(seed * 31 + 11)
    bm25Queries = (1L to 4L).map(q =>
      q -> Seq.fill(2 + q.toInt % 2)(Gen.Vocab(rnd.nextInt(Gen.Vocab.size)))
        .mkString(" "))
  }

  def ops(spark: SparkSession): Seq[Op] = {
    import spark.implicits._
    def docs = Tables.documents(spark, in)
    def emb = Tables.embeddings(spark, in)
    Seq(
      Op("dedup", ph => {
        def pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.8)
        val out = ph.build(Dedup.nearDupClusters(pairs))
        val got = ph.materialize(rows(out))
        new Check(Checks.digest(got), {
          // cluster labels are the minimum doc id of each pair component
          val labels = got.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long])
          val edges = rows(pairs).map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long])
          Checks.plantedClustered(labels.toMap, planted) ++
            Checks.components(labels, edges)
        })
      }),
      Op("ann", ph => {
        val out = ph.build {
          val e = emb
          val queries = e.filter(col("vec_id").isin(queryIds: _*))
          val idx = Similarity.buildIvfPqIndex(e, dim = Dim, numCentroids = 8,
            numSubspaces = 16, codebookSize = 32, iterations = 1)
          Similarity.recallAtK(
            Similarity.ivfPqRerankTopK(e, idx, queries, K, shortlist = 100,
              nprobe = 4),
            Similarity.bruteForceTopK(e, queries, K))
        }
        val got = ph.materialize(rows(out))
        lazy val recalls = got.map(_(3).asInstanceOf[Double])
        new Check(
          f"recall=${recalls.sum / recalls.size.max(1)}%.4f/" + Checks.digest(got),
          Checks.recall(recalls, NumAnnQueries, RecallFloor))
      }),
      Op("search", ph => {
        val (bm25, pairs) = ph.build {
          val d = docs
          val text = Search.textIndex(d).transform(Persist.round)
          val shingles = Search.shingleIndex(d).transform(Persist.round)
          (Search.bm25TopK(text, bm25Queries.toDF("query_id", "query_text"), K),
            Search.tfidfCosinePairs(shingles, 0.3))
        }
        val (b, p) = ph.materialize((rows(bm25), rows(pairs)))
        new Check(Checks.digest(b) + "/" + Checks.digest(p), {
          val found = p.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
          val missed = planted.count(!found.contains(_))
          Checks.kPerQuery(b.map(_(0).asInstanceOf[Long]),
            bm25Queries.map(_._1).toSet, K) ++
            (if (missed == 0) Nil else Seq(s"tf-idf pairs miss $missed planted pairs"))
        })
      }))
  }
}
