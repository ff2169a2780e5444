package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec
import graft.functions.{TopKAggregate, VectorFunctions}

/** The float and int8 IVF probes ([[Similarity.ivfTopK]],
  * [[Similarity.probeIvfQuantized]]) rank each query's probed lists with
  * the driver-side coarse probe the IVF-PQ rung uses. These specs keep
  * the earlier per-query `row_number` window probes as the reference and
  * require the same candidates with the same raw double bits, plus the
  * contracts, the shared store and maintenance paths, and job counts.
  */
class IvfProbeSpec extends SparkSpec {
  import spark.implicits._

  private val dot = Similarity.dot _

  // ------------------------------------------------ reference (window form)

  /** Each query's `nprobe` nearest centroids by a window over the
    * query × centroid cosines (desc, ties to the lowest cid).
    */
  private def refRanked(probes: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__qs").desc, col("cid").asc)
    probes.join(broadcast(cents))
      .withColumn("__qs", Similarity.cosine(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wq))
      .filter(col("__pr") <= nprobe)
  }

  /** The float probe over assigned lists (cid, neighbor_id, __v). */
  private def refFloatScores(assigned: DataFrame, cents: DataFrame,
      queries: DataFrame, nprobe: Int): DataFrame =
    refRanked(queries
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
        .filter(dot(col("__qv"), col("__qv")) > 0), cents, nprobe)
      .select(col("query_id"), col("__qv"), col("cid"))
      .join(assigned, "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__v")).as("sim"))

  /** The int8 probe: staged probes, collected cids, `isin` in the
    * lists' cid type.
    */
  private def refQuantizedScores(index: IvfIndex, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val probes = refRanked(queries
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
        .withColumn("__qc", VectorFunctions.int8Quantize(col("__qv"))
          .getField("codes"))
        .withColumn("__qn", sqrt(dot(col("__qc"), col("__qc"))))
        .filter(col("__qn") > 0), index.centroids, nprobe)
      .select(col("query_id"), col("__qc"), col("__qn"), col("cid"))
      .transform(Persist.round)
    val cidType = index.lists.schema("cid").dataType
    val probedCids = probes.select(col("cid").cast(cidType)).distinct()
      .collect().map(_.get(0)).toSeq
    probes.join(index.lists.filter(col("cid").isin(probedCids: _*)), "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("__qc"), col("codes")) / (col("__qn") * col("norm")))
          .as("sim"))
  }

  private def refTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKAggregate.topKBy(col("neighbor_id"), col("sim"), k).as("__top"))
      .select(col("query_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"),
        (col("__pos") + 1).as("rank"), round(col("__e.score"), 4).as("sim"))

  /** Rows as a sorted multiset, doubles by their raw bits. */
  private def bits(df: DataFrame): Seq[String] = df.collect().map(
    _.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString(",")).toSeq.sorted

  private def assertSameBits(got: DataFrame, want: DataFrame,
      clue: String): Unit = {
    val (g, w) = (bits(got), bits(want))
    if (g != w) {
      fail(s"$clue: ${g.diff(w).size} rows only in the result " +
        s"(${g.diff(w).take(2)}), ${w.diff(g).size} only in the " +
        s"reference (${w.diff(g).take(2)})")
    }
  }

  private def scores(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("neighbor_id"), col("sim"))

  // -------------------------------------------------------------- fixtures

  /** 48 random 8-dim vectors. Ids 0 and 1 hold the same vector, so
    * without Lloyd sweeps the two lowest-id centroids tie on every
    * query's cosine; id 5 is zero (never a centroid, a zero-norm query).
    */
  private def corpus(seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    val base = Array.fill(48)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    base(1) = base(0).clone()
    base(5) = Array.fill(8)(0f)
    base.indices.map(i => (i.toLong, base(i).toSeq)).toDF("vec_id", "embedding")
  }

  /** Queries from the corpus (self-matches, the zero vector), one id
    * outside it, one with a NaN component, and one whose only non-zero
    * component is NaN (its int8 codes are all zero).
    */
  private def queriesOf(emb: DataFrame, seed: Long): DataFrame = {
    val extra = Seq(
        (1000L, Seq.tabulate(8)(j => ((j * seed) % 5).toFloat - 2f)),
        (1001L, Seq.tabulate(8)(j => if (j == 3) Float.NaN else j - 3.5f)),
        (1002L, Seq.tabulate(8)(j => if (j == 6) Float.NaN else 0f)))
      .toDF("vec_id", "embedding")
    emb.filter($"vec_id".isin(0L, 1L, 2L, 5L, 7L, 11L, 30L))
      .unionByName(extra)
  }

  /** (seed, coarse Lloyd sweeps): 0 sweeps keeps the tied centroids. */
  private val cases = Seq((3L, 0), (5L, 1), (11L, 0), (4L, 2))

  /** The float lists of `index`: its assignment, the corpus vectors. */
  private def floatLists(index: IvfIndex, emb: DataFrame): DataFrame =
    index.lists.select(col("cid"), col("neighbor_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__v")), "neighbor_id")

  // ----------------------------------------------------------------- specs

  test("ivfTopK and probeIvfQuantized ≡ the window probes, raw double " +
      "bits: cosine ties, self-matches, zero-norm and NaN queries, " +
      "nprobe >= C, k > candidates") {
    for ((seed, sweeps) <- cases) {
      val emb = corpus(seed)
      val queries = queriesOf(emb, seed)
      val idx = Similarity.buildIvfIndex(emb, numCentroids = 4,
        kmeansIterations = sweeps)
      if (sweeps == 0) {
        val tied = idx.centroids.filter($"cid" < 2).select($"__cv")
          .as[Seq[Float]].collect()
        assert(tied.length == 2 && tied(0) == tied(1), "tie fixture lost")
      }
      val assigned = floatLists(idx, emb)
      for (nprobe <- Seq(1, 2, 4, 7)) {
        val clue = s"seed $seed sweeps $sweeps nprobe $nprobe"
        val wantF = refFloatScores(assigned, idx.centroids, queries, nprobe)
        val wantQ = refQuantizedScores(idx, queries, nprobe)
        assert(!wantF.isEmpty && !wantQ.isEmpty, s"$clue: no candidates")
        assertSameBits(scores(Similarity.ivfTopKScores(assigned,
          idx.centroids, queries, nprobe, "vec_id", "embedding")), wantF,
          s"$clue float")
        assertSameBits(scores(Similarity.probeIvfQuantizedScores(idx,
          queries, nprobe, "vec_id", "embedding")), wantQ, s"$clue int8")
        for (k <- Seq(3, 100)) {
          assertSameBits(Similarity.ivfTopK(emb, queries, k,
            numCentroids = 4, nprobe = nprobe, kmeansIterations = sweeps),
            refTopK(wantF, k), s"$clue float k $k")
          assertSameBits(Similarity.probeIvfQuantized(idx, queries, k, nprobe),
            refTopK(wantQ, k), s"$clue int8 k $k")
        }
      }
      // the zero-norm query is excluded from both, the NaN-only query
      // from the int8 probe (its codes are zero)
      val top = Similarity.probeIvfQuantized(idx, queries, 100, nprobe = 7)
      assert(top.filter($"query_id".isin(5L, 1002L)).isEmpty)
      assert(top.filter($"query_id" === $"neighbor_id").isEmpty)
      assert(Similarity.ivfTopK(emb, queries, 5, numCentroids = 4,
        kmeansIterations = sweeps).filter($"query_id" === 5L).isEmpty)
    }
  }

  test("probeIvfQuantized on a stored index (hive-narrowed int cid) ≡ the " +
      "window probe; an empty query set yields no rows") {
    for ((seed, sweeps) <- cases) {
      val emb = corpus(seed)
      val queries = queriesOf(emb, seed)
      val path = Files.createTempDirectory("graft_ivfprobe").toString
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(emb,
        numCentroids = 4, kmeansIterations = sweeps), path)
      val stored = Similarity.readIvfIndex(spark, path)
      assert(stored.lists.schema("cid").dataType == IntegerType)
      for (nprobe <- Seq(1, 3)) {
        assertSameBits(scores(Similarity.probeIvfQuantizedScores(stored,
          queries, nprobe, "vec_id", "embedding")),
          refQuantizedScores(stored, queries, nprobe),
          s"seed $seed nprobe $nprobe")
      }
      val none = queries.filter(lit(false))
      assert(Similarity.probeIvfQuantized(stored, none, 3).isEmpty)
      assert(Similarity.ivfTopK(emb, none, 3, numCentroids = 4).isEmpty)
    }
  }

  test("ivfTopK and probeIvfQuantized: a repeated query id fails naming " +
      "it") {
    val emb = corpus(3L)
    val dup = emb.filter($"vec_id".isin(2L, 7L))
      .unionByName(emb.filter($"vec_id" === 7L))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, dup, 3, numCentroids = 4, nprobe = 2)
    }
    assert(e1.getMessage.contains("ivfTopK: duplicate query id 7"),
      e1.getMessage)
    val idx = Similarity.buildIvfIndex(emb, numCentroids = 4)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.probeIvfQuantized(idx, dup, 3, nprobe = 2)
    }
    assert(e2.getMessage.contains("probeIvfQuantized: duplicate query id 7"),
      e2.getMessage)
    // distinct ids still probe
    assert(Similarity.probeIvfQuantized(idx, dup.distinct(), 3, nprobe = 2)
      .count() == 6L)
  }

  test("ivfTopK and probeIvfQuantized: a query of another dimension than " +
      "the centroids fails naming both dimensions") {
    val emb = corpus(5L)
    val short = Seq((900L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, short, 3, numCentroids = 4)
    }
    assert(e1.getMessage.contains("ivfTopK: expected dim 8, got 4"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.probeIvfQuantized(Similarity.buildIvfIndex(emb,
        numCentroids = 4), short, 3)
    }
    assert(e2.getMessage.contains("probeIvfQuantized: expected dim 8, got 4"),
      e2.getMessage)
  }

  /** The compaction fixture of SimilaritySpec's maintenance test: 8 axis
    * clusters, and a dense blob on a frozen decision boundary that
    * arrives as the batch (recall falls under 0.95, compaction runs).
    */
  private def jit(i: Long, j: Int, s: Double) =
    ((((i * 37 + j * 13) % 991) / 991.0 - 0.5) * s).toFloat
  private lazy val axisBase = (0L until 96L).map { i =>
    (i, Seq.tabulate(16)(j =>
      (if (j == (i % 8).toInt * 2) 10f else 0f) + jit(i, j, 1.0)))
  }.toDF("vec_id", "embedding")
  private lazy val blob = (100L until 220L).map { i =>
    (i, Seq.tabulate(16)(j =>
      (if (j == 0 || j == 2) 5f else 0f) + jit(i, j, 1.5)))
  }.toDF("vec_id", "embedding")

  private def storedBase(): String = {
    val dir = Files.createTempDirectory("graft_ivfmaint").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(axisBase,
      numCentroids = 8, kmeansIterations = 2), dir)
    dir
  }

  test("maintainIvfIndex: an empty or all-zero-norm probe set fails " +
      "with the named message") {
    val zero = Seq((999L, Seq.fill(16)(0f))).toDF("vec_id", "embedding")
    for (probes <- Seq(blob.filter(lit(false)), zero)) {
      val e = intercept[IllegalArgumentException] {
        Similarity.maintainIvfIndex(spark, storedBase(), blob, probes,
          recallFloor = 0.95)
      }
      assert(e.getMessage.contains(
        "maintainIvfIndex: probes produced no recall rows"), e.getMessage)
    }
  }

  test("int8 build -> append -> maintain on the reliable checkpoint " +
      "backend: identical reports and stored lists, staged files under " +
      "the checkpoint dir") {
    def run(): (Similarity.IvfMaintenanceReport, Set[String]) = {
      val dir = storedBase()
      Similarity.appendToStoredIvfIndex(spark, dir,
        blob.filter($"vec_id" < 160))
      val report = Similarity.maintainIvfIndex(spark, dir,
        blob.filter($"vec_id" >= 160), blob.filter($"vec_id" < 130),
        recallFloor = 0.95)
      (report, bits(Similarity.readIvfIndex(spark, dir).lists
        .select($"cid".cast("long"), $"neighbor_id", $"scale",
          $"codes".cast("string"), $"norm")).toSet)
    }
    val local = run()
    assert(local._1.compacted, s"fixture should compact: ${local._1}")
    val ckpt = Files.createTempDirectory("graft_ivf_ckpt")
    try {
      spark.conf.set(Persist.CheckpointDirKey, ckpt.toString)
      val reliable = run()
      assert(reliable._1 == local._1, "report moved on the reliable backend")
      assert(reliable._2 == local._2,
        "stored lists moved on the reliable backend")
      val staged = Files.walk(ckpt).filter(Files.isRegularFile(_)).count()
      assert(staged > 0L, s"no checkpoint files under $ckpt")
    } finally {
      spark.conf.unset(Persist.CheckpointDirKey)
    }
  }

  test("encodePqLists: one entry per batch row, also for a repeated id; " +
      "the build plan has no join back on neighbor_id") {
    val emb = corpus(5L)
    val idx = Similarity.buildIvfPqIndex(emb, dim = 8, numCentroids = 4,
      numSubspaces = 2, codebookSize = 4, iterations = 1)
    val batch = emb.filter($"vec_id".isin(2L, 7L, 9L))
      .unionByName(emb.filter($"vec_id" === 7L))
    val empty = idx.copy(lists = idx.lists.filter(lit(false)))
    assert(Similarity.appendToIvfPqIndex(empty, batch).lists.count() == 4L)
    val plan = idx.lists.queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*BroadcastHashJoin \\[neighbor_id.*"), plan)
  }

  /** A 64-dim corpus written to parquet, so the counted calls scan files
    * as a stored corpus does.
    */
  private lazy val parquetCorpus: DataFrame = {
    val rnd = new java.util.Random(17L)
    val path = Files.createTempDirectory("graft_ivfjobs").toString
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("ivfTopK, probeIvfQuantized and maintainIvfIndex: Spark jobs per " +
      "call pinned") {
    // Measured with the local[4] test session; (call, call + collect)
    // for the probes, the whole pass for maintenance. The window probes
    // ran (1, 5), (5, 8) and 53: the float probe ranked in a window
    // shuffle at the action (the driver probe collects the queries at
    // the call instead), the int8 probe staged its ranking and collected
    // the probed cids at the call, and maintenance re-read the centroids
    // after its append and compacted through a C-way join.
    val emb = parquetCorpus
    val queries = emb.filter($"vec_id" < 10)
    val idx = Similarity.buildIvfIndex(emb, numCentroids = 8,
      kmeansIterations = 1)
    def jobs(call: => DataFrame): (Int, Int) =
      (graft.SparkJobs.during(spark)(call),
        graft.SparkJobs.during(spark)(call.collect()))
    val dir = storedBase()
    val got = Map(
      "ivfTopK" -> jobs(Similarity.ivfTopK(emb, queries, 5, numCentroids = 8,
        nprobe = 3)),
      "probeIvfQuantized" -> jobs(Similarity.probeIvfQuantized(idx, queries,
        5, nprobe = 3)),
      "maintainIvfIndex" -> ((graft.SparkJobs.during(spark)(
        Similarity.maintainIvfIndex(spark, dir, blob,
          blob.filter($"vec_id" < 130), recallFloor = 0.95)), 0)))
    val pinned = Map(
      "ivfTopK" -> ((2, 5)),
      "probeIvfQuantized" -> ((1, 4)),
      "maintainIvfIndex" -> ((39, 0)))
    assert(got == pinned, s"jobs per call moved: $got")
  }
}
