package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec
import graft.functions.TopKAggregate

/** The ADC entry points ([[Similarity.probeIvfPq]], [[Similarity.pqAdcTopK]])
  * score on driver-built lookup tables and one scan kernel. These specs
  * keep the earlier join formulation as the reference and require the
  * same candidates with the same raw double bits, plus the contracts and
  * job counts that ride along.
  */
class PqAdcSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------ reference (join form)

  private def refSubVectors(emb: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int): DataFrame =
    emb.select(col(idCol).as("nid"),
        when(size(col(vecCol)) === numSubspaces * subDim,
          col(vecCol).cast("array<double>"))
          .otherwise(raise_error(concat(
            lit(s"pq: expected dim ${numSubspaces * subDim}, got "),
            size(col(vecCol)).cast("string")))).as("__w"))
      .select(col("nid"), posexplode(
        transform(sequence(lit(0), lit(numSubspaces - 1)),
          i => slice(col("__w"), i * subDim + 1, lit(subDim))))
        .as(Seq("m", "__v")))

  private def refShape(codebooks: DataFrame): (Int, Int) = {
    val row = codebooks.agg(max(col("m")), max(size(col("__cv"))))
      .collect()(0)
    (row.getInt(0) + 1, row.getInt(1))
  }

  private val dot = Similarity.dot _

  /** The probed-list ADC as lookup-table joins and per-group sums. */
  private def refProbeScores(index: IvfPqIndex, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val (numSubspaces, subDim) = refShape(index.codebooks)
    val cb = broadcast(index.codebooks)
    val cents = broadcast(index.centroids)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__qs").desc, col("cid").asc)
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      .filter(dot(col("__qv"), col("__qv")) > 0)
      .join(cents)
      .withColumn("__qs", Similarity.cosine(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wq))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cid"),
        dot(col("__qv"), col("__cv")).as("__qc0"),
        sqrt(dot(col("__qv"), col("__qv"))).as("__qn"))
      .transform(Persist.round)
    val cidType = index.lists.schema("cid").dataType
    val probedCids = probes.select(col("cid").cast(cidType)).distinct()
      .collect().map(_.get(0)).toSeq
    val lists = index.lists.filter(col("cid").isin(probedCids: _*))
    val qd = refSubVectors(
        probes.select(col("query_id"), col("__qv")).distinct(),
        "query_id", "__qv", numSubspaces, subDim)
      .join(cb, Seq("m"))
      .select(col("nid").as("query_id"), col("m"),
        col("cid").as("code"), dot(col("__v"), col("__cv")).as("__qd"))
    val ct = refSubVectors(
        index.centroids.select(col("cid").as("__pc"), col("__cv")),
        "__pc", "__cv", numSubspaces, subDim)
      .join(cb, Seq("m"))
      .select(col("nid").as("cid"), col("m"), col("cid").as("code"),
        dot(col("__v"), col("__cv")).as("__cc"),
        dot(col("__cv"), col("__cv")).as("__cwn"))
    val cn0 = index.centroids
      .select(col("cid"), dot(col("__cv"), col("__cv")).as("__cn0"))
    lists
      .select(col("cid"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(probes.select(col("query_id"), col("cid"))),
        Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qd), Seq("query_id", "m", "code"))
      .join(broadcast(ct), Seq("cid", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cid"))
      .agg(sum(col("__qd")).as("__num_r"), sum(col("__cc")).as("__cross"),
        sum(col("__cwn")).as("__rn"))
      .join(broadcast(probes.select(col("query_id"), col("cid"),
        col("__qc0"), col("__qn"))), Seq("query_id", "cid"))
      .join(broadcast(cn0), Seq("cid"))
      .withColumn("__n2",
        col("__cn0") + lit(2.0) * col("__cross") + col("__rn"))
      .filter(col("__n2") > 0)
      .withColumn("sim",
        (col("__qc0") + col("__num_r")) / (col("__qn") * sqrt(col("__n2"))))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** Exhaustive ADC as a distance-table join and per-pair sums. */
  private def refAdcScores(codes: DataFrame, queries: DataFrame,
      codebooks: DataFrame): DataFrame = {
    val (numSubspaces, subDim) = refShape(codebooks)
    val qsubs = refSubVectors(
      queries.filter(dot(col("embedding"), col("embedding")) > 0),
      "vec_id", "embedding", numSubspaces, subDim)
    val qnorms = queries.select(col("vec_id").as("query_id"),
      sqrt(dot(col("embedding"), col("embedding"))).as("__qn"))
    val dt = qsubs.join(codebooks, Seq("m"))
      .select(col("nid").as("query_id"), col("m"),
        col("cid").as("code"),
        dot(col("__v"), col("__cv")).as("__pd"),
        dot(col("__cv"), col("__cv")).as("__cn"))
    codes
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(dt), Seq("m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("neighbor_id"), col("query_id"))
      .agg(sum(col("__pd")).as("__num"), sum(col("__cn")).as("__n2"))
      .filter(col("__n2") > 0)
      .join(broadcast(qnorms), Seq("query_id"))
      .withColumn("sim", col("__num") / (col("__qn") * sqrt(col("__n2"))))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
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

  /** `got` and `want` hold the same rows with the same raw double bits. */
  private def assertSameBits(got: DataFrame, want: DataFrame,
      clue: String): Unit = {
    val (g, w) = (bits(got), bits(want))
    if (g != w) {
      fail(s"$clue: ${g.diff(w).size} rows only in the result " +
        s"(${g.diff(w).take(2)}), ${w.diff(g).size} only in the " +
        s"reference (${w.diff(g).take(2)})")
    }
  }

  // -------------------------------------------------------------- fixtures

  /** 48 random 8-dim vectors. Ids 0 and 1 hold the same vector, so
    * without Lloyd sweeps the two lowest-id centroids tie on every
    * query's cosine; id 5 is zero (a zero-norm query, never a centroid).
    */
  private def corpus(seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    val base = Array.fill(48)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    base(1) = base(0).clone()
    base(5) = Array.fill(8)(0f)
    base.indices.map(i => (i.toLong, base(i).toSeq)).toDF("vec_id", "embedding")
  }

  /** Queries from the corpus (self-matches), the zero vector, and one
    * id outside it.
    */
  private def queriesOf(emb: DataFrame, seed: Long): DataFrame = {
    val extra = Seq((1000L,
        Seq.tabulate(8)(j => ((j * seed) % 5).toFloat - 2f)))
      .toDF("vec_id", "embedding")
    emb.filter($"vec_id".isin(0L, 1L, 2L, 5L, 7L, 11L, 30L))
      .unionByName(extra)
  }

  /** (seed, coarse Lloyd sweeps): 0 sweeps keeps the tied centroids. */
  private val cases = Seq((3L, 0), (5L, 1), (11L, 0), (4L, 1))
  private val seeds = cases.map(_._1)

  // ----------------------------------------------------------------- specs

  test("probeIvfPq ≡ the join formulation, raw double bits: ties across " +
      "centroids, self-matches, zero-norm queries, nprobe >= C, k > " +
      "candidates") {
    for ((seed, sweeps) <- cases; m <- Seq(2, 4)) {
      val emb = corpus(seed)
      val queries = queriesOf(emb, seed)
      val idx = Similarity.buildIvfPqIndex(emb, dim = 8, numCentroids = 4,
        numSubspaces = m, codebookSize = 4, iterations = 2,
        kmeansIterations = sweeps)
      if (sweeps == 0) {
        val tied = idx.centroids.filter($"cid" < 2).select($"__cv")
          .as[Seq[Float]].collect()
        assert(tied.length == 2 && tied(0) == tied(1), "tie fixture lost")
      }
      for (nprobe <- Seq(1, 2, 4, 7)) {
        val got = Similarity.probeIvfPqScores(idx, queries, nprobe,
          "vec_id", "embedding")
        val want = refProbeScores(idx, queries, nprobe)
        assert(!got.isEmpty, s"seed $seed m $m nprobe $nprobe: no candidates")
        assertSameBits(got, want, s"seed $seed m $m nprobe $nprobe")
        for (k <- Seq(3, 100)) {
          assertSameBits(Similarity.probeIvfPq(idx, queries, k, nprobe),
            refTopK(want, k), s"seed $seed m $m nprobe $nprobe k $k")
        }
      }
      // the zero-norm query and the self-matches are really excluded
      val top = Similarity.probeIvfPq(idx, queries, 100, nprobe = 7)
      assert(top.filter($"query_id" === 5L).isEmpty)
      assert(top.filter($"query_id" === $"neighbor_id").isEmpty)
    }
  }

  test("probeIvfPq on a stored index (hive-narrowed int cid) ≡ the join " +
      "formulation") {
    for ((seed, sweeps) <- cases) {
      val emb = corpus(seed)
      val queries = queriesOf(emb, seed)
      val path = Files.createTempDirectory("graft_pqadc").toString
      Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(emb, dim = 8,
        numCentroids = 4, numSubspaces = 2, codebookSize = 4,
        iterations = 2, kmeansIterations = sweeps), path)
      val stored = Similarity.readIvfPqIndex(spark, path)
      assert(stored.lists.schema("cid").dataType == IntegerType)
      for (nprobe <- Seq(1, 3)) {
        assertSameBits(Similarity.probeIvfPqScores(stored, queries, nprobe,
          "vec_id", "embedding"), refProbeScores(stored, queries, nprobe),
          s"seed $seed nprobe $nprobe")
      }
    }
  }

  test("pqAdcTopK ≡ the join formulation, raw double bits") {
    for (seed <- seeds; m <- Seq(2, 4)) {
      val emb = corpus(seed)
      val queries = queriesOf(emb, seed)
      val cb = Similarity.pqTrainCodebooks(emb, dim = 8, numSubspaces = m,
        codebookSize = 4, iterations = 1)
      val codes = Similarity.pqEncode(emb, cb, dim = 8)
      val want = refAdcScores(codes, queries, cb)
      assertSameBits(Similarity.pqAdcScores(codes, queries, cb, "vec_id",
        "embedding", "codes"), want, s"seed $seed m $m")
      for (k <- Seq(3, 100)) {
        assertSameBits(Similarity.pqAdcTopK(codes, queries, cb, k),
          refTopK(want, k), s"seed $seed m $m k $k")
      }
    }
  }

  test("pqTrainCodebooks: the driver-numbered init equals the windowed one") {
    for (seed <- seeds) {
      val emb = corpus(seed)
      val subs = refSubVectors(emb, "vec_id", "embedding", 2, 4)
      val initIds = emb.select(col("vec_id").as("nid"))
        .orderBy(col("nid").asc).limit(4)
        .withColumn("cid", row_number().over(Window.orderBy(col("nid"))) - 1)
      val want = subs.join(broadcast(initIds), Seq("nid"))
        .select(col("m"), col("cid"), col("__v").as("__cv"))
      val got = Similarity.pqTrainCodebooks(emb, dim = 8, numSubspaces = 2,
        codebookSize = 4, iterations = 0)
      assert(got.schema == want.schema)
      assertSameBits(got, want, s"seed $seed")
    }
  }

  test("duplicate query ids fail naming the id, in both ADC entry points") {
    val emb = corpus(3L)
    val dup = emb.filter($"vec_id".isin(2L, 7L))
      .unionByName(emb.filter($"vec_id" === 7L))
    val idx = Similarity.buildIvfPqIndex(emb, dim = 8, numCentroids = 4,
      numSubspaces = 2, codebookSize = 4, iterations = 1)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.probeIvfPq(idx, dup, 3, nprobe = 2)
    }
    assert(e1.getMessage.contains("probeIvfPq: duplicate query id 7"),
      e1.getMessage)
    val cb = Similarity.pqTrainCodebooks(emb, dim = 8, numSubspaces = 2,
      codebookSize = 4, iterations = 1)
    val codes = Similarity.pqEncode(emb, cb, dim = 8)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqAdcTopK(codes, dup, cb, 3)
    }
    assert(e2.getMessage.contains("pqAdcTopK: duplicate query id 7"),
      e2.getMessage)
    // distinct ids still probe
    assert(Similarity.pqAdcTopK(codes, dup.distinct(), cb, 3).count() == 6L)
  }

  /** A 64-dim corpus written to parquet, so the counted calls scan files
    * as a stored corpus does.
    */
  private lazy val parquetCorpus: DataFrame = {
    val rnd = new java.util.Random(17L)
    val path = Files.createTempDirectory("graft_pqjobs").toString
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("build, probe+re-rank and exhaustive ADC: Spark jobs per call pinned") {
    // Measured with the local[4] test session; (call, call + collect).
    // Adaptive execution runs one action as several jobs (one per
    // shuffle stage and broadcast), so the pins are jobs, not actions.
    // The lookup-table join form ran (13, 15), (7, 21) and (2, 8): a
    // lazy centroid init re-run by each consumer, two-job shape
    // aggregates, and the probe's staging, cid collect and table joins.
    // The one-kernel form ran (10, 12) and (1, 7) for the first two: the
    // list encode joined its codes back to the residuals for their cid
    // (a broadcast), and the re-rank broadcast a re-read of the queries.
    val emb = parquetCorpus
    val queries = emb.filter($"vec_id" < 10)
    def build() = Similarity.buildIvfPqIndex(emb, dim = 64,
      numCentroids = 8, numSubspaces = 16, codebookSize = 32, iterations = 1)
    val idx = build()
    val cb = Similarity.pqTrainCodebooks(emb, dim = 64, numSubspaces = 16,
      codebookSize = 32, iterations = 1)
    val codes = Similarity.pqEncode(emb, cb, dim = 64)
    def jobs(call: => DataFrame): (Int, Int) =
      (graft.SparkJobs.during(spark)(call),
        graft.SparkJobs.during(spark)(call.collect()))
    val got = Map(
      "buildIvfPqIndex" -> jobs(build().lists),
      "ivfPqRerankTopK" -> jobs(Similarity.ivfPqRerankTopK(emb, idx,
        queries, 5, shortlist = 50, nprobe = 4)),
      "pqAdcTopK" -> jobs(Similarity.pqAdcTopK(codes, queries, cb, 5)))
    val pinned = Map(
      "buildIvfPqIndex" -> ((10, 11)),
      "ivfPqRerankTopK" -> ((1, 6)),
      "pqAdcTopK" -> ((1, 3)))
    assert(got == pinned, s"jobs per call moved: $got")
  }

  test("build and re-rank on the reliable checkpoint backend: identical " +
      "results, staged files under the checkpoint dir") {
    val emb = corpus(5L)
    val queries = emb.filter($"vec_id" < 8)
    def run() = {
      val idx = Similarity.buildIvfPqIndex(emb, dim = 8, numCentroids = 4,
        numSubspaces = 2, codebookSize = 4, iterations = 1)
      (bits(Similarity.probeIvfPqScores(idx, queries, 2, "vec_id",
        "embedding")), bits(Similarity.ivfPqRerankTopK(emb, idx, queries, 5,
        shortlist = 20, nprobe = 2)))
    }
    val local = run()
    val dir = Files.createTempDirectory("graft_pq_ckpt")
    try {
      spark.conf.set(Persist.CheckpointDirKey, dir.toString)
      assert(run() == local, "re-rank moved on the reliable backend")
      val staged = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(staged > 0L, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset(Persist.CheckpointDirKey)
    }
  }
}
