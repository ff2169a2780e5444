package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Persist, Search, Similarity}

/** Spark's generated-class cache is sized by [[Sessions]] to hold a pass's
  * working set: a plan built again compiles nothing.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Janino compiles (driver and tasks alike; local mode is one JVM) while
    * `body` runs.
    */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a working set above Spark's default 100 classes stays compiled") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    // An integral literal is inlined into the generated Java source, so
    // each i is a distinct cache entry; 150 of them overflow a 100-entry
    // LRU cache, and a second round then misses on every plan.
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(8).selectExpr(s"id * $i + 1 as x").collect()
    }
    val first = compiles(round())
    assert(first >= 150, s"expected a compile per plan, saw $first")
    val second = compiles(round())
    assert(second == 0, s"second round recompiled $second classes")
  }

  test("retrieval chain: a repeated pass reuses its generated classes") {
    // The perfbench retrieval operators (dedup, ann, search) on a small
    // parquet fixture; the first pass compiles about 190 classes, so a
    // 100-entry cache recompiles them all on every pass. A repeat still
    // compiles a few: adaptive execution numbers whole-stage classes in
    // the order it plans query stages, and the number is part of the
    // generated source, so a stage planned in another order is a new
    // class. Only the total is asserted; the counts go to the report.
    val dir = Files.createTempDirectory("graft_codegen").toString
    val rnd = new java.util.Random(7L)
    val words = (0 until 40).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (0L until 60L).map(i => i -> text(12))
    (base ++ base.take(5).map { case (i, t) => (i + 100L, t + " tail") })
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    (0L until 64L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    def docs = spark.read.parquet(s"$dir/docs")
    def emb = spark.read.parquet(s"$dir/emb")
    def pass(): Seq[Long] = Seq(
      compiles(Dedup.nearDupClusters(
        Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.8)).collect()),
      compiles {
        val e = emb
        val idx = Similarity.buildIvfPqIndex(e, dim = 16, numCentroids = 4,
          numSubspaces = 4, codebookSize = 8, iterations = 1)
        Similarity.ivfPqRerankTopK(e, idx, e.filter(col("vec_id") < 4L), 5,
          shortlist = 20, nprobe = 2).collect()
      },
      compiles {
        val d = docs
        val idx = Search.textIndex(d).transform(Persist.round)
        Search.bm25TopK(idx, Seq(1L -> "w1 w2", 2L -> "w3 w4 w5")
          .toDF("query_id", "query_text"), 5).collect()
        Search.tfidfCosinePairs(
          Search.shingleIndex(d).transform(Persist.round), 0.3).collect()
      })
    val passes = Seq.fill(3)(pass())
    info(passes.map(_.mkString("dedup/ann/search ", "/", "")).mkString("; "))
    passes.tail.foreach { p =>
      assert(p.sum * 2 < passes.head.sum,
        s"a repeated pass recompiled ${p.sum} of ${passes.head.sum} classes")
    }
  }
}
