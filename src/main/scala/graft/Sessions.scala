package graft

import org.apache.spark.sql.SparkSession

/** Session construction shared by Verify/Bench/tests.
  *
  * All engine-level config lives here — at session build time, not inside
  * loaders (a loader mutating session conf at plan-construction time is
  * order-dependent global state; VERDICT r1 "what's wrong" #5).
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the harness `events.ts` is
  *    parquet TIMESTAMP(NANOS), which Spark 4 otherwise rejects
  *    (PARQUET_TYPE_ILLEGAL). See [[graft.sources.Tables.events]].
  *  - shuffle partitions = cores: local-mode right-sizing; on a real
  *    cluster this would be tuned to ~2-3× total cores or left to AQE
  *    coalescing. 200 partitions for a 32-thread local run just adds
  *    scheduling overhead.
  *  - UTC timezone: pins year()/month()/date_format so results match the
  *    DuckDB oracle regardless of host timezone (SURVEY.md §7.4).
  *  - `spark.sql.join.preferSortMergeJoin` stays at the Spark DEFAULT
  *    (true). Round 22 measured flipping it: node-keyed mid-size joins
  *    won 0.5-0.9× (pagerank/window families), but the LSH band
  *    self-joins and media/pipeline compositions lost 3-6× — shuffled
  *    hash qualifies on SIZE ESTIMATES (< threshold × partitions), which
  *    are wildly wrong after multi-stage derivations, and a mis-sized
  *    hash build turns into GC churn that degrades the whole suite
  *    (full-suite 347 s → 515 s). Do not re-flip without per-join hints.
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]
  *    (Spark's default is 100). The cache holds Janino-compiled
  *    whole-stage and projection classes keyed by their Java source, and
  *    it is LRU: a repeated working set larger than the cache misses on
  *    every access, so every pass recompiles all of its classes, on the
  *    driver and in tasks. Compiles per warm pass, measured with
  *    `CodegenMetrics.METRIC_COMPILATION_TIME`:
  *    - perfbench retrieval (dedup, ann, search; about 215 classes):
  *      200-212 at 100 entries, about 150 at 200, 0-8 at 300 and at
  *      1,000 (adaptive execution renumbers a few whole-stage classes
  *      now and then);
  *    - perfbench medallion (76 classes): none at 100 or 1,000;
  *    - a `graft.Bench` timed pass over q41, q208 and q230 at sf0.01:
  *      118 at 100, none at 1,000. A larger Bench subset still outgrows
  *      1,000: the 53 queries matching `q2,q41` compile 1,355 classes in
  *      the warm-up and recompile 1,161 in the timed pass (1,969 at 100).
  *    1,000 holds both benchmark passes with room to spare.
  *    The setting is JVM-global: Spark sizes the cache once, when the
  *    `CodeGenerator` object first initialises, from the conf of the
  *    session active then. A JVM whose first codegen runs in a session
  *    not built here keeps 100 whatever later sessions set.
  */
object Sessions {
  /** Entries in Spark's generated-class cache; see the object scaladoc. */
  private[graft] val CodegenCacheEntries = 1000L

  def local(cpus: String, appName: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
}
