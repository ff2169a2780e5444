package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout operators — the write-side half of scale design.
  *
  * At 100 TB the read plan is decided when data is WRITTEN:
  *  - [[writePartitioned]]: hive-style directory partitioning; a filter
  *    on the partition column becomes partition PRUNING (whole
  *    directories skipped — `PartitionFilters` in the scan, zero I/O for
  *    excluded partitions). Choose low-cardinality columns (year, date,
  *    source); high-cardinality partitioning creates the
  *    million-small-files problem.
  *  - [[writeBucketed]]: pre-shuffles rows into a fixed number of
  *    buckets by key hash AND records it in the catalog. Joins and
  *    aggregations on the bucket key then need NO exchange — the
  *    dominant shuffle of fact-to-fact joins disappears (verified by
  *    LayoutSpec: the bucketed self-join plan contains no
  *    ShuffleExchange).
  */
object Layout {

  /** Hive-style partitioned parquet write. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Bucketed + sorted catalog table (parquet). Bucket counts should
    * match downstream parallelism (a divisor/multiple of
    * shuffle.partitions) — mismatched bucket counts re-shuffle anyway.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format("parquet").saveAsTable(table)

  /** Z-order (Morton) interleaved sort key over two non-negative int
    * dimensions — the multi-column data-skipping layout (the capability
    * behind Delta/Iceberg's OPTIMIZE ZORDER BY): sorting by a plain
    * (a, b) concatenation clusters files tightly on `a` but leaves every
    * file spanning the full range of `b`, so min/max footer stats prune
    * nothing for b-filters; interleaving the BITS of both keys gives
    * every file a narrow range in BOTH dimensions at once, and point or
    * range filters on either column skip most files.
    *
    * Pure bitwise Column arithmetic (the classic mask-and-shift bit
    * spread, 5 steps per dimension) — no custom expression needed,
    * codegen-native, and exactly reproducible in any engine with 64-bit
    * integer ops (the q122 oracle mirrors it literally). `a` must be in
    * [0, 2³²) and `b` in [0, 2³¹) (bit 31 of `b` — bit 63 interleaved —
    * would land on the long's sign bit and break range-partition
    * ordering) — rank or bucket wider domains first. Out-of-range values
    * fail LOUDLY (raise_error, the repo's convention — ADVICE r8: the
    * previous 32-bit mask wrapped a negative id to a huge positive key
    * and quietly destroyed the clustering the operator exists to
    * provide). NULLs pass through as NULL keys.
    */
  def zorderKey(a: Column, b: Column): Column = {
    def spread(c: Column, maxBits: Int): Column = {
      // null input → null condition → otherwise branch → null key
      val bound = 1L << maxBits
      val checked = when(c < 0 || c >= lit(bound), raise_error(concat(
          lit(s"zorderKey: input out of [0, 2^$maxBits): "),
          c.cast("string"))))
        .otherwise(c)
      var x = checked.cast("long").bitwiseAND(lit(0xffffffffL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a, 32).bitwiseOR(shiftleft(spread(b, 31), 1))
  }

  /** [[zorderKey]] generalized to k dimensions (round 19 — real tables
    * are filtered on more than two columns): MSB-first bit interleave
    * of k non-negative ints into one 63-bit sort key, so every file's
    * min/max footer range is narrow in ALL k dimensions at once. Each
    * dimension gets floor(63/k) bits (the top bit stays 0 — a set sign
    * bit would break range-partition ordering): k=3 → 21 bits (2M
    * distinct values), k=4 → 15 bits (32k) — rank or bucket wider
    * domains first (`Sketches.approxQuantileBuckets` / dense_rank),
    * which is also what OPTIMIZE ZORDER implementations do. Runs as
    * the codegen'd [[graft.functions.ZorderKeyNExpr]] kernel — one
    * register loop per row (the composed 63-node Column fold measured
    * ~36× slower on the q233 scan; see the expression's scaladoc) —
    * and the q233 oracle replays the fold in closed form. Out-of-range
    * values fail loudly ([[zorderKey]]'s ADVICE r8 contract); a NULL
    * in ANY dimension nulls the whole key (there is no meaningful
    * curve position for half a coordinate).
    *
    * The 2-D [[zorderKey]] keeps its 32+31-bit split (wider domains,
    * the 5-step spread) — this is the ≥3-dim form, not a replacement.
    */
  def zorderKeyN(dims: Seq[Column]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ZorderKeyNExpr(dims.map(c =>
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          c.cast("long")))))

  /** [[zorderWrite]] for the k-dimensional key: range-partition +
    * sort-within on [[zorderKeyN]], so files AND pages tile the k-D
    * space.
    */
  def zorderWriteN(df: DataFrame, dimCols: Seq[String], path: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("__z", zorderKeyN(dimCols.map(col)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Z-ordered parquet write: range-partition on the interleaved key
    * (so FILES tile the 2-D key space) and sort within each partition
    * (so PAGES do too), then write. `numFiles` should target the
    * cluster's preferred file size (~1 GB at 100 TB scale). The
    * data-skipping payoff is asserted quantitatively in LayoutSpec:
    * after z-ordering, a point filter on EITHER dimension finds most
    * files' min/max ranges excluding it, where a single-column sort
    * leaves every file a candidate for the other dimension.
    */
  def zorderWrite(df: DataFrame, aCol: String, bCol: String, path: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("__z", zorderKey(col(aCol), col(bCol)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Training-shard LAYOUT PLAN — the last mile between curation and a
    * data-loader-consumable artifact: every document gets its training
    * coordinates (shard, pos, pack_id, pack_offset) by composing the
    * two already-gated planners —
    * [[graft.operators.Sampling.deterministicShuffle]] (decorrelate
    * source order: shard = md5-bucket of the id, pos = hash-order rank
    * in the shard) and [[graft.operators.Sampling.packSequences]]
    * (concat-and-chunk every `budget` tokens, in shuffled `pos` order,
    * so packs mix sources the way the loader will consume them).
    *
    * Scale shape: ONE shuffle total. Both windows partition by `shard`,
    * so the pack window reuses the shuffle window's exchange (asserted
    * in LayoutSpec); everything downstream — including the partitioned
    * write in [[writeTrainingShards]] — consumes rows already hash-
    * partitioned by shard and sorted by (shard, pos). `shards` must
    * grow with the corpus so one shard fits one task's sort — the
    * documented contract of both planners.
    */
  def planTrainingShards(df: DataFrame, tokenCol: String, idCol: String,
      shards: Int, budget: Long): DataFrame =
    graft.operators.Sampling.packSequences(
      graft.operators.Sampling.deterministicShuffle(df, idCol, shards),
      tokenCol, budget, Seq("shard"), "pos")

  /** Materialize [[planTrainingShards]] as hive-partitioned parquet:
    * one `shard=N/` directory per shard, rows pos-ordered WITHIN each
    * file because the pack window already emits (shard, pos)-sorted
    * streams and the writer's required ordering (the partition column)
    * is a satisfied prefix — no extra sort, no extra shuffle at write.
    * A loader reads `shard=K` (partition-pruned) and streams rows in
    * stored order.
    */
  def writeTrainingShards(df: DataFrame, path: String, tokenCol: String,
      idCol: String, shards: Int, budget: Long): Unit =
    planTrainingShards(df, tokenCol, idCol, shards, budget)
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** JSON-lines sink (interchange format; parquet remains the analytic
    * format — JSON trades 5-10× size for universality).
    */
  /** Small-files compaction — the operational fix for the
    * million-small-files problem every continuous ingest creates (each
    * micro-batch/append writes a file per task; a year of 5-minute
    * batches is ~10⁵ files per partition, and at 100 TB the NameNode/
    * listing and per-file open costs dominate the scan long before the
    * bytes do). Rewrites `inPath`'s parquet at `targetBytes`-sized files:
    * the file inventory is LISTED driver-side (metadata — file count ×
    * ~100 bytes, never data), the shard count is ceil(totalBytes /
    * targetBytes), and ONE repartition shuffle lays the rows back out.
    * Returns (filesBefore, filesAfter, totalBytes).
    *
    * Partitioned layouts pass their partition columns: rows then
    * repartition on (partition directory, random shard within partition)
    * and the write re-partitions by the same columns, so compaction merges
    * files WITHIN each hive partition and pruning survives. Writes to
    * `outPath` — compact-then-swap is the caller's atomic-publish
    * protocol (in-place rewrite of a live dataset is how readers see
    * half a corpus); this keeps the operator a pure function of its
    * input.
    *
    * Partition matching is by the partition DIRECTORY STRING, never by
    * value round-trip (ADVICE r16): each row derives its `k=v/k=v` dir
    * from `_metadata.file_path` with the same per-column parse the
    * driver inventory uses, so zero-padded numerics (`month=07` — which
    * Spark's partition type inference reads back as int 7, breaking a
    * `cast-to-string` match), null partition values
    * (`__HIVE_DEFAULT_PARTITION__`), and Hive percent-escaped characters
    * all join exactly. A row whose directory is somehow absent from the
    * inventory FAILS LOUDLY (`raise_error`, per-row and free) instead of
    * silently dropping from the output — this is a lossless-rewrite
    * operator; losing rows is the one unacceptable failure. Output
    * directory names are re-rendered from the inferred typed values
    * (`month=07` in becomes `month=7` out) — the same dataset under
    * Spark's own reading.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, targetBytes: Long,
      partitionCols: Seq[String] = Seq.empty): (Long, Long, Long) = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    import spark.implicits._
    def shardsFor(bytes: Long): Int =
      math.max(1L, (bytes + targetBytes - 1L) / targetBytes)
        .min(Int.MaxValue.toLong).toInt
    val inv = inventory(spark, inPath)
    val filesBefore = inv.map(_._2).sum
    val totalBytes = inv.map(_._3).sum
    val df = spark.read.parquet(inPath)
    val out =
      if (partitionCols.isEmpty) df.repartition(shardsFor(totalBytes))
      else {
        // per-PARTITION shard counts from the same inventory (a global
        // count would let one hot partition swallow the whole budget or
        // shred a cold one): broadcast the tiny (dir -> n_shards) table,
        // key each row by its OWN file's partition directory (parsed
        // from _metadata.file_path column by column — identical to the
        // directory strings the inventory recorded), salt rows uniformly
        // within their partition's shard range, and lay out on
        // (dir, salt). Salt buckets that hash into one task merge into
        // one file — file sizes stay O(targetBytes), count <= sum of
        // per-partition shard counts.
        val saltRows = inv.map { case (dir, _, bytes) =>
          dir.split("/").foreach { seg =>
            require(seg.indexOf('=') > 0,
              s"compactParquet: '$dir' is not a hive layout")
          }
          (dir, shardsFor(bytes))
        }
        val saltDf = broadcast(saltRows.toDF("__dir", "__ns"))
        val dirExpr = concat_ws("/", partitionCols.map { c =>
          concat(lit(c + "="), regexp_extract(col("__path"),
            "/" + java.util.regex.Pattern.quote(c) + "=([^/]*)/", 1))
        }: _*)
        // rand(42) is seeded but PARTITION-INDEXED: a task retry after a
        // lost executor can re-draw different salts for the same rows.
        // Harmless here — salt decides layout only, never values — but
        // do NOT reuse this pattern where row-level determinism matters;
        // the repo's md5-bucket convention (Sampling.deterministicShuffle)
        // is the deterministic form (VERDICT r16).
        val joined = df.select(col("*"),
            col("_metadata.file_path").as("__path"))
          .withColumn("__dir", dirExpr)
          .join(saltDf, Seq("__dir"), "left")
          .withColumn("__ns", when(col("__ns").isNull, raise_error(concat(
              lit("compactParquet: partition directory '"), col("__dir"),
              lit("' of file "), col("__path"),
              lit(" is missing from the driver inventory — refusing to " +
                "drop rows from a lossless rewrite"))))
            .otherwise(col("__ns")))
          .withColumn("__salt", (rand(42) * col("__ns")).cast("int"))
        val numShards = math.min(Int.MaxValue.toLong,
          math.max(1L, saltRows.map(_._2.toLong).sum)).toInt
        joined
          .repartition(numShards, col("__dir"), col("__salt"))
          .drop("__path", "__dir", "__ns", "__salt")
      }
    val w = out.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(outPath)
    val filesAfter = inventory(spark, outPath).map(_._2).sum
    (filesBefore, filesAfter, totalBytes)
  }

  /** Driver-side file inventory of a parquet root: one (relative dir,
    * file count, bytes) row per directory — metadata only (~100 bytes
    * per file), never data. Shared by [[compactParquet]] and
    * [[compactParquetFlat]].
    */
  /** One [[zorderCompactN]] pass: what was touched and what was not.
    * `rewrittenBytes` is the bytes that went through the Spark
    * decode→sort→encode rewrite (the operator's real cost);
    * `copiedBytes` moved as raw files (a manifest rename at real
    * scale).
    */
  final case class ZorderCompactReport(
      filesBefore: Long, appendedFiles: Long, affectedBaseFiles: Long,
      untouchedFiles: Long, rewrittenBytes: Long, copiedBytes: Long,
      filesAfter: Long)

  /** Incremental Z-order maintenance (VERDICT r19 #4 — the OPTIMIZE
    * ZORDER incremental form): continuous ingest appends small
    * unsorted files into a [[zorderWriteN]] layout and immediately
    * un-sorts it; a full rewrite at 100 TB is exactly the cost this
    * family exists to avoid. This pass rewrites ONLY the affected key
    * ranges: small files (< `smallBytes`, the append signature) define
    * the dirty z-ranges, base files whose footer z-range overlaps a
    * dirty range join them in one range-partitioned sorted rewrite,
    * and every other base file is carried over BYTE-IDENTICAL — at
    * cluster scale that carry-over is a manifest rename; here it is a
    * raw filesystem copy (compact-then-swap stays the caller's publish
    * protocol, the [[compactParquet]] contract).
    *
    * Why footer ranges suffice: [[zorderWriteN]] files tile the z-key
    * space, so "overlaps a dirty range" is exactly "could interleave
    * with appended rows in key order". Untouched files keep tiling
    * their own ranges; the rewrite re-tiles the dirty ranges — the
    * merged layout's skipping holds (gated quantitatively in
    * LayoutSpec). Files containing NULL keys (a NULL in any dimension)
    * sort outside the curve and always join the rewrite.
    *
    * Scale shape: the classification scan reads ONLY the dim columns
    * (+ file path) into a file-count-sized aggregate — metadata class,
    * like the driver inventory; the rewrite shuffles only
    * appended + affected bytes. Returns the touched/untouched split so
    * an ingest loop can assert its write amplification.
    */
  def zorderCompactN(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, dimCols: Seq[String],
      targetBytes: Long, smallBytes: Long): ZorderCompactReport = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    require(smallBytes >= 1L, s"smallBytes must be >= 1, got $smallBytes")
    // outPath is cleared up front (below), so an in-place or nested
    // invocation would destroy the input before anything is read
    // (ADVICE r21): reject outPath == inPath and either nesting. The
    // FULL qualified URI is compared — scheme, authority and path — so
    // one path string on two filesystems is not mistaken for nesting
    locally {
      val conf = spark.sparkContext.hadoopConfiguration
      def qual(p: String) = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).makeQualified(hp).toUri.toString
          .stripSuffix("/")
      }
      val in = qual(inPath)
      val outq = qual(outPath)
      require(in != outq && !outq.startsWith(in + "/") &&
          !in.startsWith(outq + "/"),
        s"zorderCompactN: outPath must not equal or nest with inPath " +
          s"(in=$in, out=$outq)")
    }
    val files = listParquetFiles(spark, inPath)
    require(files.nonEmpty, s"no parquet files under $inPath")
    // keyed by NORMALIZED FULL PATH, not basename (ADVICE r20: nested /
    // hive-partitioned inputs can repeat part-file basenames, silently
    // collapsing map entries and mis-classifying sizes); `new Path`
    // canonicalizes the scheme form so `_metadata.file_path`
    // ("file:///…") and the listing ("file:/…") key identically
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toString
    val bytesByName = files.map(f => norm(f._2) -> f._3).toMap
    // per-file z ranges from one dim-column-pruned scan over the SAME
    // explicit file list the inventory saw (ADVICE r20: a directory
    // read does not recurse into nested non-hive subdirs, so nested
    // files would be sized but never classified); nulls make a file
    // un-rangeable -> it joins the rewrite
    val ranges = spark.read.parquet(files.map(_._2): _*)
      .select(col("_metadata.file_path").as("__f"),
        zorderKeyN(dimCols.map(col)).as("__z"))
      .groupBy(col("__f"))
      .agg(min(col("__z")).as("zmin"), max(col("__z")).as("zmax"),
        sum(when(col("__z").isNull, 1).otherwise(0)).as("nulls"))
      .collect()
      .map(r => (norm(r.getString(0)),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))),
        r.getLong(3) > 0L))
    val appended = ranges.filter { case (n, _, _) =>
      bytesByName(n) < smallBytes }
    val base = ranges.filter { case (n, _, _) =>
      bytesByName(n) >= smallBytes }
    // dirty z-ranges: merged intervals of the appended files (driver
    // side over a file-count-sized list)
    val dirty = appended.flatMap(_._2).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: tail, (s2, e2)) if s2 <= e => (s, e.max(e2)) :: tail
        case (acc, iv) => iv :: acc
      }
    def overlapsDirty(iv: (Long, Long)): Boolean =
      dirty.exists(d => iv._1 <= d._2 && d._1 <= iv._2)
    // a base file joins the rewrite if its range touches a dirty range
    // or it carries NULL keys (un-rangeable rows sort outside the
    // curve); appended files rewrite unconditionally
    val (affected, untouched) = base.partition { case (_, iv, hasNull) =>
      hasNull || iv.isEmpty || overlapsDirty(iv.get)
    }
    val rewriteNames = (appended.map(_._1) ++ affected.map(_._1)).toSet
    val rewriteBytes = rewriteNames.toSeq.map(bytesByName).sum
    // clear outPath UP FRONT (ADVICE r20): the pure carry-over path
    // (nothing small) previously left pre-existing files in place,
    // duplicating rows on a reused output directory — now both paths
    // start from a clean directory, matching [[compactParquet]]'s
    // always-overwrite contract
    val out = new org.apache.hadoop.fs.Path(outPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out)) fs.delete(out, true)
    if (rewriteNames.nonEmpty) {
      val n = math.max(1L, (rewriteBytes + targetBytes - 1L) / targetBytes)
        .min(Int.MaxValue.toLong).toInt
      spark.read.parquet(rewriteNames.toSeq.sorted: _*)
        .withColumn("__z", zorderKeyN(dimCols.map(col)))
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(outPath)
    }
    // carry the untouched files over verbatim (manifest-rename class),
    // preserving each file's path RELATIVE to the input root (ADVICE
    // r20: flattening nested layouts risked destination collisions);
    // sources are resolved on the INPUT filesystem, which need not be
    // the output's
    fs.mkdirs(out)
    val conf = spark.sparkContext.hadoopConfiguration
    val inRoot = new org.apache.hadoop.fs.Path(inPath)
    val inFs = inRoot.getFileSystem(conf)
    val rootUri = inFs.makeQualified(inRoot).toUri
    untouched.foreach { case (name, _, _) =>
      val src = new org.apache.hadoop.fs.Path(name)
      val rel = rootUri.relativize(inFs.makeQualified(src).toUri).getPath
      val dst = new org.apache.hadoop.fs.Path(out, rel)
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(inFs, src, fs, dst, false, conf)
    }
    ZorderCompactReport(
      filesBefore = files.size.toLong,
      appendedFiles = appended.size.toLong,
      affectedBaseFiles = affected.size.toLong,
      untouchedFiles = untouched.size.toLong,
      rewrittenBytes = rewriteBytes,
      copiedBytes = untouched.map(f => bytesByName(f._1)).sum,
      filesAfter = listParquetFiles(spark, outPath).size.toLong)
  }

  /** Recursive per-file parquet listing: (file name, full path, bytes).
    * Driver-side metadata, the [[compactParquet]] inventory class.
    */
  private def listParquetFiles(spark: org.apache.spark.sql.SparkSession,
      p: String): Seq[(String, String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val it = fs.listFiles(root, true)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-") &&
          f.getPath.getName.endsWith(".parquet")) {
        acc += ((f.getPath.getName, f.getPath.toString, f.getLen))
      }
    }
    acc.toSeq
  }

  private def inventory(spark: org.apache.spark.sql.SparkSession,
      p: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toUri
    val it = fs.listFiles(root, true)
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) {
        val rel = rootUri.relativize(
          fs.makeQualified(f.getPath.getParent).toUri).getPath
          .stripSuffix("/")
        val (n, b) = acc.getOrElse(rel, (0L, 0L))
        acc(rel) = (n + 1L, b + f.getLen)
      }
    }
    acc.toSeq.map { case (d, (n, b)) => (d, n, b) }
  }

  /** Shuffle-FREE compaction for FLAT layouts (VERDICT r16 #3): at
    * 100 TB "merge small files" should not cost a full corpus shuffle —
    * [[compactParquet]]'s repartition moves every byte through the
    * shuffle tier (write + sort + fetch) to get exact-size output, when
    * the operation only needs the same bytes moved ONCE through
    * task-local IO. This variant bin-packs the small files into
    * ~`targetBytes` read splits using Spark's own scan packing
    * (`spark.sql.files.maxPartitionBytes` = targetBytes,
    * `openCostInBytes` = 0 so padding never shrinks the packs) and
    * writes ONE file per read task — the plan is scan → write, NO
    * Exchange (asserted in LayoutSpec). Sizes are approximate
    * (greedy packing; an oversized input file splits on row-group
    * boundaries), which is exactly the compaction contract — the
    * salt/repartition form remains for exact-size guarantees and for
    * hive-partitioned layouts, where scan packing would mix partitions
    * inside one task and re-shred the output. Session confs are
    * restored after the write. Returns (filesBefore, filesAfter,
    * totalBytes); same compact-then-swap publish contract as
    * [[compactParquet]].
    */
  def compactParquetFlat(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, targetBytes: Long)
      : (Long, Long, Long) = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    val inv = inventory(spark, inPath)
    val filesBefore = inv.map(_._2).sum
    val totalBytes = inv.map(_._3).sum
    val conf = spark.conf
    val savedMax = conf.get("spark.sql.files.maxPartitionBytes")
    val savedOpen = conf.get("spark.sql.files.openCostInBytes")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
      conf.set("spark.sql.files.openCostInBytes", "0")
      spark.read.parquet(inPath).write.mode("overwrite").parquet(outPath)
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", savedMax)
      conf.set("spark.sql.files.openCostInBytes", savedOpen)
    }
    val filesAfter = inventory(spark, outPath).map(_._2).sum
    (filesBefore, filesAfter, totalBytes)
  }

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSON-lines source with the schema APPLIED — skipping inference
    * avoids the extra full scan Spark otherwise runs to sample types.
    */
  def readJsonLines(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
