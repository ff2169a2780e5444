package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Storage-layout proofs: bucketing eliminates the join shuffle;
  * partitioning prunes directories at scan time.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan

  test("bucketed tables join without any shuffle exchange") {
    // a previous JVM's managed-table dir survives while the in-memory
    // catalog doesn't — clear orphan locations before CTAS
    for (t <- Seq("bucketed_a", "bucketed_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val df = (0 until 1000).map(i => (i.toLong % 50, s"v$i")).toDF("k", "v")
    Layout.writeBucketed(df, "bucketed_a", "k", 4)
    Layout.writeBucketed(df, "bucketed_b", "k", 4)
    val joined = spark.table("bucketed_a").as("a")
      .join(spark.table("bucketed_b").as("b"), "k")
    // Force a sort-merge join (no broadcast) so the shuffle would be
    // visible if bucketing didn't align the sides.
    val smj = joined.hint("merge")
    val exchanges = planOf(smj).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"expected no shuffle for co-bucketed join, got:\n${planOf(smj)}")
    assert(smj.count() == 1000L * 20) // 50 keys × 20×20 matches... sanity
  }

  test("planTrainingShards: one shuffle total — pack window reuses the shuffle window's exchange") {
    val docs = (0 until 500).map(i => (i.toLong, 10 + i % 50))
      .toDF("doc_id", "n_tokens")
    val plan = Layout.planTrainingShards(docs, "n_tokens", "doc_id",
      shards = 4, budget = 256L)
    // count in the plan STRING — AQE hides the inner plan from collect
    val planStr = planOf(plan).toString
    assert("Exchange hashpartitioning".r.findAllIn(planStr).size == 1,
      s"expected exactly one exchange (both windows key on shard):\n$planStr")
    // coordinates are complete and consistent: pos is a 0-based dense
    // rank per shard; a doc's pack coordinates derive from the running
    // token sum of everything before it in (shard, pos) order
    val rows = plan.select($"shard", $"pos", $"n_tokens", $"pack_id",
        $"pack_offset")
      .as[(Int, Int, Int, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq)
      var cum = 0L
      sorted.foreach { case (_, _, nt, packId, packOff) =>
        assert(packId == cum / 256L && packOff == cum % 256L)
        cum += nt
      }
    }
  }

  test("writeTrainingShards: partition-pruned read, rows pos-ordered in stored order") {
    val dir = Files.createTempDirectory("graft_shards").toString + "/s"
    val docs = (0 until 400).map(i => (i.toLong, 5 + i % 20))
      .toDF("doc_id", "n_tokens")
    Layout.writeTrainingShards(docs, dir, "n_tokens", "doc_id",
      shards = 4, budget = 128L)
    val back = spark.read.parquet(dir)
    assert(back.count() == 400)
    // shard filter becomes a partition filter (whole directories skipped)
    val pruned = back.filter($"shard" === 2)
    val scan = planOf(pruned).collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.nonEmpty)
    // the loader contract: within a shard, STORED row order is pos order
    // (no re-sort needed at read) — check via a row-order index
    import org.apache.spark.sql.expressions.Window
    val ordered = pruned
      .withColumn("__file_order",
        row_number().over(Window.orderBy(monotonically_increasing_id())) - 1)
      .select($"pos", $"__file_order").as[(Int, Int)].collect()
    assert(ordered.map(_._1).toSeq == ordered.map(_._2).toSeq,
      "shard file must be stored in pos order")
    // round trip agrees with the plan
    val planned = Layout.planTrainingShards(docs, "n_tokens", "doc_id", 4, 128L)
      .select($"doc_id", $"shard", $"pos", $"pack_id", $"pack_offset")
      .as[(Long, Int, Int, Long, Long)].collect().toSet
    val stored = back
      .select($"doc_id", $"shard", $"pos", $"pack_id", $"pack_offset")
      .as[(Long, Int, Int, Long, Long)].collect().toSet
    assert(stored == planned)
  }

  test("JSON-lines sink/source round-trips with an applied schema") {
    val dir = Files.createTempDirectory("graft_json").toString + "/j"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Layout.writeJsonLines(df, dir)
    val back = Layout.readJsonLines(spark, dir, df.schema)
    // applied, not inferred (names+types; JSON reads are always nullable)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("partitioned write enables partition pruning at scan") {
    val dir = Files.createTempDirectory("graft_part").toString + "/t"
    val df = Seq((2023, 1L, "a"), (2023, 2L, "b"), (2024, 3L, "c"))
      .toDF("year", "id", "v")
    Layout.writePartitioned(df, dir, Seq("year"))
    val read = spark.read.parquet(dir).filter($"year" === 2024)
    val scan = planOf(read).collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.nonEmpty,
      "filter on the partition column must become a PartitionFilter")
    assert(read.count() == 1)
    // pruning proof: only the 2024 directory is read
    assert(scan.inputRDDs().head.partitions.nonEmpty)
    assert(scan.metadata("Location").contains(dir))
  }

  test("compactParquet: flat layout merges to ceil(bytes/target) files, " +
      "rows intact") {
    val in = Files.createTempDirectory("graft_compact_in").toString
    val out = Files.createTempDirectory("graft_compact").toString + "/out"
    val docs = (0L until 2000L).map(i => (i, s"value $i padpadpad"))
      .toDF("id", "payload")
    docs.repartition(16).write.mode("overwrite").parquet(in)
    val preFiles = new java.io.File(in).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(preFiles == 16, "fixture: 16 small files")
    val total = new java.io.File(in).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val (before, after, bytes) =
      Layout.compactParquet(spark, in, out, targetBytes = total / 3 + 1)
    assert(before == 16L && bytes == total)
    assert(after >= 2L && after <= 4L, s"~3 target-size files, got $after")
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
      == docs.as[(Long, String)].collect().sorted.toSeq)
  }

  test("compactParquet: hive layout compacts WITHIN partitions and " +
      "pruning survives") {
    val in = Files.createTempDirectory("graft_compact_p_in").toString
    val out = Files.createTempDirectory("graft_compact_p").toString + "/out"
    val docs = (0L until 1200L).map(i => (i, s"l${i % 3}", s"payload $i"))
      .toDF("id", "lang", "payload")
    docs.repartition(8).write.mode("overwrite")
      .partitionBy("lang").parquet(in)
    val (before, after, _) = Layout.compactParquet(spark, in, out,
      targetBytes = Long.MaxValue, partitionCols = Seq("lang"))
    assert(before == 24L, s"fixture: 8 files x 3 partitions, got $before")
    assert(after == 3L, s"one target-size file per partition, got $after")
    val back = spark.read.parquet(out)
    assert(back.select("id", "lang", "payload")
      .as[(Long, String, String)].collect().sorted.toSeq
      == docs.as[(Long, String, String)].collect().sorted.toSeq)
    val scan = planOf(back.filter($"lang" === "l1")).collect {
      case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PartitionFilters").contains("lang"),
      "partition pruning must survive compaction")
  }

  test("compactParquet: zero-padded and NULL partition values survive " +
      "losslessly (ADVICE r16: value round-trip used to drop them)") {
    val in = Files.createTempDirectory("graft_compact_z_in").toString
    val out = Files.createTempDirectory("graft_compact_z").toString + "/out"
    // month dirs: month=07 (inference reads back int 7 — the value that
    // broke a cast-to-string match), month=8, and a NULL partition
    // (__HIVE_DEFAULT_PARTITION__). Directory-string matching keeps all.
    val docs = Seq((1L, "07"), (2L, "07"), (3L, "8"), (4L, null))
      .toDF("id", "month")
    docs.repartition(2).write.mode("overwrite")
      .partitionBy("month").parquet(in)
    val (before, after, _) = Layout.compactParquet(spark, in, out,
      targetBytes = Long.MaxValue, partitionCols = Seq("month"))
    assert(before >= 3L && after == 3L,
      s"one file per surviving partition, got before=$before after=$after")
    val back = spark.read.parquet(out).select("id", "month")
      .as[(Long, Option[Int])].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, Some(7)), (2L, Some(7)), (3L, Some(8)),
      (4L, None)), s"lossless rewrite, got $back")
  }

  test("compactParquetFlat: NO shuffle exchange; sizes ~target; rows intact") {
    val in = Files.createTempDirectory("graft_compact_f_in").toString
    val out = Files.createTempDirectory("graft_compact_f").toString + "/out"
    val docs = (0L until 4000L).map(i => (i, s"value $i padpadpadpadpad"))
      .toDF("id", "payload")
    docs.repartition(20).write.mode("overwrite").parquet(in)
    val inFiles = new java.io.File(in).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(inFiles.length == 20, "fixture: 20 small files")
    val total = inFiles.map(_.length()).sum
    val target = total / 4 + 1
    val (before, after, bytes) =
      Layout.compactParquetFlat(spark, in, out, targetBytes = target)
    assert(before == 20L && bytes == total)
    // greedy bin-packing: ~4 packs, each within 2x target on disk
    assert(after >= 3L && after <= 6L, s"~4 target-size files, got $after")
    val outFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(outFiles.forall(_.length() <= 2 * target),
      s"every output file within 2x target ($target): " +
        outFiles.map(_.length()).mkString(","))
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
      == docs.as[(Long, String)].collect().sorted.toSeq)
    // the scale contract: scan -> write, no Exchange anywhere. The write
    // plan IS the read plan (one file per read task), so assert on the
    // read under the same packing confs the operator sets.
    val savedMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val savedOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", target.toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val planned = spark.read.parquet(in)
      assert(planOf(planned).collect {
        case e: ShuffleExchangeExec => e }.isEmpty,
        "compaction read plan must have no Exchange")
      assert(planned.rdd.getNumPartitions >= 3 &&
        planned.rdd.getNumPartitions <= 6,
        "packing confs drive the task count = output file count")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", savedMax)
      spark.conf.set("spark.sql.files.openCostInBytes", savedOpen)
    }
  }

  test("zorderKey: bit interleave is exact and order-embeds both dims") {
    // 3 (=0b11) and 5 (=0b101) interleave to 0b100111 = 39:
    // spread(3)=0b0101, spread(5)=0b010001<<1=0b100010; 5|34=39.
    val z = Seq((3, 5)).toDF("a", "b")
      .select(Layout.zorderKey($"a", $"b")).as[Long].collect().head
    assert(z == 39L)
    // Interleave of (x, 0) spreads x's bits into even positions.
    val z2 = Seq((0xffffffffL, 0L)).toDF("a", "b")
      .select(Layout.zorderKey($"a", $"b")).as[Long].collect().head
    assert(z2 == 0x5555555555555555L)
  }

  test("zorderKey: out-of-range inputs fail loudly; nulls pass through") {
    // ADVICE r8: masking used to wrap a negative id to a huge positive
    // key and silently destroy the clustering — now it's a job failure
    def z(a: java.lang.Long, b: java.lang.Long) =
      Seq((a, b)).toDF("a", "b")
        .select(Layout.zorderKey($"a", $"b")).collect().head
    val neg = intercept[Exception] { z(-1L, 0L) }
    assert(neg.getMessage.contains("out of [0, 2^32)"), neg.getMessage)
    // b's bound is one bit tighter (bit 31 would hit the sign bit)
    val big = intercept[Exception] { z(0L, 1L << 31) }
    assert(big.getMessage.contains("out of [0, 2^31)"), big.getMessage)
    assert(z(0L, (1L << 31) - 1).getLong(0) >= 0, "keys stay non-negative")
    assert(z(null, 3L).isNullAt(0), "null input must yield a null key")
  }

  test("zorderKeyN (round 19): hand-computed 3-D interleave, guards, " +
      "null propagation") {
    // dims (0b101, 0b011, 0b110), 21 bits each: the top 18 interleave
    // rounds contribute zeros, the last three bits (b=2,1,0 over dims
    // left->right) give 101 -> a:1 b:0 c:1, 011 -> a:0 b:1 c:1,
    // 110 -> a:1 b:1 c:0 => bits (a2 b2 c2 a1 b1 c1 a0 b0 c0) =
    // 1 0 1  0 1 1  1 1 0 = 0b101011110 = 350
    val z = Seq((5L, 3L, 6L)).toDF("a", "b", "c")
      .select(Layout.zorderKeyN(Seq($"a", $"b", $"c"))).as[Long]
      .collect().head
    assert(z == 350L, s"hand interleave got $z")
    // plain-Scala replay over a value battery
    def ref(dims: Seq[Long], bits: Int): Long = {
      var key = 0L
      for (b <- bits - 1 to 0 by -1; d <- dims)
        key = (key << 1) | ((d >> b) & 1L)
      key
    }
    val battery = Seq(Seq(0L, 0L, 0L), Seq(1L, 2L, 4L),
      Seq((1L << 21) - 1, 0L, (1L << 21) - 1), Seq(12345L, 678L, 9L))
    battery.foreach { dims =>
      val got = Seq((dims(0), dims(1), dims(2))).toDF("a", "b", "c")
        .select(Layout.zorderKeyN(Seq($"a", $"b", $"c"))).as[Long]
        .collect().head
      assert(got == ref(dims, 21), s"$dims -> $got != ${ref(dims, 21)}")
      assert(got >= 0L, "keys stay non-negative (63-bit budget)")
    }
    // 4 dims get 15 bits each
    val z4 = Seq((1L, 1L, 1L, 1L)).toDF("a", "b", "c", "d")
      .select(Layout.zorderKeyN(Seq($"a", $"b", $"c", $"d"))).as[Long]
      .collect().head
    assert(z4 == 15L, s"four dims of 1 must interleave to 0b1111: $z4")
    // guards
    intercept[IllegalArgumentException] {
      Layout.zorderKeyN(Seq($"a"))
    }
    val e = intercept[Exception] {
      Seq((1L << 21, 0L, 0L)).toDF("a", "b", "c")
        .select(Layout.zorderKeyN(Seq($"a", $"b", $"c"))).collect()
    }
    assert(e.getMessage.contains("out of [0, 2^21)"), e.getMessage)
    // one null dim nulls the whole key
    assert(Seq((Option.empty[Long], Option(3L), Option(4L)))
      .toDF("a", "b", "c")
      .select(Layout.zorderKeyN(Seq($"a", $"b", $"c"))).collect()
      .head.isNullAt(0))
  }

  test("zorderWriteN: point filters on ANY of three dimensions skip " +
      "most files; single-column sort skips nothing on the others") {
    // 16x16x16 grid, 16 files: z-ordered, each file tiles a sub-cube,
    // so a point filter on any dim overlaps a fraction of files; an
    // a-sorted layout leaves every file spanning b's and c's full range
    val grid = (0 until 16).flatMap(a => (0 until 16).flatMap(b =>
      (0 until 16).map(c => (a, b, c)))).toDF("a", "b", "c")
    def overlapFrac(dir: String, colName: String, v: Int): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      val hits = files.count { f =>
        val mm = spark.read.parquet(f)
          .agg(min(col(colName)), max(col(colName))).collect()(0)
        mm.getInt(0) <= v && v <= mm.getInt(1)
      }
      hits.toDouble / files.length
    }
    val zdir = Files.createTempDirectory("graft_z3").toString + "/t"
    Layout.zorderWriteN(grid, Seq("a", "b", "c"), zdir, numFiles = 16)
    val adir = Files.createTempDirectory("graft_a3").toString + "/t"
    grid.repartitionByRange(16, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(adir)
    assert(overlapFrac(adir, "b", 7) == 1.0 &&
      overlapFrac(adir, "c", 7) == 1.0,
      "single-column sort must leave every file a candidate on b and c")
    assert(overlapFrac(zdir, "a", 7) <= 0.5, "no skipping on a-point")
    assert(overlapFrac(zdir, "b", 7) <= 0.5, "no skipping on b-point")
    assert(overlapFrac(zdir, "c", 7) <= 0.75, "no skipping on c-point")
    assert(spark.read.parquet(zdir).count() == 16L * 16L * 16L)
  }

  test("zorderWrite: point filters on EITHER dimension skip most files") {
    // 64x64 grid of (a, b) keys, 16 output files. Z-ordered, each file
    // tiles a ~16x16 square => a point filter on either dim overlaps
    // ~4/16 files; a-sorted layout leaves ALL 16 files spanning b's
    // full range (zero skipping on b).
    val grid = (0 until 64).flatMap(a => (0 until 64).map(b => (a, b)))
      .toDF("a", "b")
    def overlapFrac(dir: String, colName: String, v: Int): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      val hits = files.count { f =>
        val mm = spark.read.parquet(f)
          .agg(min(col(colName)), max(col(colName))).collect()(0)
        mm.getInt(0) <= v && v <= mm.getInt(1)
      }
      hits.toDouble / files.length
    }
    val zdir = Files.createTempDirectory("graft_z").toString + "/t"
    Layout.zorderWrite(grid, "a", "b", zdir, numFiles = 16)
    // naive comparison layout: range-partition + sort on `a` alone
    val adir = Files.createTempDirectory("graft_a").toString + "/t"
    grid.repartitionByRange(16, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(adir)

    assert(overlapFrac(adir, "b", 31) == 1.0,
      "single-column sort must leave every file a candidate on b")
    assert(overlapFrac(zdir, "a", 31) <= 0.5,
      "z-order must skip at least half the files on an a-point")
    assert(overlapFrac(zdir, "b", 31) <= 0.5,
      "z-order must skip at least half the files on a b-point")
    // and the layout loses no rows
    assert(spark.read.parquet(zdir).count() == 64L * 64L)
  }

  test("zorderCompactN: rewrite bounded to affected ranges, untouched " +
      "files byte-identical, rows intact, skipping preserved") {
    // base layout: the 16x16x16 grid minus the a<4 corner and the
    // (a=8, b=0) line; two small appends — a 4x4x4 corner cube OUTSIDE
    // the base z-range, and the line INSIDE a base file's range (the line)
    val base = (4 until 16).flatMap(a => (0 until 16).flatMap(b =>
      (0 until 16).map(c => (a, b, c))))
      .filterNot { case (a, b, _) => a == 8 && b == 0 }
      .toDF("a", "b", "c")
    val dir = Files.createTempDirectory("graft_zc").toString + "/t"
    Layout.zorderWriteN(base, Seq("a", "b", "c"), dir, numFiles = 16)
    def names(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap
    val baseFiles = names(dir)
    assert(baseFiles.size == 16)
    def overlapFrac(d: String, colName: String, v: Int): Double = {
      val files = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      val hits = files.count { f =>
        val mm = spark.read.parquet(f)
          .agg(min(col(colName)), max(col(colName))).collect()(0)
        mm.getInt(0) <= v && v <= mm.getInt(1)
      }
      hits.toDouble / files.length
    }
    // skipping baseline BEFORE the appends — "preserved" is measured
    // against this, not an absolute band (the fixture's value range is
    // narrower than the zorderWriteN gate's full grid)
    val baseline = Map(
      ("a", 13) -> overlapFrac(dir, "a", 13),
      ("b", 7) -> overlapFrac(dir, "b", 7),
      ("c", 7) -> overlapFrac(dir, "c", 7))
    val corner = (0 until 4).flatMap(a => (0 until 4).flatMap(b =>
      (0 until 4).map(c => (a, b, c)))).toDF("a", "b", "c")
    corner.coalesce(1).write.mode("append").parquet(dir)
    val line = (0 until 16).map(c => (8, 0, c)).toDF("a", "b", "c")
    line.coalesce(1).write.mode("append").parquet(dir)
    val appendedNames = names(dir).keySet -- baseFiles.keySet
    assert(appendedNames.size == 2)
    val appendedMax = (names(dir) -- baseFiles.keySet).values.max
    val baseMin = baseFiles.values.min
    assert(appendedMax < baseMin,
      s"fixture needs a size gap: appends <= $appendedMax, base >= $baseMin")
    val out = Files.createTempDirectory("graft_zco").toString + "/t"
    val rep = Layout.zorderCompactN(spark, dir, out, Seq("a", "b", "c"),
      targetBytes = baseMin * 2, smallBytes = (appendedMax + baseMin) / 2)
    assert(rep.appendedFiles == 2L)
    // the corner sits below every base range; only the line's range
    // drags base files in — the rewrite must stay bounded
    assert(rep.affectedBaseFiles >= 1L && rep.affectedBaseFiles <= 4L,
      s"rewrite not bounded to affected ranges: $rep")
    assert(rep.untouchedFiles == 16L - rep.affectedBaseFiles)
    assert(rep.rewrittenBytes < names(dir).values.sum / 2,
      s"rewrote more than half the table: $rep")
    // rows intact: compacted output == base + both appends exactly
    val expect = base.unionByName(corner).unionByName(line)
    val got = spark.read.parquet(out)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "compaction lost or duplicated rows")
    // untouched files carried byte-identical
    val outNames = names(out)
    val untouchedIn = baseFiles.keySet.filter(outNames.contains)
    assert(untouchedIn.size.toLong == rep.untouchedFiles)
    untouchedIn.take(2).foreach { n =>
      val a = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, n).toPath)
      val b = java.nio.file.Files.readAllBytes(
        new java.io.File(out, n).toPath)
      assert(java.util.Arrays.equals(a, b), s"$n not byte-identical")
    }
    // skipping preserved on the MERGED layout: a point filter on every
    // dimension excludes no more than ~one extra file's worth vs the
    // clean pre-append layout (the rewrite adds a handful of files
    // tiling the dirty ranges; everything else kept its footer range)
    for (((c0, v), b0) <- baseline) {
      val f = overlapFrac(out, c0, v)
      assert(f <= b0 + 0.15,
        s"skipping degraded on $c0: baseline $b0, after compact $f")
    }
  }

  test("zorderCompactN: nothing small -> pure carry-over, zero rewrite") {
    val df = (0 until 8).flatMap(a => (0 until 8).map(b => (a, b, a ^ b)))
      .toDF("a", "b", "c")
    val dir = Files.createTempDirectory("graft_zc2").toString + "/t"
    Layout.zorderWriteN(df, Seq("a", "b", "c"), dir, numFiles = 4)
    val out = Files.createTempDirectory("graft_zco2").toString + "/t"
    val rep = Layout.zorderCompactN(spark, dir, out, Seq("a", "b", "c"),
      targetBytes = 1L << 20, smallBytes = 1L)
    assert(rep.appendedFiles == 0L && rep.affectedBaseFiles == 0L)
    assert(rep.rewrittenBytes == 0L && rep.untouchedFiles == 4L)
    assert(spark.read.parquet(out).count() == 64L)
  }

  test("zorderCompactN: reused output dir is cleared on the pure " +
      "carry-over path; duplicate basenames in nested input keep their " +
      "relative paths (ADVICE r20)") {
    val df = (0 until 8).flatMap(a => (0 until 8).map(b => (a, b, a ^ b)))
      .toDF("a", "b", "c")
    val dir = Files.createTempDirectory("graft_zc3").toString + "/t"
    Layout.zorderWriteN(df, Seq("a", "b", "c"), dir, numFiles = 2)
    // duplicate the two part files under a nested subdir with the SAME
    // basenames — the basename-keyed classification used to collapse
    // these map entries; rows double, so the output must carry 128
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sub = new org.apache.hadoop.fs.Path(dir, "nested")
    fs.mkdirs(sub)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("part-"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(sub, st.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    val out = Files.createTempDirectory("graft_zco3").toString + "/t"
    // plant a stale file in the output dir: the carry-over path must
    // clear it, not mix it into the compacted layout
    spark.range(5).toDF("a").withColumn("b", lit(0))
      .withColumn("c", lit(0)).write.parquet(out)
    val rep = Layout.zorderCompactN(spark, dir, out, Seq("a", "b", "c"),
      targetBytes = 1L << 20, smallBytes = 1L)
    assert(rep.filesBefore == 4L && rep.untouchedFiles == 4L,
      s"4 distinct files classified (not basename-collapsed): $rep")
    assert(spark.read.option("recursiveFileLookup", "true").parquet(out)
      .count() == 128L, "all 4 carried files present, stale file gone")
  }

  test("zorderCompactN: in-place / nested invocations are rejected " +
      "before anything is deleted (ADVICE r21)") {
    val df = (0 until 4).map(a => (a, a, a)).toDF("a", "b", "c")
    val dir = Files.createTempDirectory("graft_zc4").toString + "/t"
    Layout.zorderWriteN(df, Seq("a", "b", "c"), dir, numFiles = 1)
    def rejected(out: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Layout.zorderCompactN(spark, dir, out, Seq("a", "b", "c"),
          targetBytes = 1L << 20, smallBytes = 1L)
      }
      assert(e.getMessage.contains("must not equal or nest"))
    }
    rejected(dir)                  // in-place
    rejected(dir + "/sub")         // output nested under input
    rejected(dir.stripSuffix("/t")) // input nested under output
    // the input survived every rejection
    assert(spark.read.parquet(dir).count() == 4L)
  }

  test("zorderCompactN: the same path string on another filesystem is " +
      "not nesting; the carry-over reads the input filesystem") {
    val df = (0 until 8).flatMap(a => (0 until 8).map(b => (a, b, a ^ b)))
      .toDF("a", "b", "c")
    val dir = Files.createTempDirectory("graft_zc5").toString + "/t"
    Layout.zorderWriteN(df, Seq("a", "b", "c"), dir, numFiles = 4)
    val root = Files.createTempDirectory("graft_zc5_alt").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq(s"fs.${RebasedLocalFileSystem.Scheme}.impl",
      s"fs.${RebasedLocalFileSystem.Scheme}.impl.disable.cache",
      RebasedLocalFileSystem.RootKey)
    conf.set(keys(0), classOf[RebasedLocalFileSystem].getName)
    conf.set(keys(1), "true")
    conf.set(keys(2), root)
    try {
      // identical path string, different scheme: a disjoint location
      val out = s"${RebasedLocalFileSystem.Scheme}://$dir"
      val rep = Layout.zorderCompactN(spark, dir, out, Seq("a", "b", "c"),
        targetBytes = 1L << 20, smallBytes = 1L)
      assert(rep.untouchedFiles == 4L && rep.rewrittenBytes == 0L)
      // the carried files landed under the second filesystem's root,
      // and the input is intact
      assert(spark.read.parquet(out).count() == 64L)
      assert(spark.read.parquet(s"file://$root$dir").count() == 64L)
      assert(spark.read.parquet(dir).count() == 64L)
    } finally keys.foreach(conf.unset)
  }
}

/** A local filesystem under its own scheme whose paths resolve below a
  * separate root directory (set in the Hadoop configuration), so the
  * same path string names different files than under `file:`. Statuses
  * are built here so they carry this filesystem's paths, not the
  * rebased local ones.
  */
class RebasedLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}

  private var root: String = _

  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    root = conf.get(RebasedLocalFileSystem.RootKey)
  }
  override def getUri: java.net.URI =
    java.net.URI.create(s"${RebasedLocalFileSystem.Scheme}:///")
  override def getScheme: String = RebasedLocalFileSystem.Scheme
  override def pathToFile(p: Path): java.io.File =
    new java.io.File(root, super.pathToFile(p).getPath)
  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists()) throw new java.io.FileNotFoundException(p.toString)
    new FileStatus(f.length, f.isDirectory, 1, getDefaultBlockSize(p),
      f.lastModified, makeQualified(p))
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (f.isDirectory) f.list().sorted.map(n => getFileStatus(new Path(p, n)))
    else Array(getFileStatus(p))
  }
}

object RebasedLocalFileSystem {
  val Scheme = "rebasedlocal"
  val RootKey = "graft.test.rebasedlocal.root"
}
