package graft

/** Benchmark main (driver contract): one JSON line on stdout.
  *
  * Methodology (fixes VERDICT r1 "what's wrong" #1-3):
  *  - the timed action is a `noop`-format write, which fully executes every
  *    projected/window expression. `.count()` let Catalyst's ColumnPruning
  *    drop unreferenced projections, so compute-heavy queries measured
  *    scan+count only.
  *  - one untimed warmup pass first (JIT + parquet footer cache), then
  *    the timed pass; per-query numbers are comparable. The warm-up primes
  *    codegen only while the run's generated classes fit the cache that
  *    [[Sessions]] sizes: at sf0.01 the timed pass over q41, q208 and q230
  *    recompiled no class (118 at Spark's default of 100 entries), but
  *    the 53 queries matching `q2,q41` compile 1,355 classes in the
  *    warm-up and recompile 1,161 of them in the timed pass (1,969 at
  *    100). A whole-suite timed pass includes Janino compile time.
  *  - failures are recorded per query (`"errors"` object) and the process
  *    exits non-zero — a broken query can no longer improve the bench.
  */
object Bench {

  /** Fixed CPU work unit for machine-state calibration: 1.5e8 xorshift64
    * steps, pure register arithmetic — no allocation, no memory
    * bandwidth sensitivity, deterministic instruction count. Returns the
    * final state so the JIT cannot elide the loop.
    */
  private def xorshiftLoop(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 150000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    x
  }

  /** Machine-state self-calibration (VERDICT r14 #2): time the fixed
    * work unit once on a single thread (`st`) and once on `threads`
    * concurrent threads (`mt` = wall time of the slowest). On a quiet
    * box mt ≈ st; co-tenant CPU pressure inflates mt first (oversubscribed
    * cores) and st under full contention — the exact interference mode
    * BASELINE.md's round-7 experiment measured at up to 9×. Timed
    * UNTRACKED (outside the query timings) before and after the suite so
    * tools/bench_compare.py can scale its thresholds by the observed
    * machine state — or refuse to adjudicate — instead of every judge
    * re-litigating noise.
    */
  private def calibrate(threads: Int): (Double, Double) = {
    xorshiftLoop() // JIT warmup: the timed runs measure steady state
    val t0 = System.nanoTime()
    xorshiftLoop()
    val st = (System.nanoTime() - t0) / 1e6
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val pool = (1 to threads).map { _ =>
      new Thread(() => { sink.addAndGet(xorshiftLoop()); () })
    }
    val t1 = System.nanoTime()
    pool.foreach(_.start())
    pool.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e6
    (st, mt)
  }

  /** Streaming sum over [from, until) — the memory-bandwidth work unit.
    * Sequential long reads defeat prefetch-independence games; the
    * returned sum keeps the JIT honest.
    */
  private def membwSum(buf: Array[Long], from: Int, until: Int): Long = {
    var s = 0L
    var i = from
    while (i < until) { s += buf(i); i += 1 }
    s
  }

  /** Memory-BANDWIDTH calibration (round 16): the xorshift loop is pure
    * register arithmetic BY DESIGN (deterministic instruction count, no
    * memory sensitivity) — which makes it blind to co-tenant memory-
    * bandwidth pressure, the one interference mode observed to slow the
    * Spark suite ~30% while the CPU calibration read "quiet" (Spark's
    * shuffle/hash/scan hot paths are bandwidth-bound; a register loop is
    * not). This unit streams a 512 MiB long array — far beyond any LLC —
    * so co-tenant DRAM traffic inflates it the way it inflates the
    * actual bench: st = 4 sequential full passes on one thread; mt =
    * `threads` threads each streaming a disjoint slice 64 times
    * (aggregate footprint 512 MiB, traffic 32 GiB — saturates the socket,
    * so it sees contention st alone might ride out). Wall time of the
    * slowest thread, same convention as the CPU mt.
    */
  private def calibrateMem(threads: Int): (Double, Double) = {
    val n = 64 * 1024 * 1024 // 64M longs = 512 MiB
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    val sink = new java.util.concurrent.atomic.AtomicLong()
    sink.addAndGet(membwSum(buf, 0, n)) // JIT warmup + page touch
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 4) { sink.addAndGet(membwSum(buf, 0, n)); pass += 1 }
    val st = (System.nanoTime() - t0) / 1e6
    val slice = n / threads
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        val from = t * slice
        val until = if (t == threads - 1) n else from + slice
        var p = 0
        while (p < 64) { sink.addAndGet(membwSum(buf, from, until)); p += 1 }
      })
    }
    val t1 = System.nanoTime()
    pool.foreach(_.start())
    pool.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e6
    if (sink.get() == 42L) System.err.println("calib sink") // defeat elision
    (st, mt)
  }

  /** Reference artifact parse for self-adjudication: (per-query quiet
    * seconds, quiet calib values). Jackson (on Spark's classpath — no
    * new dependency) rather than regex: the reference carries nested
    * provenance objects a naive scan would misread. None on any parse
    * problem — adjudication is an optional extra, never a bench failure.
    */
  private def parseRef(path: String)
      : Option[(Map[String, Double], Map[String, Double])] =
    try {
      val f = new java.io.File(path)
      if (!f.isFile) return None
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      def numFields(name: String): Map[String, Double] = {
        val node = root.path(name)
        if (!node.isObject) Map.empty
        else {
          val acc = scala.collection.mutable.Map.empty[String, Double]
          val it = node.properties().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) acc(e.getKey) = e.getValue.asDouble()
          }
          acc.toMap
        }
      }
      val qs = numFields("queries")
      if (qs.isEmpty) None else Some((qs, numFields("calib")))
    } catch { case _: Exception => None }

  /** tools/bench_compare.py's calibration scaling, replayed in-process
    * so the bench can flag its own outliers: how much slower this run's
    * box was than the recorded quiet reference — max of the CPU st/mt
    * ratios, the memory-bandwidth ratios (when the reference carries
    * them), and the whole-window steal inflation 1/(1-p). None when the
    * reference lacks CPU calib or was taken at a different thread count
    * (the mt ratio is only meaningful at equal oversubscription).
    */
  private def calibRatioVsRef(refCal: Map[String, Double], threads: Int,
      st: Double, mt: Double, memSt: Double, memMt: Double,
      stealPct: Double): Option[Double] = {
    val comparable = refCal.get("threads").forall(_.toInt == threads)
    (refCal.get("st_ms"), refCal.get("mt_ms")) match {
      case (Some(rst), Some(rmt)) if comparable && rst > 0 && rmt > 0 =>
        var r = math.max(1.0, math.max(st / rst, mt / rmt))
        (refCal.get("mem_st_ms"), refCal.get("mem_mt_ms")) match {
          case (Some(rmst), Some(rmmt)) if rmst > 0 && rmmt > 0 =>
            r = math.max(r, math.max(memSt / rmst, memMt / rmmt))
          case _ => ()
        }
        if (stealPct >= 95.0) r = math.max(r, 20.0)
        else if (stealPct >= 0.0)
          r = math.max(r, 1.0 / (1.0 - stealPct / 100.0))
        Some(r)
      case _ => None
    }
  }

  /** Hypervisor steal time, cumulative jiffies from /proc/stat (field 8
    * of the aggregate cpu line). The calibration loops sample INSTANTS —
    * a co-tenant burst landing between the before/after samples inflates
    * the suite invisibly (observed round 16: suite 29% over floor, both
    * calib units quiet). The kernel's steal counter integrates over the
    * WHOLE window, so its delta across the run is the one machine-state
    * signal bursts cannot dodge. None when unreadable (non-Linux, or a
    * hypervisor that does not expose steal).
    */
  private def stealJiffies(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
      finally src.close()
    } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // calibration-only mode: print one calib sample as JSON and exit —
    // the cheap way to record quiet-reference values for BENCH_REF.json
    // (and to probe machine state before an adjudication re-run) without
    // paying for a Spark session + full suite
    if (sys.env.contains("SPARK_GRAFT_CALIB_ONLY")) {
      val (st, mt) = calibrate(cpus.toInt)
      val (mst, mmt) = calibrateMem(cpus.toInt)
      def s3(t: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
      println(s"""{"threads":$cpus,"st_ms":${s3(st)},"mt_ms":${s3(mt)},""" +
        s""""mem_st_ms":${s3(mst)},"mem_mt_ms":${s3(mmt)}}""")
      return
    }
    val stealBefore = stealJiffies()
    val wallStart = System.nanoTime()
    val (stBefore, mtBefore) = calibrate(cpus.toInt)
    val (memStBefore, memMtBefore) = calibrateMem(cpus.toInt)
    val spark = Sessions.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Either[String, Unit] =
      try Right(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }

    // dev aid: SPARK_GRAFT_ONLY=q67,q36 restricts to matching prefixes
    // (unset for the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach(run) // warmup, untimed

    val timed = names.map { name =>
      val t0 = System.nanoTime()
      val r = run(name)
      (name, (System.nanoTime() - t0) / 1e9, r)
    }
    val errors = timed.collect { case (n, _, Left(m)) => n -> m }
    errors.foreach { case (n, m) => System.err.println(s"[bench] $n FAILED: $m") }
    val (stAfter, mtAfter) = calibrate(cpus.toInt)
    val (memStAfter, memMtAfter) = calibrateMem(cpus.toInt)
    // steal% of the machine's capacity over the whole run window:
    // delta jiffies (USER_HZ = 100 → 10 ms each, the Linux userland ABI
    // constant) over elapsed wall time × all cores. -1 = unreadable.
    val stealPct: Double = (for {
      b <- stealBefore; a <- stealJiffies()
    } yield {
      val wallMs = (System.nanoTime() - wallStart) / 1e6
      val ncpu = Runtime.getRuntime.availableProcessors().toDouble
      100.0 * (a - b) * 10.0 / (wallMs * ncpu)
    }).getOrElse(-1.0)

    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    def sec3a(t: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))

    // ── Self-adjudication (round 17, VERDICT r16 #1) ──────────────────
    // Rounds 14–16 each ended with a judge manually re-running a block of
    // noise-flagged queries via SPARK_GRAFT_ONLY. The bench now does that
    // itself: replay bench_compare.py's calibration-scaled flag test
    // against the recorded quiet reference, re-run exactly the flagged
    // queries (same JVM, still warm — but minutes later, i.e. a DIFFERENT
    // co-tenant noise window), and stamp the isolated readings plus a
    // fresh calibration sample into the artifact. bench_compare.py then
    // clears flags whose isolated reading is within threshold on a quiet
    // adjudication window — the attestation ships pre-adjudicated.
    // Skipped for partial (SPARK_GRAFT_ONLY) runs, under
    // SPARK_GRAFT_NO_ADJUDICATE, or when the reference is unreadable.
    val adjudication: Option[String] =
      if (only.isDefined || sys.env.contains("SPARK_GRAFT_NO_ADJUDICATE"))
        None
      else parseRef(sys.env.getOrElse("SPARK_GRAFT_REF_FILE",
          "BENCH_REF.json")).map { case (refQ, refCal) =>
        val ratio = calibRatioVsRef(refCal, cpus.toInt,
          math.max(stBefore, stAfter), math.max(mtBefore, mtAfter),
          math.max(memStBefore, memStAfter),
          math.max(memMtBefore, memMtAfter), stealPct)
        val threshold = 1.6 * ratio.filter(_ > 1.05).getOrElse(1.0)
        val flagged = timed.collect {
          case (n, t, Right(_)) if refQ.get(n)
            .exists(r => r >= 0.2 && t / r > threshold) => n
        }.sorted
        val ratioJson = ratio.map(sec3a).getOrElse("null")
        if (flagged.isEmpty)
          s"""{"threshold":${sec3a(threshold)},"cal_ratio":$ratioJson,""" +
            s""""queries":{}}"""
        else if (flagged.size > 40) {
          // a 40+ flag sweep is machine-state, not per-query noise —
          // re-running half the suite would tell the judge nothing the
          // cal_ratio does not already say
          System.err.println(s"[bench] adjudication skipped: " +
            s"${flagged.size} queries flagged (machine-state, not noise)")
          s"""{"threshold":${sec3a(threshold)},"cal_ratio":$ratioJson,""" +
            s""""skipped":"${flagged.size} flagged"}"""
        } else {
          System.err.println(s"[bench] adjudicating ${flagged.size} " +
            s"flagged queries: ${flagged.mkString(",")}")
          val aStealBefore = stealJiffies()
          val aWallStart = System.nanoTime()
          val iso = flagged.map { n =>
            val t0 = System.nanoTime()
            run(n)
            (n, (System.nanoTime() - t0) / 1e9)
          }
          val (aSt, aMt) = calibrate(cpus.toInt)
          val (aMemSt, aMemMt) = calibrateMem(cpus.toInt)
          val aSteal: Double = (for {
            b <- aStealBefore; a <- stealJiffies()
          } yield {
            val wallMs = (System.nanoTime() - aWallStart) / 1e6
            val ncpu = Runtime.getRuntime.availableProcessors().toDouble
            100.0 * (a - b) * 10.0 / (wallMs * ncpu)
          }).getOrElse(-1.0)
          val suiteT = timed.map { case (n, t, _) => n -> t }.toMap
          val qJson = iso.map { case (n, t) =>
            s"${js(n)}:{" +
              s""""suite":${sec3a(suiteT(n))},""" +
              s""""ref":${sec3a(refQ(n))},""" +
              s""""isolated":${sec3a(t)}}"""
          }.mkString("{", ",", "}")
          s"""{"threshold":${sec3a(threshold)},"cal_ratio":$ratioJson,""" +
            s""""queries":$qJson,"calib":{"threads":$cpus,""" +
            s""""st_ms":${sec3a(aSt)},"mt_ms":${sec3a(aMt)},""" +
            s""""mem_st_ms":${sec3a(aMemSt)},""" +
            s""""mem_mt_ms":${sec3a(aMemMt)},""" +
            s""""steal_pct":${sec3a(aSteal)}}}"""
        }
      }
    // ms precision keeps the line short enough for the driver's capture window
    // (VERDICT r8 "missing" #5: full-precision doubles truncated 74/133 queries).
    // Locale.ROOT (ADVICE r9): the f-interpolator is default-locale-sensitive —
    // a comma-decimal locale would emit invalid JSON.
    def sec3(t: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val qs = timed.map { case (n, t, _) => s"${js(n)}:${sec3(t)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (n, m) => s"${js(n)}:${js(m)}" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    // The full per-query map (~4 KB at 133 queries) cannot reliably fit the
    // driver's stdout capture window (VERDICT r9: 59/133 timings lost to tail
    // truncation even at ms precision), so the COMPLETE artifact goes to a
    // repo-local file stamped with a run nonce; the stdout line echoes the
    // nonce so tools/bench_compare.py can trust the file belongs to this run.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // Key order is load-bearing (VERDICT r10 #1): the driver's capture
    // window keeps the END of the line, so the keys that must survive
    // truncation — errors, and above all the nonce that lets
    // bench_compare.py trust the complete file artifact — go LAST.
    // r10 emitted the nonce as the 4th key and it was provably truncated
    // away with the head of the ~4 KB line.
    // calib sits BEFORE queries: if the stdout line truncates, the
    // nonce-matched BENCH_LOCAL.json file carries it in full anyway
    val calib = s"""{"threads":$cpus,"st_before_ms":${sec3(stBefore)},""" +
      s""""mt_before_ms":${sec3(mtBefore)},"st_after_ms":${sec3(stAfter)},""" +
      s""""mt_after_ms":${sec3(mtAfter)},""" +
      s""""mem_st_before_ms":${sec3(memStBefore)},""" +
      s""""mem_mt_before_ms":${sec3(memMtBefore)},""" +
      s""""mem_st_after_ms":${sec3(memStAfter)},""" +
      s""""mem_mt_after_ms":${sec3(memMtAfter)},""" +
      s""""steal_pct":${sec3(stealPct)}}"""
    // adjudication sits between calib and queries: the keys that must
    // survive stdout tail-truncation (errors, nonce) stay LAST, and the
    // nonce-matched file artifact carries everything in full regardless
    val adjPart = adjudication.map(a => s""""adjudication":$a,""").getOrElse("")
    val full =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","sf":"$sfDir","calib":$calib,$adjPart"queries":$qs,"errors":$errJson,"nonce":"$nonce"}"""
    try {
      // temp-then-ATOMIC_MOVE (ADVICE r10): a reader racing the write —
      // or a killed JVM — must see the previous complete file or the new
      // one, never a partial JSON prefix.
      //
      // Partial (SPARK_GRAFT_ONLY) runs default to BENCH_ONLY.json
      // (VERDICT r15 #6): BENCH_LOCAL.json is the attested full-surface
      // artifact that bench_compare.py nonce-matches against the driver's
      // stdout line, and the documented isolated-rerun adjudication
      // protocol clobbered it in BOTH r14 and r15 — a partial run must
      // never overwrite the full-surface record it exists to adjudicate.
      val defaultFile =
        if (only.isDefined) "BENCH_ONLY.json" else "BENCH_LOCAL.json"
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", defaultFile))
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Exception =>
      // stdout line still carries everything; the file is belt-and-braces
      System.err.println(s"[bench] bench artifact file write failed: $e")
    }
    println(full)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
