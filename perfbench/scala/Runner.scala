package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.BusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. Runs one workload: starts the session,
  * generates its seeded inputs, runs `warm-up passes` untimed passes, then
  * timed passes for `seconds` (at least [[Runner.MinPasses]]), verifying
  * every output after each pass. With `trace` on, every second timed pass
  * runs with an [[OpListener]] attached.
  *
  * Set-up is timed once per run and cold: the first session start in this
  * JVM (class loading, `graft.Sessions` extension registration). Only the
  * first start in a JVM is cold, so the repeats come from separate runs.
  *
  * Prints per-pass samples as one JSON object on the last stdout line;
  * `perfbench/run.py` turns them into the benchmark's metrics.
  *
  * Usage: Runner <workload> <seed> <seconds> <trace 0|1> <work dir>
  *   <cores> <warm-up passes>
  */
object Runner {
  val OpKey = "bench.op"
  val PassKey = "bench.pass"

  /** At least this many timed passes, however long they take. */
  val MinPasses = 5

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def tag(spark: SparkSession, pass: Int, op: String): Unit = {
    spark.sparkContext.setLocalProperty(PassKey, pass.toString)
    spark.sparkContext.setLocalProperty(OpKey, op)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class OpSample(name: String, wallNs: Long, buildNs: Long,
      materializeNs: Long, problems: Seq[String], digest: String)

  final case class PassSample(index: Int, traced: Boolean, wallNs: Long,
      startMs: Long, endMs: Long, gcMs: Long, ops: Seq[OpSample])

  /** How a pass's outputs are checked, after the pass and untimed: not at
    * all (warm-up), in full against ground truth (the first timed pass),
    * or by digest against that fully checked pass (every later one; the
    * operations are deterministic, so an equal digest is an equal output).
    */
  sealed trait Verify
  case object Unchecked extends Verify
  case object FullCheck extends Verify
  final case class SameDigests(byOp: Map[String, String]) extends Verify

  private[perfbench] def verify(name: String, c: Check, how: Verify):
      (String, Seq[String]) =
    how match {
      case Unchecked => ("-", Nil)
      case FullCheck => (c.digest, c.problems())
      case SameDigests(byOp) =>
        (c.digest, if (byOp.get(name).contains(c.digest)) Nil
          else Seq(s"digest ${c.digest} differs from the checked pass's " +
            byOp.getOrElse(name, "-")))
    }

  /** Runs one pass: every op timed, then every op's output verified
    * untimed. The short sleep keeps check jobs out of the pass's
    * millisecond window, which traced passes compare job counts in.
    */
  private def pass(spark: SparkSession, w: Workload, index: Int,
      traced: Boolean, how: Verify): PassSample = {
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ran = w.ops(spark).map { op =>
      tag(spark, index, op.name)
      val ph = new Phases
      val o0 = System.nanoTime()
      val check = try Right(op.run(ph)) catch {
        case e: Exception =>
          log(s"${op.name} failed: $e")
          Left(e.toString)
      }
      (op.name, System.nanoTime() - o0, ph, check)
    }
    val wallNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    val gc = gcMs() - gc0
    Thread.sleep(2)
    val ops = ran.map { case (name, ns, ph, result) =>
      tag(spark, index, "check")
      val (digest, problems) = result match {
        case Left(err) => ("-", Seq(err))
        case Right(c) =>
          try verify(name, c, how) catch {
            case e: Exception => ("-", Seq(s"check threw $e"))
          }
      }
      problems.foreach(p => log(s"pass $index ${name}: $p"))
      OpSample(name, ns, ph.buildNs, ph.materializeNs, problems, digest)
    }
    tag(spark, -1, "idle")
    PassSample(index, traced, wallNs, startMs, endMs, gc, ops)
  }

  /** Exits explicitly, so no lingering non-daemon thread can keep the JVM
    * alive after the result (or a failure) is printed.
    */
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) } catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, cores, warmupsS) = args
    val (seed, seconds, trace, warmups) = (seedS.toLong, secondsS.toDouble,
      traceS == "1", warmupsS.toInt)
    val w = Workloads(workload, work, seed)

    val s0 = System.nanoTime()
    val spark = graft.Sessions.local(cores, "perfbench")
    val setupNs = System.nanoTime() - s0
    log(f"set-up: ${setupNs / 1e9}%.2f s")
    tag(spark, -1, "generate")
    val g0 = System.nanoTime()
    w.generate(spark, seed)
    log(f"generated inputs in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    for (i <- 1 to warmups) {
      val p = pass(spark, w, 0, traced = false, Unchecked)
      log(f"warm-up pass $i: ${p.wallNs / 1e9}%.3f s")
    }

    val listener = new OpListener
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[PassSample]
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      val i = passes.size + 1
      val traced = trace && i % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(listener)
      val p = pass(spark, w, i, traced,
        if (passes.isEmpty) FullCheck
        else SameDigests(passes.head.ops.map(o => o.name -> o.digest).toMap))
      if (traced) {
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      passes += p
      log(f"pass $i${if (traced) " (traced)" else ""}: ${p.wallNs / 1e9}%.3f s")
    }
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val rss = peakRssMb()
    val coresN = spark.sparkContext.defaultParallelism
    spark.stop()

    println(Json.obj(
      "workload" -> workload,
      "cores" -> coresN,
      "setup_s" -> setupNs / 1e9,
      "peak_rss_mb" -> rss,
      "persisted_rdds_end" -> persisted,
      "untagged_jobs" -> listener.untaggedJobs,
      "passes" -> passes.toSeq.map { p =>
        val jobsInWindow = listener.jobStarts.count(t => t >= p.startMs && t <= p.endMs)
        Json.obj(
          "traced" -> p.traced,
          "pass_s" -> p.wallNs / 1e9,
          "gc_s" -> p.gcMs / 1e3,
          "jobs_in_window" -> (if (p.traced) jobsInWindow else -1),
          "ops" -> p.ops.map { o =>
            val base = Seq(
              "name" -> o.name,
              "wall_s" -> o.wallNs / 1e9,
              "build_s" -> o.buildNs / 1e9,
              "materialize_s" -> o.materializeNs / 1e9,
              "problems" -> o.problems,
              "digest" -> o.digest)
            val traceFields =
              if (!p.traced) Nil
              else {
                val s = listener.stats(p.index, o.name)
                val inJobsMs = OpListener.unionLength(s.intervals.toSeq)
                val wallMs = o.wallNs / 1e6
                Seq(
                  "jobs" -> s.jobs,
                  "tasks" -> s.tasks,
                  "driver_gap_s" -> (wallMs - inJobsMs) / 1e3,
                  "exec_cpu_s" -> s.cpuNs / 1e9,
                  "busy_frac" -> s.runMs / (wallMs * coresN),
                  "shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
                  "spill_mb" -> s.spill / 1048576.0,
                  "input_mb" -> s.input / 1048576.0,
                  "output_mb" -> s.output / 1048576.0)
              }
            Json.obj(base ++ traceFields: _*)
          })
      }))
  }
}

/** Minimal JSON writer for the runner's one output line. */
object Json {
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case Raw(json) => json
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
