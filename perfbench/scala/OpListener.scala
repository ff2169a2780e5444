package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Attributes Spark jobs and task metrics to the benchmark operation that
  * launched them, through the `bench.op` / `bench.pass` local properties
  * the runner sets around each call. Only the benchmark registers it, and
  * only for traced passes.
  */
final class OpListener extends SparkListener {

  /** Totals for one (pass, op). Times in ms, sizes in bytes. */
  final class Stats {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byKey = mutable.HashMap.empty[(Int, String), Stats]
  private val stageKey = mutable.HashMap.empty[Int, (Int, String)]
  private val jobKey = mutable.HashMap.empty[Int, ((Int, String), Long)]
  /** Start times of every job seen, tagged or not. */
  val jobStarts: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var untaggedJobs = 0L

  private def keyOf(props: java.util.Properties): Option[(Int, String)] =
    Option(props).flatMap { p =>
      for (op <- Option(p.getProperty(Runner.OpKey));
           pass <- Option(p.getProperty(Runner.PassKey)))
        yield (pass.toInt, op)
    }

  def stats(pass: Int, op: String): Stats = synchronized {
    byKey.getOrElseUpdate((pass, op), new Stats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
    keyOf(e.properties) match {
      case Some(k) =>
        byKey.getOrElseUpdate(k, new Stats).jobs += 1
        jobKey(e.jobId) = (k, e.time)
        e.stageIds.foreach(s => stageKey(s) = k)
      case None => untaggedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (k, start) =>
      byKey(k).intervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      keyOf(e.properties).foreach(k => stageKey(e.stageInfo.stageId) = k)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = byKey.getOrElseUpdate(k, new Stats)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }
}

object OpListener {

  /** Length of the union of the given [start, end] intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
