package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for the jobs-per-call pins. */
object SparkJobs {

  /** Spark jobs started while `body` runs. A one-task fence job before
    * and after brackets the count: the listener bus delivers events in
    * order, so once the closing fence arrives every job of `body` has.
    */
  def during(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val fences = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.fence")) match {
          case Some(tag: String) => fences.put(tag)
          case _ => jobs.incrementAndGet()
        }
    }
    def fence(tag: String): Unit = {
      sc.setLocalProperty("graft.fence", tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      if (fences.poll(60, TimeUnit.SECONDS) != tag) {
        throw new IllegalStateException(s"fence $tag lost")
      }
    }
    sc.addSparkListener(listener)
    try {
      fence("open")
      jobs.set(0)
      body
      fence("close")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
