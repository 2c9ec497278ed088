package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One shared local session for all suites. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4", "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs `body` starts, counted by job group (the KnnKernelSpec idiom:
    * listener events arrive in order, so once a later marker job is
    * seen every job of the body has been seen too).
    */
  def jobsOf(body: => Unit): Int = {
    val group = s"counted-jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull + "")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "measured call")
      try body finally spark.sparkContext.clearJobGroup()
      val marker = s"$group-marker"
      spark.sparkContext.setJobGroup(marker, "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "the marker job never reached the listener")
      seen.asScala.count(_ == group)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
