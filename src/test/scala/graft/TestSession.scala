package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4", "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs `body` starts, in its own thread and the threads it starts. */
  def jobsOf(body: => Unit): Int = Metrics.measure(spark)(body).total.jobs
}
