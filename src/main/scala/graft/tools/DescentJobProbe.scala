package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Round-17 measurement seam for the NN-Descent loop: run
  * `Dedup.descentGraph` per metric on a fresh session and report wall
  * seconds + Spark JOB count (the per-iteration job structure is the
  * thing the round-17 fold changes: merge-checkpoint + anti-join
  * checkpoint + count → flagged merge-checkpoint + cached count).
  * Key-level explain can't show this — each iteration's eager
  * checkpoint hides the loop body — so the probe is the committed
  * evidence alongside the bench's memo_descent_graph* lines.
  *
  *   runMain graft.tools.DescentJobProbe [sfDir]
  */
object DescentJobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    // shared substrate first so the descent measurement doesn't bill
    // the IVF index build (the bench's memo-line convention)
    graft.operators.Ivf.warmIndex(spark, dir)
    for (metric <- Seq(graft.functions.VectorMetric.Cosine,
                       graft.functions.VectorMetric.L2,
                       graft.functions.VectorMetric.Dot)) {
      graft.operators.Ivf.warmIndex(spark, dir, metric)
      // 3 reps with memo invalidation between: the descent memo is
      // one-shot per session, and single-shot walls on this host carry
      // ±30% noise — the rep list is the honest unit. The invalidation
      // drops every memo of the dir, so the index is re-warmed before
      // the measurement starts.
      for (rep <- 1 to 3) {
        graft.Memo.invalidate(dir)
        graft.operators.Ivf.warmIndex(spark, dir)
        graft.operators.Ivf.warmIndex(spark, dir, metric)
        Thread.sleep(300)
        jobs.set(0)
        val t0 = System.nanoTime()
        val (edges, iters) = graft.operators.Dedup.descentGraph(spark, dir, 5, metric)
        edges.queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"[descentjobs] metric=$metric%d rep=$rep%d iters=$iters%d wall=$wall%7.2f s jobs=${jobs.get}%4d")
      }
    }
    spark.stop()
  }
}
