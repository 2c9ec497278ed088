package graft.tools
import java.nio.file.{Files, Paths}

/** Batch plan capture for the optimization-round deliverables: write
  * `explain("formatted")` for each named query to <outDir>/<key>_<suffix>.txt
  * in ONE session (one JVM and session spin-up for the whole key set).
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <key1,key2,...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val out = args(1); val suffix = args(2)
    val keys: Seq[String] =
      if (args.length < 4 || args(3) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").toSeq
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    keys.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(out, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
