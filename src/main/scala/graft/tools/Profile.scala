package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, GraftSession, Memo, Metrics, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Where a key's time goes, through [[graft.Metrics]].
  *
  *   runMain graft.tools.Profile <sfDir> <key,…|all> [planDir]
  *
  * A key is a `SparkEntry.queries` key or a `Bench` memo-warmer name;
  * `all` is every query key. A warm pass runs every key first (memos,
  * codegen), then the measured pass runs each key once. A warmer is
  * measured from a cold memo: the dir's memos are dropped and the
  * warmers `Bench` runs before it are re-filled unmeasured, so its row
  * bills what the bench's line bills.
  *
  * Prints one row per key, then, for a key whose jobs were tagged
  * ([[graft.Metrics.phase]]), one row per phase (`-` holds the untagged
  * jobs): wall seconds, jobs, stages, tasks and summed executor task
  * seconds. A key whose wall time dwarfs its task time is paying for
  * sequential small jobs, not compute. With `planDir`, each query key's
  * executed plan is written to `<planDir>/<key>.txt`.
  */
object Profile {

  /** One printed row: `phase` is empty on a key's own row. */
  final case class Row(key: String, phase: String, work: Metrics.Work, error: Option[String])

  def profile(spark: SparkSession, dir: String, keys: Seq[String],
              planDir: Option[String]): Seq[Row] = {
    val warmers = Bench.memoWarmers(spark, dir)
    def run(key: String): Option[DataFrame] = warmers.find(_._1 == key) match {
      case Some((_, warm)) => warm(); None
      case None =>
        val df = SparkEntry.queries.getOrElse(key, sys.error(s"no key or memo warmer '$key'"))(spark, dir)
        df.queryExecution.toRdd.count()
        Some(df)
    }
    keys.foreach(k => try run(k) catch { case _: Throwable => () })
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    keys.flatMap { key =>
      try {
        if (warmers.exists(_._1 == key)) {
          Memo.invalidate(dir)
          warmers.takeWhile(_._1 != key).foreach(_._2())
        }
        val r = Metrics.measure(spark)(run(key))
        for (d <- planDir; df <- r.result)
          Files.writeString(Paths.get(d, s"$key.txt"),
            df.queryExecution.explainString(FormattedMode))
        // an untagged key has no phase rows: its `-` row would repeat the key's
        val phases = if (r.phases.forall(_._1 == Metrics.Unphased)) Nil else r.phases
        Row(key, "", r.total, None) +: phases.map { case (p, w) => Row(key, p, w, None) }
      } catch { case e: Throwable =>
        Seq(Row(key, "", Metrics.Work(), Some(e.toString.linesIterator.take(1).mkString.take(120))))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <key,…|all> [planDir]")
    val dir = args(0)
    val keys =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted else args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(f"${"key"}%-34s ${"phase"}%-24s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s " +
      f"${"tasks"}%7s ${"taskt_s"}%8s")
    profile(spark, dir, keys, args.lift(2)).foreach { case Row(k, p, w, err) =>
      println(f"$k%-34s $p%-24s ${w.wallS}%8.2f ${w.jobs}%6d ${w.stages}%7d ${w.tasks}%7d " +
        f"${w.taskS}%8.2f${err.fold("")(" ERR " + _)}")
    }
    spark.stop()
  }
}
