package graft.perfbench

import scala.collection.mutable

/** The traced run's per-layer table, spans and attribution self-check. */
final case class LayerReport(metrics: Seq[(String, Double, String)], spans: String,
                             attribution: String, failures: Seq[String])

object Layers {
  /** Point serving calls: eight measures each. */
  val Serving = Seq("IndexLifecycle.query", "Pq.queryIvfPq", "GraphIndex.queryGraphBatch")
  /** Batch calls: seven measures each, the last a rate. */
  val Batch = Seq("Knn.knn" -> "pairs_per_s", "VectorFunctions.l2Distance" -> "pairs_per_s",
    "Ivf.annBatch" -> "queries_per_s", "TextOps.pipelineFuzzyDedup" -> "docs_per_s",
    "Dedup.minhashSignatures" -> "docs_per_s")
  /** Setup calls: wall, jobs, bytes written. */
  val Setup = Seq("IndexLifecycle.build", "Pq.writeIvfPq", "GraphIndex.build", "Ivf.warmIndex")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Serving.flatMap(c => Seq(s"$c.wall_p50_ms" -> "ms", s"$c.jobs" -> "count", s"$c.driver_ms" -> "ms",
      s"$c.cpu_ms" -> "ms", s"$c.shuffle_mb" -> "MB", s"$c.input_mb" -> "MB", s"$c.output_mb" -> "MB",
      s"$c.gc_ms" -> "ms")) ++
    Batch.flatMap { case (c, rate) => Seq(s"$c.wall_ms" -> "ms", s"$c.jobs" -> "count",
      s"$c.cpu_ms" -> "ms", s"$c.shuffle_mb" -> "MB", s"$c.spill_mb" -> "MB", s"$c.gc_ms" -> "ms",
      s"$c.$rate" -> rate.stripSuffix("_per_s").concat("/s")) } ++
    Setup.flatMap(c => Seq(s"$c.wall_ms" -> "ms", s"$c.jobs" -> "count", s"$c.output_mb" -> "MB")) ++
    Seq("GraftSession.start_s" -> "s") ++
    Serving.map(c => s"$c.rows_per_result" -> "ratio") ++
    Seq("IndexLifecycle.files" -> "count", "GraphIndex.files" -> "count", "memo.cached_rdds" -> "count",
      "memo.cached_mb_delta" -> "MB", "spark.tasks_failed" -> "count")

  def report(w: Workload, h: Harness, l: Trace.Listener, layerState: Map[String, Double],
             startS: Double, rdds: Int, cachedDelta: Double): LayerReport = l.synchronized {
    val calls = h.tracer.calls.toSeq
    val byCall = mutable.HashMap.empty[Long, Trace.Work]
    val jobIntervals = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Double, Double)]]
    l.jobs.values.foreach { j =>
      byCall.getOrElseUpdate(j.call, new Trace.Work).add(l.byJob.getOrElse(j.jobId, new Trace.Work))
      jobIntervals.getOrElseUpdate(j.call, mutable.ArrayBuffer.empty) += ((j.startMs.toDouble, j.endMs.toDouble))
    }
    def work(c: CallRec) = byCall.getOrElse(c.id, new Trace.Work)
    /** Wall time minus the union of the call's job intervals. */
    def driverMs(c: CallRec): Double = {
      val iv = jobIntervals.getOrElse(c.id, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a, c.startMs), math.min(b, c.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var end = Double.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      c.wallMs - covered
    }

    // ---- self-check: every job attributed to exactly one call, sums agree
    val failures = mutable.ArrayBuffer.empty[String]
    val known = calls.map(_.id).toSet + Long.MinValue
    val orphans = l.jobs.values.filterNot(j => known.contains(j.call)).map(_.jobId).toSeq
    if (orphans.nonEmpty) failures += s"trace: ${orphans.size} jobs not attributed to a call: ${orphans.take(10)}"
    val ids = l.jobs.keys.toSeq.sorted
    if (ids.nonEmpty && ids != (ids.head to ids.last))
      failures += "trace: job ids observed are not contiguous (events lost)"
    if (l.byJob.contains(-1)) failures += "trace: tasks of a stage no job announced"
    val summed = new Trace.Work
    byCall.values.foreach(summed.add)
    if (!summed.same(l.total)) failures += "trace: per-call sums differ from run totals"

    // ---- the per-layer table
    val timed = calls.filter(_.phase == "timed")
    def of(key: String, cs: Seq[CallRec]) = cs.filter(c => c.key == key && c.ok)
    def meanOf(cs: Seq[CallRec])(f: CallRec => Double): Double =
      if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.length
    val mb = 1e6
    val values = mutable.LinkedHashMap.empty[String, Double]
    Serving.foreach { k =>
      val cs = of(k, timed)
      values(s"$k.wall_p50_ms") = if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.wallMs))
      values(s"$k.jobs") = meanOf(cs)(work(_).jobs.toDouble)
      values(s"$k.driver_ms") = meanOf(cs)(driverMs)
      values(s"$k.cpu_ms") = meanOf(cs)(work(_).cpuMs)
      values(s"$k.shuffle_mb") = meanOf(cs)(work(_).shuffleBytes / mb)
      values(s"$k.input_mb") = meanOf(cs)(work(_).inputBytes / mb)
      values(s"$k.output_mb") = meanOf(cs)(work(_).outputBytes / mb)
      values(s"$k.gc_ms") = meanOf(cs)(work(_).gcMs)
    }
    Batch.foreach { case (k, rate) =>
      val cs = of(k, timed)
      val wall = meanOf(cs)(_.wallMs)
      values(s"$k.wall_ms") = wall
      values(s"$k.jobs") = meanOf(cs)(work(_).jobs.toDouble)
      values(s"$k.cpu_ms") = meanOf(cs)(work(_).cpuMs)
      values(s"$k.shuffle_mb") = meanOf(cs)(work(_).shuffleBytes / mb)
      values(s"$k.spill_mb") = meanOf(cs)(work(_).spillBytes / mb)
      values(s"$k.gc_ms") = meanOf(cs)(work(_).gcMs)
      values(s"$k.$rate") = if (wall > 0) w.itemsPerCall.getOrElse(k, 0.0) / (wall / 1e3) else 0.0
    }
    Setup.foreach { k =>
      val cs = of(k, calls)
      values(s"$k.wall_ms") = meanOf(cs)(_.wallMs)
      values(s"$k.jobs") = meanOf(cs)(work(_).jobs.toDouble)
      values(s"$k.output_mb") = meanOf(cs)(work(_).outputBytes / mb)
    }
    values("GraftSession.start_s") = startS
    Serving.foreach { k =>
      values(s"$k.rows_per_result") = meanOf(of(k, timed))(work(_).inputRecords.toDouble / Workload.K)
    }
    values ++= layerState
    values("memo.cached_rdds") = rdds.toDouble
    values("memo.cached_mb_delta") = cachedDelta
    values("spark.tasks_failed") = l.total.tasksFailed.toDouble

    val metrics = names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }

    // ---- spans: workload → phase → call → job → stage
    val spanRows = mutable.ArrayBuffer.empty[String]
    h.tracer.spans.foreach { s =>
      spanRows += Json.obj("id" -> Json.str(s"c${s.id}"), "parent" -> Json.str(s"c${s.parent}"),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))
    }
    l.jobs.values.foreach { j =>
      spanRows += Json.obj("id" -> Json.str(s"j${j.jobId}"), "parent" -> Json.str(s"c${j.call}"),
        "kind" -> Json.str("job"), "name" -> Json.str(s"job ${j.jobId}"),
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)
    }
    l.stages.foreach { s =>
      spanRows += Json.obj("id" -> Json.str(s"s${s.stageId}.${s.attempt}"),
        "parent" -> Json.str(s"j${s.job}"), "kind" -> Json.str("stage"), "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "tasks" -> s.tasks.toString, "max_task_ms" -> s.maxTaskMs.toString,
        "sum_task_ms" -> s.sumTaskMs.toString)
    }
    val attribution = Json.obj(
      "jobs" -> l.total.jobs.toString, "stages" -> l.total.stages.toString,
      "tasks" -> l.total.tasks.toString, "cpu_ms" -> Json.num(l.total.cpuMs),
      "unattributed_jobs" -> orphans.size.toString, "ok" -> failures.isEmpty.toString,
      "by_call" -> Json.obj(calls.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, cs) =>
        val t = new Trace.Work; cs.foreach(c => t.add(work(c)))
        k -> Json.obj("calls" -> cs.size.toString, "jobs" -> t.jobs.toString,
          "tasks" -> t.tasks.toString, "cpu_ms" -> Json.num(t.cpuMs),
          "wall_ms" -> Json.num(cs.map(_.wallMs).sum), "driver_ms" -> Json.num(cs.map(driverMs).sum))
      }: _*))
    LayerReport(metrics, Json.arr(spanRows.toSeq), attribution, failures.toSeq)
  }
}
