package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-call attribution of Spark work, from outside the program.
  *
  * Every call the benchmark makes into a layer runs under its own job
  * group plus a benchmark-owned local property carrying the call's span
  * id. Spark copies local properties into the threads a call starts
  * (graft's `Overlap` pools, broadcast and subquery threads), so every
  * job the call causes carries the id even where Spark overrides the
  * job group. A listener folds task metrics up to job → call.
  */
object Trace {
  val CallProp = "graft.perfbench.call"

  final case class Span(id: Long, parent: Long, kind: String, name: String,
                        startMs: Double, endMs: Double)

  /** Spark work summed over a set of tasks. */
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var tasksFailed = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var inputBytes = 0L; var outputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var inputRecords = 0L
    def add(o: Work): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
      runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; inputRecords += o.inputRecords
    }
    def same(o: Work): Boolean =
      jobs == o.jobs && stages == o.stages && tasks == o.tasks && tasksFailed == o.tasksFailed &&
        inputBytes == o.inputBytes && outputBytes == o.outputBytes &&
        shuffleBytes == o.shuffleBytes && spillBytes == o.spillBytes &&
        inputRecords == o.inputRecords &&
        math.abs(cpuMs - o.cpuMs) < 1e-6 * math.max(1.0, cpuMs) &&
        math.abs(runMs - o.runMs) < 1e-6 * math.max(1.0, runMs) &&
        math.abs(gcMs - o.gcMs) < 1e-6 * math.max(1.0, gcMs)
  }

  final case class JobRec(jobId: Int, call: Long, startMs: Long, var endMs: Long = -1L)
  final case class StageRec(stageId: Int, attempt: Int, job: Int, startMs: Long, endMs: Long,
                            name: String, tasks: Int, maxTaskMs: Long, sumTaskMs: Long)

  /** Aggregates listener events by job, stage and call. Spark delivers
    * events on one bus thread; the benchmark thread reads only after
    * [[Listener.drain]].
    */
  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageJob = mutable.HashMap.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val byJob = mutable.HashMap.empty[Int, Work]
    /** Per stage: task count, longest task, summed task time (skew). */
    private val taskTimes = mutable.HashMap.empty[Int, (Int, Long, Long)]
    val total = new Work
    @volatile var drainedJob: Int = -1

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallProp)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, call, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      byJob.getOrElseUpdate(e.jobId, new Work).jobs += 1
      total.jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      if (jobs.get(e.jobId).exists(_.call == Long.MinValue)) drainedJob = e.jobId
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val job = stageJob.getOrElse(si.stageId, -1)
      val (n, mx, sum) = taskTimes.getOrElse(si.stageId, (0, 0L, 0L))
      stages += StageRec(si.stageId, si.attemptNumber(), job,
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.name, n, mx, sum)
      byJob.getOrElseUpdate(job, new Work).stages += 1
      total.stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val (n, mx, sum) = taskTimes.getOrElse(e.stageId, (0, 0L, 0L))
      val d = e.taskInfo.duration
      taskTimes(e.stageId) = (n + 1, math.max(mx, d), sum + d)
      val w = new Work
      w.tasks = 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) w.tasksFailed = 1
      val m = e.taskMetrics
      if (m != null) {
        w.runMs = m.executorRunTime.toDouble
        w.cpuMs = m.executorCpuTime / 1e6
        w.gcMs = m.jvmGCTime.toDouble
        w.inputBytes = m.inputMetrics.bytesRead
        w.inputRecords = m.inputMetrics.recordsRead
        w.outputBytes = m.outputMetrics.bytesWritten
        w.shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      byJob.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new Work).add(w)
      total.add(w)
    }

    /** Block until every event posted so far has been delivered: run a
      * marker job and wait for its end event (the bus is in order).
      */
    def drain(sc: SparkContext): Unit = {
      sc.setLocalProperty(CallProp, Long.MinValue.toString)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(CallProp, null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!synchronized(jobs.values.exists(j => j.call == Long.MinValue && j.jobId == drainedJob)) &&
        System.nanoTime() < deadline) Thread.sleep(5)
      require(System.nanoTime() < deadline, "listener bus did not drain")
    }
  }
}

/** One call into a layer: its wall time, and (traced runs) its Spark work. */
final case class CallRec(id: Long, layer: String, call: String, phase: String,
                         startMs: Double, endMs: Double, ok: Boolean) {
  def key: String = s"$layer.$call"
  def wallMs: Double = endMs - startMs
}

/** Spans and call records for one run. With tracing off, calls are
  * only timed: no job group, no property, no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val listener: Option[Listener] =
    if (enabled) { val l = new Listener; sc.addSparkListener(l); Some(l) } else None

  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  val calls = mutable.ArrayBuffer.empty[CallRec]
  private var stack: List[Long] = Nil
  private var inCall = false

  private def open(kind: String, name: String): (Long, Long, Double) = {
    val id = nextId; nextId += 1
    (id, stack.headOption.getOrElse(0L), nowMs)
  }

  /** A workload or phase span enclosing calls. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val (id, parent, t0) = open(kind, name)
    stack = id :: stack
    try body finally {
      stack = stack.tail
      spans += Span(id, parent, kind, name, t0, nowMs)
    }
  }

  /** The phase calls are recorded under: generate, build, warmup, timed, calibration. */
  var phase: String = "setup"

  /** Run one call into `layer`, attributing its Spark jobs to it. */
  def call[T](layer: String, name: String)(body: => T): T = {
    require(!inCall, s"nested call $layer.$name")
    val (id, parent, _) = open("call", s"$layer.$name")
    if (enabled) {
      sc.setJobGroup(s"perfbench-$id", s"$layer.$name", interruptOnCancel = false)
      sc.setLocalProperty(CallProp, id.toString)
    }
    inCall = true
    val t0 = nowMs
    var ok = false
    try {
      val r = body
      ok = true
      r
    } finally {
      val t1 = nowMs
      inCall = false
      if (enabled) { sc.clearJobGroup(); sc.setLocalProperty(CallProp, null) }
      spans += Span(id, parent, "call", s"$layer.$name", t0, t1)
      calls += CallRec(id, layer, name, phase, t0, t1, ok)
      System.err.println(f"# call $phase%-11s $layer.$name%-32s ${t1 - t0}%10.1f ms${if (ok) "" else " FAILED"}")
    }
  }
}
