package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The one job-attribution listener.
  *
  * [[measure]] runs a call under a fresh call id carried as a local
  * property. Spark copies local properties into the threads a call
  * starts (`Overlap` pools, broadcast and subquery threads, a stream's
  * execution thread), so every job the call causes carries the id. Its
  * stages are tied to it by `SparkListenerJobStart.stageIds`. Jobs,
  * stages, tasks and summed executor run time are folded up to the call
  * and to the [[phase]] each job started under.
  *
  * Listener events arrive in order, so once the end of a marker job
  * started after the call is delivered, every event of the call has
  * been: the counts are read after that flush, never after a sleep.
  */
object Metrics {
  private val CallProp = "graft.metrics.call"
  private val PhaseProp = "graft.metrics.phase"

  /** Work summed over some jobs: driver wall seconds, jobs, stages,
    * tasks and summed executor task seconds.
    */
  final case class Work(wallS: Double = 0.0, jobs: Int = 0, stages: Int = 0,
                        tasks: Int = 0, taskS: Double = 0.0) {
    def +(o: Work): Work =
      Work(wallS + o.wallS, jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskS + o.taskS)
  }

  /** A measured call: its result, its whole work, and the work of each
    * phase in first-seen order. Jobs started outside any phase sit
    * under [[Unphased]], whose wall time is the rest of the call's.
    */
  final case class Report[T](result: T, total: Work, phases: Seq[(String, Work)])

  val Unphased = "-"

  /** Calls being measured, by id: [[phase]] reports its wall time here. */
  private val open = new ConcurrentHashMap[String, Recorder]()

  /** Tag every job `body` starts, in this thread and the threads it
    * starts, with phase `name`. Outside [[measure]] this only sets and
    * restores a local property.
    */
  def phase[T](name: String)(body: => T): T =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => body
      case Some(spark) =>
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty(PhaseProp)
        sc.setLocalProperty(PhaseProp, name)
        val t0 = System.nanoTime()
        try body finally {
          sc.setLocalProperty(PhaseProp, prev)
          Option(sc.getLocalProperty(CallProp)).flatMap(id => Option(open.get(id)))
            .foreach(_.addWall(name, (System.nanoTime() - t0) / 1e9))
        }
    }

  /** Run `body` as one call and report the Spark work it caused. */
  def measure[T](spark: SparkSession)(body: => T): Report[T] = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val rec = new Recorder(id)
    val prev = sc.getLocalProperty(CallProp)
    sc.addSparkListener(rec)
    open.put(id, rec)
    try {
      sc.setLocalProperty(CallProp, id)
      val t0 = System.nanoTime()
      val result = try body finally sc.setLocalProperty(CallProp, prev)
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(CallProp, rec.flushId)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(CallProp, prev)
      require(rec.flushed.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the flush job within 60 s")
      rec.report(result, wall)
    } finally {
      open.remove(id)
      sc.removeSparkListener(rec)
    }
  }

  private final class Recorder(id: String) extends SparkListener {
    val flushId = s"$id/flush"
    val flushed = new CountDownLatch(1)
    @volatile private var flushJob = -1
    private val stagePhase = mutable.HashMap.empty[Int, String]
    private val work = mutable.LinkedHashMap.empty[String, Work]
    private var total = Work()

    private def add(phase: String, w: Work): Unit = synchronized {
      work(phase) = work.getOrElse(phase, Work()) + w
      total += w
    }

    def addWall(phase: String, s: Double): Unit = add(phase, Work(wallS = s))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(p => (p.getProperty(CallProp), p.getProperty(PhaseProp))) match {
        case Some((`id`, ph)) =>
          val phase = Option(ph).getOrElse(Unphased)
          synchronized(e.stageIds.foreach(s => stagePhase.getOrElseUpdate(s, phase)))
          add(phase, Work(jobs = 1))
        case Some((`flushId`, _)) => flushJob = e.jobId
        case _ =>
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == flushJob) flushed.countDown()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      synchronized(stagePhase.get(si.stageId)).foreach { phase =>
        val runMs = Option(si.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        add(phase, Work(stages = 1, tasks = si.numTasks, taskS = runMs / 1e3))
      }
    }

    def report[T](result: T, wallS: Double): Report[T] = synchronized {
      val phased = work.filter(_._1 != Unphased).values.map(_.wallS).sum
      val rest = work.getOrElse(Unphased, Work()).copy(wallS = math.max(0.0, wallS - phased))
      val phases = work.toSeq.filter(_._1 != Unphased) ++
        (if (rest != Work()) Seq(Unphased -> rest) else Nil)
      Report(result, total.copy(wallS = wallS), phases)
    }
  }
}
