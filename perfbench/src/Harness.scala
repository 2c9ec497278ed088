package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** What one workload run hands back to [[Main]]: the gated latency
  * (the geometric mean, over the kinds of call a round makes, of each
  * kind's median wall time), the workload's own named figures (value,
  * unit, samples) and per-layer state figures (file counts).
  */
final case class Outcome(callP50GeomeanMs: Double,
                         detail: Seq[(String, Double, String, Int)],
                         layerState: Map[String, Double] = Map.empty)

/** Shared machinery for the workloads: calls with failure accounting,
  * oracle checks, phases, storage sampling and input writers.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val seed: Long, val seconds: Int) {
  private val failedOps = mutable.LinkedHashMap.empty[Long, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  def failed: Long = failedOps.size.toLong
  private var lastOp = 0L
  private val created = System.nanoTime()

  /** One operation: a call into `layer`. A throw is a failed operation. */
  def op[T](layer: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val r = scala.util.Try(tracer.call(layer, name)(body))
    lastOp = tracer.calls.last.id
    r.failed.foreach(e => fail(s"$layer.$name threw: ${e.toString.linesIterator.take(1).mkString.take(300)}"))
    r.toOption
  }

  /** A failed check fails the operation it judges (the last one run). */
  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** A check over the whole run (a recall floor): a failure counts as
    * one more failed operation of its own.
    */
  def checkRun(cond: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!cond) { lastOp = -attempted; fail(msg) }
  }

  private def fail(msg: String): Unit = {
    if (!failedOps.contains(lastOp)) failedOps(lastOp) = msg
    if (failures.size < 50) failures += msg
  }

  /** Benchmark-side Spark work (writing inputs, read-back checks) is a
    * call too, so the traced run can attribute every job.
    */
  def harness[T](name: String)(body: => T): T = tracer.call("perfbench", name)(body)

  def inPhase[T](name: String)(body: => T): T = {
    val prev = tracer.phase
    tracer.phase = name
    System.err.println(f"# phase $name at ${(System.nanoTime() - created) / 1e9}%.1f s")
    try tracer.span("phase", name)(body) finally tracer.phase = prev
  }

  /** Timed loop: whole rounds until `seconds` of wall time have passed
    * and at least `minRounds` rounds have run, so the median round has
    * enough samples even when rounds are long. `before` and `after` run
    * in the timed phase, outside the rounds.
    */
  def timedRounds(minRounds: Int, before: => Unit, after: => Unit)(round: Int => Unit): Int =
    inPhase("timed") {
      before
      val t0 = System.nanoTime()
      var r = 0
      while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) { round(r); r += 1 }
      after
      r
    }

  def timed(key: String): Seq[Double] =
    tracer.calls.iterator.filter(c => c.key == key && c.phase == "timed" && c.ok)
      .map(_.wallMs).toSeq

  // --------------------------------------------------- storage sampling

  /** Spark cached storage (memory + disk), in MB. */
  def cachedMb: Double = {
    val infos = spark.sparkContext.getRDDStorageInfo
    infos.map(i => i.memSize + i.diskSize).sum / 1e6
  }
  def cachedRdds: Int = spark.sparkContext.getRDDStorageInfo.length
  var peakCachedMb = 0.0
  def sampleStorage(): Unit = peakCachedMb = math.max(peakCachedMb, cachedMb)

  // -------------------------------------------------------- inputs

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, false)),
    StructField("label", IntegerType)))

  /** Write a corpus as `<dir>/embeddings.parquet`, the layout graft's
    * corpus readers take.
    */
  def writeCorpus(dir: String, c: Gen.Corpus): Unit = harness("writeCorpus") {
    val rows = c.ids.indices.map(i => Row(c.ids(i), c.vecs(i).toSeq, c.labels(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), VecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** (id, vec) frame over driver-held vectors, as the index mutators take. */
  def idVecFrame(ids: Array[Long], vecs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    ids.iterator.zip(vecs.iterator).map { case (i, v) => (i, v.toSeq) }.toSeq.toDF("id", "vec")
  }

  def writeDocs(dir: String, docs: Seq[Gen.Doc]): Unit = harness("writeDocs") {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => java.nio.file.Files.delete(q))
      finally s.close()
    }
  }

  /** Live `part-` files under a tree. */
  def partFiles(path: String): Int = {
    val p = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(p)
    try s.filter(q => q.getFileName.toString.startsWith("part-")).count().toInt finally s.close()
  }

  // ---------------------------------------------------- result checks

  /** (neighbor_id, dist) of a ranked result, in rank order; NaN where
    * the path returns no distance column.
    */
  def ranked(rows: Array[Row]): Array[(Long, Double)] = {
    if (rows.isEmpty) return Array.empty
    val s = rows.head.schema
    val dist = s.fieldNames.indexOf("dist")
    val inOrder = if (s.fieldNames.contains("rank")) rows.sortBy(_.getInt(s.fieldIndex("rank"))) else rows
    inOrder.map(r => (r.getLong(s.fieldIndex("neighbor_id")), if (dist >= 0) r.getDouble(dist) else Double.NaN))
  }

  /** A batch result grouped by query_id, each ranked as [[ranked]]. */
  def rankedByQuery(rows: Array[Row]): Map[Long, Array[(Long, Double)]] =
    if (rows.isEmpty) Map.empty
    else {
      val q = rows.head.schema.fieldIndex("query_id")
      rows.groupBy(_.getLong(q)).map { case (k, rs) => k -> ranked(rs) }
    }

  /** The checks every point answer must pass against the live set;
    * returns recall@k against the exact answer.
    */
  def checkAnswer(what: String, q: Array[Float], got: Array[(Long, Double)], live: Oracle.LiveSet,
                  k: Int, dist: Oracle.Dist): Double = {
    val (ids, vecs) = live.arrays
    val truth = Oracle.topK(q, ids, vecs, k, dist)
    check(got.length == math.min(k, ids.length), s"$what returned ${got.length} rows, want $k")
    check(got.map(_._1).distinct.length == got.length, s"$what returned duplicate ids")
    got.foreach { case (id, d) =>
      check(live.contains(id), s"$what served unknown id $id")
      if (live.contains(id) && !d.isNaN)
        check(Oracle.sameDistance(d, dist(q, live.vec(id))),
          s"$what id $id distance $d, oracle ${dist(q, live.vec(id))}")
    }
    // rank order must follow the true distances of what was returned
    val trueD = got.collect { case (id, _) if live.contains(id) => dist(q, live.vec(id)) }
    check(trueD.sameElements(trueD.sorted), s"$what not ranked by distance")
    Oracle.recall(got.map(_._1).toSeq, truth.map(_._1).toSeq)
  }
}

object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
}
