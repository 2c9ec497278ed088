package graft

import graft.functions.{VectorFunctions, VectorMetric}
import graft.operators.{Knn, KnnExec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the fused k-NN operator: `Knn.knn` must agree
  * bit for bit (ids, ranks, distances) with the formulation it
  * replaced — a broadcast cross join scored by VectorDistance and
  * reduced by TopKByDistance — kept here only as the reference.
  */
class KnnKernelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val Metrics = Seq(VectorMetric.L2, VectorMetric.Cosine, VectorMetric.Dot)

  /** The pre-operator `Knn.knn`, verbatim apart from the self filter. */
  private def reference(queries: DataFrame, corpus: DataFrame, k: Int, metric: Int,
                        excludeSelf: Boolean = false): DataFrame = {
    val raw = metric match {
      case VectorMetric.L2     => VectorFunctions.l2Distance(col("vec"), col("qvec"))
      case VectorMetric.Cosine => VectorFunctions.cosineDistance(col("vec"), col("qvec"))
      case VectorMetric.Dot    => -VectorFunctions.dotProduct(col("vec"), col("qvec"))
    }
    val dist = when(size(col("vec")) =!= size(col("qvec")),
      raise_error(concat(lit("embedding dimension mismatch: corpus dim="),
        size(col("vec")).cast("string"), lit(", query dim="),
        size(col("qvec")).cast("string"))).cast("double"))
      .otherwise(raw)
    corpus.crossJoin(broadcast(queries))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKByDistance(dist, col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.dist").as("dist"))
  }

  /** Rows as (query_id, neighbor_id, rank, distance bits), sorted. */
  private def rows(df: DataFrame): Seq[(Option[Long], Long, Int, Long)] =
    df.collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    }.sortBy(t => (t._1.getOrElse(Long.MinValue), t._3, t._2))

  private def assertSame(queries: DataFrame, corpus: DataFrame, k: Int, metric: Int,
                         excludeSelf: Boolean = false): Seq[(Option[Long], Long, Int, Long)] = {
    val want = rows(reference(queries, corpus, k, metric, excludeSelf))
    val got = rows(Knn.knn(queries, corpus, k, metric, excludeSelf))
    assert(got == want, s"metric $metric k $k excludeSelf $excludeSelf")
    got
  }

  private def frame(rows: Seq[Row], idName: String, vecName: String, elem: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField(idName, LongType), StructField(vecName, ArrayType(elem)))))

  private val Dim = 8
  private val corpusVecs: IndexedSeq[Array[Float]] = {
    val rng = new scala.util.Random(7)
    // coarse-grid floats so distances tie, plus null and zero-norm rows
    val base = (0 until 120).map { i =>
      if (i % 29 == 5) null
      else if (i % 31 == 3) Array.fill(Dim)(0f)
      else Array.fill(Dim)((rng.nextInt(9) - 4) * 0.5f + rng.nextInt(3) * 0.125f)
    }
    // every 17th row repeats the row 7 before it: exact distance ties
    base.indices.map(i => if (i % 17 == 16) base(i - 7) else base(i))
  }

  private def corpus(elem: DataType = FloatType, partitions: Int = 3): DataFrame =
    frame(corpusVecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null
                    else if (elem == FloatType) v.toSeq else v.map(_.toDouble).toSeq)
    }, "neighbor_id", "vec", elem).repartition(partitions)

  // query 3 is zero-norm, query 4 has a null vector, rows 6 and 7
  // repeat ids 1 and 2 with other vectors; double queries carry values
  // no float can hold
  private def queries(elem: DataType): DataFrame = frame((0 until 9).map { i =>
    val v: Seq[Double] =
      if (i == 3) Seq.fill(Dim)(0.0)
      else Seq.tabulate(Dim)(j => ((i * 5 + j) % 7 - 3) * 0.5 +
        (if (elem == DoubleType) 0.1 * (j + 1) else 0.0))
    val id = if (i == 6 || i == 7) (i - 5).toLong else i.toLong
    Row(id, if (i == 4) null else if (elem == FloatType) v.map(_.toFloat) else v)
  }, "query_id", "qvec", elem)

  test("matches the cross-join reference bit for bit: float and double queries, every metric") {
    for (elem <- Seq(FloatType, DoubleType); m <- Metrics) {
      val got = assertSame(queries(elem), corpus(), 5, m)
      assert(got.map(_._1).distinct.size == 6, "8 non-null query vectors over 6 distinct ids")
    }
  }

  test("matches the reference with a double-typed corpus and on a single partition") {
    Metrics.foreach(m => assertSame(queries(FloatType), corpus(DoubleType, 1), 4, m))
  }

  test("k larger than the corpus returns every non-null vector, as the reference does") {
    val n = corpusVecs.count(_ != null)
    Metrics.foreach { m =>
      val got = assertSame(queries(DoubleType), corpus(), corpusVecs.size + 10, m)
      assert(got.count(_._1.contains(0L)) == n)
    }
  }

  test("cosine pins zero-norm pairs to distance 1.0") {
    val got = assertSame(queries(FloatType), corpus(), corpusVecs.size, VectorMetric.Cosine)
    val one = java.lang.Double.doubleToRawLongBits(1.0)
    assert(got.filter(_._1.contains(3L)).forall(_._4 == one), "zero-norm query")
    val zeroIds = corpusVecs.indices.filter(i => corpusVecs(i) != null && corpusVecs(i).forall(_ == 0f))
    assert(zeroIds.nonEmpty)
    assert(got.filter(r => zeroIds.contains(r._2.toInt)).forall(_._4 == one), "zero-norm corpus vector")
  }

  test("empty corpus and empty query batch give empty results") {
    val noCorpus = corpus().filter(lit(false))
    val noQueries = queries(FloatType).filter(lit(false))
    Metrics.foreach { m =>
      assert(assertSame(queries(FloatType), noCorpus, 5, m).isEmpty)
      assert(assertSame(noQueries, corpus(), 5, m).isEmpty)
    }
  }

  test("excludeSelf matches the reference's neighbor_id =!= query_id filter") {
    val c = corpus()
    val q = c.filter(col("neighbor_id") % 4 === 0)
      .select(col("neighbor_id").as("query_id"), col("vec").as("qvec"))
    Metrics.foreach { m =>
      val got = assertSame(q, c, 6, m, excludeSelf = true)
      assert(got.nonEmpty && got.forall(r => !r._1.contains(r._2)))
    }
  }

  test("a dimension mismatch in any single query fails the job") {
    def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    val bad = queries(FloatType).union(frame(Seq(Row(99L, Seq.fill(Dim + 1)(1f))),
      "query_id", "qvec", FloatType))
    Metrics.foreach { m =>
      val e = intercept[Exception](Knn.knn(bad, corpus(), 5, m).collect())
      assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains(
        s"embedding dimension mismatch: corpus dim=$Dim, query dim=${Dim + 1}")), s"got $e")
    }
  }

  test("building the frame runs no Spark job") {
    val q = queries(FloatType); val c = corpus()
    val built = graft.Metrics.measure(spark)(Knn.knn(q, c, 5, VectorMetric.L2))
    assert(built.result.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "dist"))
    assert(built.total.jobs == 0, s"jobs ran while building: ${built.total}")
  }

  private def knnExecs(p: SparkPlan): Seq[KnnExec] = p match {
    case a: AdaptiveSparkPlanExec => knnExecs(a.executedPlan)
    case s: QueryStageExec => knnExecs(s.plan)
    case k: KnnExec => Seq(k) ++ k.children.flatMap(knnExecs)
    case other => other.children.flatMap(knnExecs)
  }

  test("plan: one KnnExec over a broadcast query side, no nested-loop join; metrics count the pairs") {
    val q = queries(FloatType).filter(col("qvec").isNotNull)
    val c = corpus().filter(col("vec").isNotNull)
    val (nq, n) = (q.count(), c.count())
    val df = Knn.knn(q, c, 3, VectorMetric.L2)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = knnExecs(plan)
    assert(execs.size == 1, plan.toString)
    val text = plan.toString
    assert(text.contains("Broadcast") && !text.contains("BroadcastNestedLoopJoin")
      && !text.contains("CartesianProduct"), text)
    val ms = execs.head.metrics
    assert(ms("numPairs").value == nq * n)
    assert(ms("numCandidates").value > 0 && ms("numCandidates").value <= nq * 3 * 3)
    assert(ms("kernelTime").value > 0)
  }
}
