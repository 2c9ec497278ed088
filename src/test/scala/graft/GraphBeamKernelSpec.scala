package graft

import graft.functions.VectorMetric
import graft.operators.{GraphBeamExec, GraphIndex, Knn, ServingState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the partition-local graph operator: over
  * buckets small enough that one beam provably reaches every member
  * (3 members per bucket, k = 5, so each bucket's k-NN graph is
  * complete), the served answer must equal a brute-force top-k over
  * the whole tree bit for bit — ids, ranks and distances — so the
  * in-task arithmetic, the (dist, id) ties and the cross-bucket merge
  * are all pinned. Each tree is built once for the suite.
  */
class GraphBeamKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark

  private val Dim = 8
  private val N = 48
  private val k = 5

  /** Coarse-grid floats so distances tie; rows 1 and 3 are zero-norm. */
  private lazy val corpusVecs: IndexedSeq[Array[Float]] = {
    val rng = new scala.util.Random(11)
    (0 until N).map { i =>
      if (i == 1 || i == 3) Array.fill(Dim)(0f)
      else Array.fill(Dim)((rng.nextInt(7) - 3) * 0.5f)
    }
  }

  private lazy val corpusDir: String = GraphBeamKernelSpec.writeCorpus(spark, corpusVecs)

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_beam_kernel")

  override def afterAll(): Unit = {
    Memo.invalidate(corpusDir)
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(corpusDir))
    graft.streaming.Streams.deleteTree(root)
  }

  /** One tree per (metric, name), built on first use. */
  private val trees = scala.collection.mutable.Map.empty[(Int, String), String]
  private def tree(metric: Int, name: String = "main"): String =
    trees.getOrElseUpdate((metric, name), {
      val p = s"$root/$name-$metric"
      GraphIndex.build(spark, corpusDir, p, k, metric)
      p
    })

  // out-of-corpus ids; query 2 is zero-norm, query 3 repeats a corpus row
  private def queries: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    (0 until 6).map { i =>
      val v =
        if (i == 2) Seq.fill(Dim)(0f)
        else if (i == 3) corpusVecs(17).toSeq
        else Seq.fill(Dim)((rng.nextInt(9) - 4) * 0.25f)
      (1000L + i, v)
    }.toDF("id", "vec")
  }

  private def served(path: String, q: DataFrame): Seq[(Long, Long, Int, Long)] =
    rows(GraphIndex.serve(ServingState.graph(spark, path), q, k))

  /** The reference: the exact fused k-NN over the tree's stored vectors. */
  private def bruteForce(path: String, q: DataFrame, metric: Int): Seq[(Long, Long, Int, Long)] =
    rows(Knn.knn(q.select(col("id").as("query_id"), col("vec").as("qvec")),
      GraphIndex.readVectors(spark, path).select(col("id").as("neighbor_id"), col("vec")),
      k, metric))

  /** (query_id, neighbor_id, rank, distance bits), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("query_id", "neighbor_id", "rank", "dist").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._3))

  test("matches a brute-force top-k bit for bit under L2 and cosine; zero-norm is 1.0 under cosine") {
    for (m <- Seq(VectorMetric.L2, VectorMetric.Cosine)) {
      val p = tree(m)
      val got = served(p, queries)
      assert(got == bruteForce(p, queries, m), s"metric $m")
      assert(got.groupBy(_._1).values.forall(_.size == k), s"metric $m: k rows per query")
    }
    // the zero-norm query is 1.0 from everything, so its top-k is the
    // k lowest ids — stored zero-norm rows 1 and 3 among them
    val one = java.lang.Double.doubleToRawLongBits(1.0)
    val zeroQ = served(tree(VectorMetric.Cosine), queries).filter(_._1 == 1002L)
    assert(zeroQ.map(_._2) == (0L until k) && zeroQ.forall(_._4 == one),
      s"zero-norm cosine answer: $zeroQ")
  }

  test("a query id that is also a stored id never returns itself") {
    val m = VectorMetric.L2
    val p = tree(m)
    val inCorpus = GraphIndex.readVectors(spark, p).filter(col("id") % 7 === 0)
      .select("id", "vec")
    val got = served(p, inCorpus)
    assert(got.forall(r => r._1 != r._2), "a stored query returned itself")
    val want = rows(Knn.knn(inCorpus.select(col("id").as("query_id"), col("vec").as("qvec")),
      GraphIndex.readVectors(spark, p).select(col("id").as("neighbor_id"), col("vec")),
      k, m, excludeSelf = true))
    assert(got == want)
  }

  test("buckets under k members and a bucket emptied by deletes: the merge still has k rows") {
    val m = VectorMetric.L2
    val p = tree(m, "deleted")
    val nb = GraphIndex.readTreeMeta(spark, p).buckets
    val sizes = GraphIndex.readVectors(spark, p).groupBy(pmod(col("id"), lit(nb.toLong)))
      .count().collect().map(_.getLong(1))
    assert(sizes.forall(_ < k), s"every bucket must hold fewer than k members: ${sizes.toSeq}")
    import spark.implicits._
    GraphIndex.delete((0L until N).filter(_ % nb == 3).toDF("id"), p)
    val st = ServingState.graph(spark, p)
    assert(st.buckets.collect().forall(b => b.bucket != 3 || b.size == 0),
      "bucket 3 must be empty after its members are deleted")
    val got = served(p, queries)
    assert(got.groupBy(_._1).values.forall(_.size == k), "k rows per query")
    assert(got.forall(_._2 % nb != 3), "a deleted member was served")
    assert(got == bruteForce(p, queries, m))
  }

  test("an empty batch gives an empty result; a query of another dimension fails") {
    val p = tree(VectorMetric.L2)
    assert(served(p, queries.filter(lit(false))).isEmpty)
    import spark.implicits._
    val bad = Seq((2000L, Seq.fill(Dim + 1)(1f))).toDF("id", "vec")
    val e = intercept[Exception](served(p, bad))
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("embedding dimension mismatch")), s"got $e")
  }

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
    case s: QueryStageExec => s +: collectPlan(s.plan)
    case other => other +: other.children.flatMap(collectPlan)
  }

  test("plan: one GraphBeamExec over the broadcast batch, no exchange but the merge") {
    val p = tree(VectorMetric.L2)
    val df = GraphIndex.serve(ServingState.graph(spark, p), queries, k)
    df.collect()
    val nodes = collectPlan(df.queryExecution.executedPlan)
    val execs = nodes.collect { case g: GraphBeamExec => g }
    assert(execs.size == 1, df.queryExecution.executedPlan.toString)
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.size == 1 && !exchanges.head.nodeName.contains("Broadcast"),
      s"the merge must be the only exchange: $exchanges")
    val text = df.queryExecution.executedPlan.toString
    assert(!text.contains("NestedLoopJoin") && !text.contains("CartesianProduct"), text)
    val ms = execs.head.metrics
    assert(ms("numQueries").value == 6, "the batch must reach the tasks in one broadcast")
    val nb = GraphIndex.readTreeMeta(spark, p).buckets
    assert(ms("numCandidates").value > 0 && ms("numCandidates").value <= 6L * k * nb)
    assert(ms("numScored").value > 0 && ms("kernelTime").value > 0)
  }

  test("building the frame runs no Spark job") {
    val st = ServingState.graph(spark, tree(VectorMetric.L2))
    val q = queries
    var df: DataFrame = null
    assert(TestSession.jobsOf { df = GraphIndex.serve(st, q, k) } == 0)
    assert(df.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "dist"))
  }
}

object GraphBeamKernelSpec {
  /** A corpus dir holding `vecs` as embeddings (vec_id = position). */
  def writeCorpus(spark: SparkSession, vecs: Seq[Array[Float]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_beam_corpus").toString
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }
}
