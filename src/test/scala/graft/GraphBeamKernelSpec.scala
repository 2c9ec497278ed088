package graft

import graft.functions.{VectorFunctions, VectorMetric}
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
  * are all pinned. The node's own ranked merge must also equal the
  * exchange + TopKByDistance merge it replaced, on the collect path
  * and inside larger plans. Each tree is built once for the suite.
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
    inOrder(df).sortBy(t => (t._1, t._3))

  /** (query_id, neighbor_id, rank, distance bits), as collected. */
  private def inOrder(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("query_id", "neighbor_id", "rank", "dist").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))

  /** The bucket tasks' candidates of a served frame, as (query_id,
    * neighbor_id, dist) rows.
    */
  private def candidates(served: DataFrame): DataFrame = {
    val exec = served.queryExecution.executedPlan.collectFirst { case g: GraphBeamExec => g }
      .getOrElse(fail(s"no GraphBeamExec in ${served.queryExecution.executedPlan}"))
    val (qs, cands) = exec.candidates()
    val qids = qs.value.ids
    import spark.implicits._
    cands.collect().toSeq
      .flatMap { case (q, ids, ds) => ids.indices.map(j => (qids(q), ids(j), ds(j))) }
      .toDF("query_id", "neighbor_id", "dist")
  }

  /** The merge the node replaced, kept as the reference: every
    * candidate moved to one partition, TopKByDistance per query, its
    * array exploded into ranks, (query_id, rank) order.
    */
  private def exchangeMerge(cands: DataFrame): DataFrame =
    cands.repartition(1)
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKByDistance(col("dist"), col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.dist").as("dist"))
      .orderBy("query_id", "rank")

  /** [[queries]] plus a query whose id is a stored id (it must not
    * return itself) and a second grid query.
    */
  private def mixedBatch: DataFrame = {
    import spark.implicits._
    queries.union(Seq((17L, corpusVecs(17).toSeq), (2001L, Seq.fill(Dim)(0.5f))).toDF("id", "vec"))
  }

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
    // the bucket tasks are the one job; the merge runs on the driver
    assert(TestSession.jobsOf(df.collect()) == 1)
    val nodes = collectPlan(df.queryExecution.executedPlan)
    val execs = nodes.collect { case g: GraphBeamExec => g }
    assert(execs.size == 1, df.queryExecution.executedPlan.toString)
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"the merge is the node's own, not an exchange: $exchanges")
    val text = df.queryExecution.executedPlan.toString
    assert(!text.contains("NestedLoopJoin") && !text.contains("CartesianProduct"), text)
    val ms = execs.head.metrics
    assert(ms("numQueries").value == 6, "the batch must reach the tasks in one broadcast")
    val nb = GraphIndex.readTreeMeta(spark, p).buckets
    assert(ms("numCandidates").value > 0 && ms("numCandidates").value <= 6L * k * nb)
    assert(ms("numScored").value > 0 && ms("kernelTime").value > 0)
  }

  test("the ranked merge equals the exchange + TopKByDistance merge bit for bit, every metric") {
    var cutTies = 0
    for (m <- Seq(VectorMetric.L2, VectorMetric.Cosine, VectorMetric.Dot)) {
      val served = GraphIndex.serve(ServingState.graph(spark, tree(m)), mixedBatch, k)
      val got = inOrder(served)
      assert(got == got.sortBy(t => (t._1, t._3)), s"metric $m: rows out of (query_id, rank) order")
      val cands = candidates(served)
      assert(got == inOrder(exchangeMerge(cands)), s"metric $m")
      assert(got.map(_._1).distinct.size == 8, s"metric $m: every query answered")
      assert(got.forall(r => r._1 != r._2), s"metric $m: a stored query returned itself")
      // exact distance ties at the k cut: a candidate left out at the
      // k-th distance, so only the id order decides
      val kept = got.groupBy(_._1).map { case (q, rs) => q -> (rs.map(_._2).toSet, rs.last._4) }
      cutTies += cands.collect().count { c =>
        val (ids, kth) = kept(c.getLong(0))
        !ids(c.getLong(1)) && java.lang.Double.doubleToRawLongBits(c.getDouble(2)) == kth
      }
    }
    assert(cutTies > 0, "the batch must tie at the k cut somewhere")
    info(s"candidates left out at their query's k-th distance: $cutTies")
  }

  test("inside a larger plan the node returns the same rows: count, a join, a filtered-graph selector") {
    val p = tree(VectorMetric.L2)
    val st = ServingState.graph(spark, p)
    val served = GraphIndex.serve(st, mixedBatch, k)
    val want = rows(exchangeMerge(candidates(served)))
    assert(served.count() == want.size)
    val tags = mixedBatch.select(col("id").as("query_id"), (col("id") % 3).as("tag"))
    val joined = served.join(tags, "query_id")
    assert(rows(joined) == want)
    assert(joined.select("tag").collect().length == want.size)
    import spark.implicits._
    // the served neighbours as the selector of a filtered query: the
    // frame feeds a semi-join, a capped count and a sampled count
    val q = queries.filter(col("id") === 1000L)
    val viaPlan = GraphIndex.queryGraphBatchFiltered(spark, p, q, k,
      GraphIndex.queryGraphBatch(spark, p, mixedBatch, k).select(col("neighbor_id").as("id")))
    val viaRows = GraphIndex.queryGraphBatchFiltered(spark, p, q, k,
      want.map(_._2).distinct.toDF("id"))
    assert(viaPlan.collect().toSeq == viaRows.collect().toSeq)
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
