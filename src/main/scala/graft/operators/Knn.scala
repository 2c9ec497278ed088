package graft.operators

import graft.functions.{VectorFunctions, VectorMetric}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Distributed exact k-NN (the Spark-first re-expression of
  * stackai-vector-db's LinearScanIndex.query and the kd-tree's exact
  * contract — app/indexes/linear.py:46-63, kdtree.py).
  *
  * Plan shape: a [[KnnJoin]] node, planned by GraftExtensions as
  * [[KnnExec]], streams the corpus scan against the query batch, which
  * reaches every task through a BroadcastExchange (identity mode, as
  * BroadcastNestedLoopJoin takes its build side). Each task unpacks the
  * query block once into a dense double matrix, scores every corpus
  * vector against every query in one loop with VectorDistance's exact
  * arithmetic, and emits at most k `(query_id, neighbor_id, dist)`
  * candidates per query. The bounded TopKByDistance aggregate then
  * merges those candidates across tasks after a shuffle of ≤ k rows per
  * query and task. No per-pair row, no global sort: one corpus pass at
  * any scale. Building the frame runs no Spark job; AQE sees the whole
  * plan.
  */
object Knn {

  /** queries(query_id, qvec) × corpus(neighbor_id, vec) → one row per
    * (query_id, rank<=k): columns (query_id, neighbor_id, rank, dist).
    * Ties broken by neighbor id, matching the reference's stable sort.
    * Vectors are array<float> or array<double>; null ids and vectors
    * score no pair, and a query whose dimension differs from a corpus
    * vector's fails the job. `excludeSelf` drops the pairs where
    * neighbor_id = query_id (ground truth for a corpus-drawn query
    * sample).
    */
  def knn(queries: DataFrame, corpus: DataFrame, k: Int, metric: Int,
          excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    require(Seq(VectorMetric.L2, VectorMetric.Cosine, VectorMetric.Dot).contains(metric),
      s"unknown metric $metric")
    val q = queries.select(col("query_id"), col("qvec")).queryExecution.analyzed
    val c = corpus.select(col("neighbor_id"), col("vec")).queryExecution.analyzed
    val Seq(queryId, qvec) = q.output
    val Seq(neighborId, vec) = c.output
    def want(ok: Boolean, what: String, got: DataType): Unit =
      require(ok, s"Knn.knn: $what, got ${got.simpleString}")
    Seq(vec, qvec).foreach { a =>
      want(a.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      }, s"${a.name} must be array<float> or array<double>", a.dataType)
    }
    want(neighborId.dataType == LongType, "neighbor_id must be bigint", neighborId.dataType)
    if (excludeSelf)
      want(queryId.dataType == LongType, "excludeSelf needs a bigint query_id", queryId.dataType)
    val dist = AttributeReference("dist", DoubleType, nullable = false)()
    ColumnBridge.frame(queries.sparkSession,
      KnnJoin(c, q, neighborId, vec, queryId, qvec, dist, k, metric, excludeSelf))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKByDistance(col("dist"), col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(
        col("query_id"),
        col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("nn.dist").as("dist"))
  }

  /** Corpus-side self k-NN: query batch drawn from the corpus itself. */
  def knnSelf(embeddings: DataFrame, nQueries: Int, k: Int, metric: Int,
              corpusFilter: Column = lit(true)): DataFrame = {
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = graft.Tables.rebalanced(embeddings.filter(corpusFilter)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vec")))
    knn(queries, corpus, k, metric)
  }
}
