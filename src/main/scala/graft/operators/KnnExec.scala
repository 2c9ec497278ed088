package graft.operators

import graft.functions.{TopKBuffer, VectorMetric}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Logical face of the fused exact k-NN kernel: every (corpus row,
  * query) pair scored, at most k `(query_id, neighbor_id, dist)`
  * candidates per query and corpus partition. `dist` is the attribute
  * this node produces; the other two outputs pass through from the
  * children.
  */
case class KnnJoin(
    corpus: LogicalPlan, queries: LogicalPlan,
    neighborId: Attribute, vec: Attribute,
    queryId: Attribute, qvec: Attribute, dist: Attribute,
    k: Int, metric: Int, excludeSelf: Boolean) extends BinaryNode {
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def output: Seq[Attribute] = Seq(queryId, neighborId, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): KnnJoin = copy(corpus = l, queries = r)
}

/** Plans [[KnnJoin]] as [[KnnExec]] and [[GraphBeam]] as
  * [[GraphBeamExec]] (installed by GraftExtensions).
  */
object KnnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: KnnJoin =>
      KnnExec(planLater(j.corpus), planLater(j.queries), j.neighborId, j.vec,
        j.queryId, j.qvec, j.dist, j.k, j.metric, j.excludeSelf) :: Nil
    case g: GraphBeam =>
      GraphBeamExec(planLater(g.child), g.queryId, g.qvec, g.neighborId, g.rank, g.dist,
        g.index, g.k, g.width, g.rounds) :: Nil
    case _ => Nil
  }
}

/** Partition-local distance + top-k over a broadcast query block, the
  * way BroadcastNestedLoopJoinExec streams its non-broadcast side.
  *
  * Per task the query block is unpacked once into one dense double
  * matrix; each corpus vector is widened to double once and scored
  * against every query in a tight loop into one [[TopKBuffer]] per
  * query. The arithmetic is VectorDistance's, element for element
  * (`(double) x − (double) y` accumulated in element order; cosine
  * zero-norm ⇒ 1.0; dot ranks by −a·b), so distances are bit-identical
  * to the expression kernel. Null ids and vectors contribute no pair;
  * a pair whose lengths differ fails the task with the reference's
  * dimension-mismatch error.
  */
case class KnnExec(
    corpus: SparkPlan, queries: SparkPlan,
    neighborId: Attribute, vec: Attribute,
    queryId: Attribute, qvec: Attribute, dist: Attribute,
    k: Int, metric: Int, excludeSelf: Boolean) extends BinaryExecNode {

  override def left: SparkPlan = corpus
  override def right: SparkPlan = queries
  override def output: Seq[Attribute] = Seq(queryId, neighborId, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(corpus.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs evaluated"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "number of candidates emitted"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))

  private def bind(a: Attribute, in: SparkPlan): BoundReference =
    BindReferences.bindReference(a, in.output).asInstanceOf[BoundReference]

  private def isFloat(a: Attribute): Boolean = a.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val block = queries.executeBroadcast[Array[InternalRow]]()
    val (nidOrd, vecOrd) = (bind(neighborId, corpus).ordinal, bind(vec, corpus).ordinal)
    val (qidOrd, qvecOrd) = (bind(queryId, queries).ordinal, bind(qvec, queries).ordinal)
    val (vecFloat, qvecFloat) = (isFloat(vec), isFloat(qvec))
    val qidType = queryId.dataType
    val outTypes = output.map(_.dataType).toArray
    val (k, metric, excludeSelf) = (this.k, this.metric, this.excludeSelf)
    val numPairs = longMetric("numPairs")
    val numCandidates = longMetric("numCandidates")
    val kernelTime = longMetric("kernelTime")

    corpus.execute().mapPartitions { rows =>
      val qs = block.value
      val nq = qs.length
      // the query block, unpacked once per task: ids, row-major
      // vectors, per-query offset and length (-1 = null vector,
      // scored against nothing) and, for cosine, the query norm
      val qKey = new Array[Any](nq)
      val qSelf = new Array[Long](nq)
      val qLen = new Array[Int](nq)
      val qOff = new Array[Int](nq)
      var total = 0
      var q = 0
      while (q < nq) {
        val r = qs(q)
        qKey(q) = if (r.isNullAt(qidOrd)) null else r.get(qidOrd, qidType)
        if (excludeSelf && qKey(q) != null) qSelf(q) = r.getLong(qidOrd)
        // excludeSelf compares ids the way `neighbor_id =!= query_id`
        // does: a null query id matches no pair at all
        qLen(q) = if (r.isNullAt(qvecOrd) || (excludeSelf && qKey(q) == null)) -1
                  else r.getArray(qvecOrd).numElements()
        qOff(q) = total
        total += math.max(qLen(q), 0)
        q += 1
      }
      val qmat = new Array[Double](total)
      val qNorm = new Array[Double](nq)
      q = 0
      while (q < nq) {
        if (qLen(q) >= 0) {
          val a = qs(q).getArray(qvecOrd)
          var i = 0; var nb = 0.0
          while (i < qLen(q)) {
            val y = if (qvecFloat) a.getFloat(i).toDouble else a.getDouble(i)
            qmat(qOff(q) + i) = y; nb += y * y
            i += 1
          }
          qNorm(q) = math.sqrt(nb)
        }
        q += 1
      }
      val bufs = Array.fill(nq)(new TopKBuffer(k))
      var x = new Array[Double](0)
      var pairs = 0L; var nanos = 0L

      while (nq > 0 && rows.hasNext) {
        val row = rows.next()
        if (!row.isNullAt(nidOrd) && !row.isNullAt(vecOrd)) {
          val t0 = System.nanoTime()
          val nid = row.getLong(nidOrd)
          val a = row.getArray(vecOrd)
          val n = a.numElements()
          if (x.length < n) x = new Array[Double](n)
          var i = 0; var na = 0.0
          while (i < n) {
            val v = if (vecFloat) a.getFloat(i).toDouble else a.getDouble(i)
            x(i) = v; na += v * v
            i += 1
          }
          val xNorm = math.sqrt(na)
          q = 0
          while (q < nq) {
            if (qLen(q) >= 0 && !(excludeSelf && qSelf(q) == nid)) {
              if (qLen(q) != n) throw KnnExec.dimensionMismatch(n, qLen(q))
              val off = qOff(q)
              var acc = 0.0
              i = 0
              val d = if (metric == VectorMetric.L2) {
                while (i < n) { val e = x(i) - qmat(off + i); acc += e * e; i += 1 }
                math.sqrt(acc)
              } else {
                while (i < n) { acc += x(i) * qmat(off + i); i += 1 }
                if (metric == VectorMetric.Dot) -acc
                else {
                  val norms = xNorm * qNorm(q)
                  if (norms == 0.0) 1.0 else 1.0 - acc / norms
                }
              }
              bufs(q).insert(d, nid)
              pairs += 1
            }
            q += 1
          }
          nanos += System.nanoTime() - t0
        }
      }
      numPairs += pairs
      kernelTime += nanos

      // at most k candidates per query, in heap order — the order
      // TopKByDistance's own partial buffers are serialized in
      val proj = UnsafeProjection.create(outTypes)
      val out = new GenericInternalRow(3)
      numCandidates += bufs.iterator.map(_.size.toLong).sum
      Iterator.range(0, nq).flatMap { qi =>
        val b = bufs(qi)
        Iterator.range(0, b.size).map { j =>
          out.update(0, qKey(qi)); out.setLong(1, b.ids(j)); out.setDouble(2, b.dists(j))
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): KnnExec = copy(corpus = l, queries = r)
}

object KnnExec {
  /** The reference rejects a query whose dimension differs from the
    * corpus (EmbeddingDimensionMismatchError); this is the same error
    * `raise_error` raises.
    */
  def dimensionMismatch(corpusDim: Int, queryDim: Int): RuntimeException =
    ColumnBridge.raiseError(
      s"embedding dimension mismatch: corpus dim=$corpusDim, query dim=$queryDim")
}
