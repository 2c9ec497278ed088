package graft.operators

import graft.functions.{TopKBuffer, VectorMetric}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** One bucket of a partition-local persisted graph, as a serving task
  * holds it: the members sorted by id (so a local index orders ties
  * the way the id does), their vectors row-major with their norms,
  * their coarse lists, and the symmetrised in-bucket adjacency as CSR
  * over local indices. `lists` maps each coarse list present in the
  * bucket to its members (`listStart` is CSR over `listMembers`).
  * The session graph keys hold their whole corpus as one such bucket
  * (GraphIndex.sessionGraph).
  */
final case class GraphBucket(bucket: Int, ids: Array[Long], dim: Int,
                             vecs: Array[Float], norms: Array[Double],
                             clusters: Array[Int],
                             adjStart: Array[Int], adj: Array[Int],
                             lists: Array[Int], listStart: Array[Int],
                             listMembers: Array[Int]) {
  def size: Int = ids.length
}

object GraphBucket {

  /** A bucket from its member rows (id, vector, coarse list) and its
    * stored directed edges (src, dst). Every edge must join two
    * members: an edge that leaves the bucket or names a missing id is
    * a tree this layout cannot serve, and fails loudly. `where` names
    * the tree in errors.
    */
  def assemble(bucket: Int, members: Iterable[(Long, Array[Float], Int)],
               edges: Iterable[(Long, Long)], where: String): GraphBucket = {
    val ms = members.toArray.sortBy(_._1)
    val m = ms.length
    val ids = ms.map(_._1)
    var i = 1
    while (i < m) {
      if (ids(i) == ids(i - 1)) sys.error(s"graph index at $where holds id ${ids(i)} twice")
      i += 1
    }
    val dim = if (m == 0) 0 else ms(0)._2.length
    val vecs = new Array[Float](m * dim)
    val norms = new Array[Double](m)
    i = 0
    while (i < m) {
      val v = ms(i)._2
      if (v.length != dim) throw KnnExec.dimensionMismatch(dim, v.length)
      System.arraycopy(v, 0, vecs, i * dim, dim)
      norms(i) = GraphKernel.norm(vecs, i * dim, dim)
      i += 1
    }
    val clusters = ms.map(_._3)
    def local(id: Long): Int = {
      val j = java.util.Arrays.binarySearch(ids, id)
      if (j < 0) sys.error(s"graph index at $where has an edge to $id, which is not in " +
        s"bucket $bucket: its edges cross buckets — rebuild it")
      j
    }
    val nbrs = Array.fill(m)(scala.collection.mutable.ArrayBuilder.make[Int])
    edges.foreach { case (s, d) =>
      val (a, b) = (local(s), local(d))
      if (a != b) { nbrs(a) += b; nbrs(b) += a }
    }
    val adjStart = new Array[Int](m + 1)
    val adjOf = nbrs.map(_.result().sorted.distinct)
    i = 0
    while (i < m) { adjStart(i + 1) = adjStart(i) + adjOf(i).length; i += 1 }
    val adj = adjOf.flatten
    val byList = clusters.indices.sortBy(j => (clusters(j), j)).toArray
    val listIds = byList.map(clusters).distinct
    val listStart = listIds.map(c => byList.indexWhere(clusters(_) == c)) :+ m
    GraphBucket(bucket, ids, dim, vecs, norms, clusters, adjStart, adj,
      listIds, listStart, byList)
  }
}

/** The in-task arithmetic of every graph beam, the persisted tree's
  * and the session graph keys': VectorDistance's exact arithmetic as
  * KnnExec runs it (a member is widened element by element,
  * accumulated in element order; cosine zero-norm ⇒ 1.0; dot ranks by
  * −a·b), and TopKBuffers over LOCAL indices, whose order is the id
  * order, so (dist, id) ties break as everywhere else.
  */
private[graft] object GraphKernel {

  def norm(v: Array[Float], off: Int, dim: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { val x = v(off + i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }

  /** Distance of member `m` of `b` to the widened query at `q(qOff)`. */
  def dist(metric: Int, b: GraphBucket, m: Int,
           q: Array[Double], qOff: Int, qNorm: Double): Double = {
    val v = b.vecs; val off = m * b.dim; val n = b.dim
    var acc = 0.0; var i = 0
    if (metric == VectorMetric.L2) {
      while (i < n) { val e = v(off + i).toDouble - q(qOff + i); acc += e * e; i += 1 }
      math.sqrt(acc)
    } else {
      while (i < n) { acc += v(off + i).toDouble * q(qOff + i); i += 1 }
      if (metric == VectorMetric.Dot) -acc
      else {
        val norms = b.norms(m) * qNorm
        if (norms == 0.0) 1.0 else 1.0 - acc / norms
      }
    }
  }

  /** Member `m` of `b`, widened. */
  def widened(b: GraphBucket, m: Int): Array[Double] =
    Array.tabulate(b.dim)(i => b.vecs(m * b.dim + i).toDouble)

  /** Exact top-k members of `b` for one widened query, `skip` (a local
    * index, or -1) left out.
    */
  def topK(metric: Int, b: GraphBucket, q: Array[Double], qNorm: Double,
           k: Int, skip: Int): TopKBuffer = {
    val buf = new TopKBuffer(k)
    var m = 0
    while (m < b.size) {
      if (m != skip) buf.insert(dist(metric, b, m, q, 0, qNorm), m)
      m += 1
    }
    buf
  }

  /** The bucket's exact k-NN graph: (src, dst, dist) per member. */
  def bucketGraph(metric: Int, b: GraphBucket, k: Int): Iterator[(Long, Long, Double)] =
    Iterator.range(0, b.size).flatMap { m =>
      val q = widened(b, m)
      topK(metric, b, q, b.norms(m), k, m).sorted.iterator
        .map { case (d, j) => (b.ids(m), b.ids(j.toInt), d) }
    }

  /** Per-task scratch for [[beam]]: a distance cache, a per-round
    * seen mark and a per-query pooled mark, each valid while its tag
    * matches.
    */
  final class Scratch(m: Int) {
    val dist = new Array[Double](m)
    val distTag = new Array[Int](m)
    val roundTag = new Array[Int](m)
    lazy val poolTag = new Array[Int](m)
    private var tag = 0
    def next(): Int = { tag += 1; tag }
    var scored = 0L
  }

  /** The B-wide beam of one query over one bucket. The entry is the
    * exact best `width` members of the query's nearest coarse list
    * that has members here (`order`: every list, nearest first); then
    * `rounds` rounds each take beam ∪ neighbours(beam), score them
    * exactly and keep the best `width`, the last round the best `k`.
    * `seed` (local indices) joins the first round's beam untruncated,
    * so round 1 expands the entry's best `width` ∪ the seed; it runs
    * even when no list of `order` has members here. The member whose
    * id is `self` never enters. With `allow`, the answer is instead
    * the best `k` of the allowed members offered in any round (the
    * pool). Returns local indices with their distances.
    */
  def beam(metric: Int, b: GraphBucket, sc: Scratch, q: Array[Double], qOff: Int,
           qNorm: Double, self: Long, order: Array[Int], width: Int, k: Int,
           rounds: Int, seed: Array[Int] = Array.emptyIntArray,
           allow: Option[java.util.BitSet] = None): TopKBuffer = {
    var li = -1; var o = 0
    while (li < 0 && o < order.length) {
      li = java.util.Arrays.binarySearch(b.lists, order(o)); o += 1
    }
    if (li < 0 && seed.isEmpty) return new TopKBuffer(k)
    val qTag = sc.next()
    def score(m: Int): Double =
      if (sc.distTag(m) == qTag) sc.dist(m)
      else {
        val d = dist(metric, b, m, q, qOff, qNorm)
        sc.dist(m) = d; sc.distTag(m) = qTag; sc.scored += 1
        d
      }
    val allowed = allow.orNull
    val pool = if (allowed == null) null else new TopKBuffer(k)
    var cur = new TopKBuffer(width)
    if (li >= 0) {
      var j = b.listStart(li)
      while (j < b.listStart(li + 1)) {
        val m = b.listMembers(j)
        if (b.ids(m) != self) cur.insert(score(m), m)
        j += 1
      }
    }
    var r = 1
    while (r <= rounds) {
      val next = new TopKBuffer(if (r == rounds) k else width)
      val rTag = sc.next()
      def offer(m: Int): Unit =
        if (sc.roundTag(m) != rTag && b.ids(m) != self) {
          sc.roundTag(m) = rTag
          val d = score(m)
          next.insert(d, m)
          if (pool != null && allowed.get(m) && sc.poolTag(m) != qTag) {
            sc.poolTag(m) = qTag; pool.insert(d, m)
          }
        }
      def expand(m: Int): Unit = {
        offer(m)
        var e = b.adjStart(m)
        while (e < b.adjStart(m + 1)) { offer(b.adj(e)); e += 1 }
      }
      var x = 0
      while (x < cur.size) { expand(cur.ids(x).toInt); x += 1 }
      if (r == 1) { x = 0; while (x < seed.length) { expand(seed(x)); x += 1 } }
      cur = next
      r += 1
    }
    if (pool == null) cur else pool
  }

  /** The ranked merge of the bucket tasks' candidates, each `(query
    * index, neighbor ids, distances)` over one bucket: per query id
    * (`qids` maps the index) its k best by (dist, id), as output rows
    * (query_id, neighbor_id, rank[, dist]) in (query_id, rank) order.
    * A query with no candidate emits no row.
    */
  def ranked(qids: Array[Long], k: Int, withDist: Boolean,
             cands: Iterator[(Int, Array[Long], Array[Double])]): Iterator[InternalRow] = {
    val byQuery = scala.collection.mutable.TreeMap.empty[Long, TopKBuffer]
    cands.foreach { case (q, ids, ds) =>
      val buf = byQuery.getOrElseUpdate(qids(q), new TopKBuffer(k))
      var j = 0
      while (j < ids.length) { buf.insert(ds(j), ids(j)); j += 1 }
    }
    val types = Array[DataType](LongType, LongType, IntegerType) ++
      (if (withDist) Array[DataType](DoubleType) else Array.empty[DataType])
    val proj = UnsafeProjection.create(types)
    val out = new GenericInternalRow(types.length)
    byQuery.iterator.flatMap { case (qid, buf) =>
      buf.sorted.iterator.zipWithIndex.map { case ((d, id), r) =>
        out.setLong(0, qid); out.setLong(1, id); out.setInt(2, r + 1)
        if (withDist) out.setDouble(3, d)
        proj(out)
      }
    }
  }
}

/** The query batch as every beam task reads it: ids, widened vectors
  * row-major with their norms, and per query every coarse list ordered
  * nearest first under the tree's metric (ties by list id). A query
  * with a null id or vector (`live` false) scores nothing.
  */
private[graft] final case class GraphQueryBlock(ids: Array[Long], live: Array[Boolean],
                                                dims: Array[Int], offs: Array[Int],
                                                mat: Array[Double], norms: Array[Double],
                                                order: Array[Array[Int]])

/** Logical face of the partition-local graph search: the ranked top-k
  * of each query over every bucket of `index`, as (query_id,
  * neighbor_id, rank[, dist]) rows in (query_id, rank) order.
  * `neighborId`, `rank` and `dist` are produced here; `queryId`
  * (bigint) passes through. Without `dist` the node emits no distance
  * column, so a caller that drops it needs no projection above it.
  */
case class GraphBeam(child: LogicalPlan, queryId: Attribute, qvec: Attribute,
                     neighborId: Attribute, rank: Attribute, dist: Option[Attribute],
                     index: ServingState.GraphState, k: Int, width: Int,
                     rounds: Int) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(queryId, neighborId, rank) ++ dist
  override def producedAttributes: AttributeSet = AttributeSet(Seq(neighborId, rank) ++ dist)
  override protected def withNewChildInternal(c: LogicalPlan): GraphBeam = copy(child = c)
}

/** Runs the beam of every query over every bucket of a pinned graph
  * tree, one task per bucket partition, and merges the buckets'
  * answers into each query's ranked top-k.
  *
  * The query batch is collected on the driver (a local batch, the
  * serving case, is already there, so this runs no job), unpacked
  * once into a dense double matrix with each query's coarse-list
  * order, and reaches the tasks as one broadcast variable. Each task
  * runs [[GraphKernel.beam]] for every query over its bucket and
  * yields at most k candidates per (query, bucket); [[GraphKernel.ranked]]
  * merges them by (dist, id). Collected, the bucket tasks run as one
  * job and the merge runs on the driver over at most buckets×k
  * candidates per query; feeding a larger plan, the candidates move
  * to one partition and merge there (TakeOrderedAndProjectExec's
  * shape), so both paths return the same rows. A query whose
  * dimension differs from a bucket's fails the task with the
  * reference's error.
  */
case class GraphBeamExec(child: SparkPlan, queryId: Attribute, qvec: Attribute,
                         neighborId: Attribute, rank: Attribute, dist: Option[Attribute],
                         index: ServingState.GraphState, k: Int, width: Int,
                         rounds: Int) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(queryId, neighborId, rank) ++ dist
  override def producedAttributes: AttributeSet = AttributeSet(Seq(neighborId, rank) ++ dist)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(queryId, Ascending), SortOrder(rank, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numQueries" -> SQLMetrics.createMetric(sparkContext, "number of queries broadcast"),
    "numScored" -> SQLMetrics.createMetric(sparkContext, "number of distances evaluated"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "number of candidates emitted"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))

  private def bind(a: Attribute): BoundReference =
    BindReferences.bindReference(a, child.output).asInstanceOf[BoundReference]

  /** The block of the collected batch: every list ordered per query. */
  private def block(rows: Array[InternalRow]): GraphQueryBlock = {
    val (qidOrd, qvecOrd) = (bind(queryId).ordinal, bind(qvec).ordinal)
    val float = qvec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val nq = rows.length
    val live = rows.map(r => !r.isNullAt(qidOrd) && !r.isNullAt(qvecOrd))
    val ids = Array.tabulate(nq)(q => if (live(q)) rows(q).getLong(qidOrd) else 0L)
    val dims = Array.tabulate(nq)(q =>
      if (live(q)) rows(q).getArray(qvecOrd).numElements() else 0)
    val offs = dims.scanLeft(0)(_ + _)
    val mat = new Array[Double](offs(nq))
    val norms = new Array[Double](nq)
    var q = 0
    while (q < nq) {
      if (live(q)) {
        val a = rows(q).getArray(qvecOrd)
        var i = 0; var nb = 0.0
        while (i < dims(q)) {
          val y = if (float) a.getFloat(i).toDouble else a.getDouble(i)
          mat(offs(q) + i) = y; nb += y * y
          i += 1
        }
        norms(q) = math.sqrt(nb)
      }
      q += 1
    }
    val cents = index.centroidBucket
    val order = Array.tabulate(nq) { q =>
      if (!live(q) || cents.size == 0) Array.emptyIntArray
      else {
        if (cents.dim != dims(q)) throw KnnExec.dimensionMismatch(cents.dim, dims(q))
        Array.tabulate(cents.size)(c =>
          (GraphKernel.dist(index.metric, cents, c, mat, offs(q), norms(q)), c))
          .sortWith((x, y) => x._1 < y._1 || (x._1 == y._1 && x._2 < y._2)).map(_._2)
      }
    }
    GraphQueryBlock(ids, live, dims, offs, mat, norms, order)
  }

  /** The broadcast batch and the bucket tasks' candidates: per (query,
    * bucket) at most k, as (query index, neighbor ids, distances).
    */
  private[graft] def candidates(): (Broadcast[GraphQueryBlock],
                                    RDD[(Int, Array[Long], Array[Double])]) = {
    val nQueries = longMetric("numQueries")
    val qs = sparkContext.broadcast(block(child.executeCollect()))
    nQueries += qs.value.ids.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(nQueries))
    val (k, width, rounds, metric) = (this.k, this.width, this.rounds, index.metric)
    val numScored = longMetric("numScored")
    val numCandidates = longMetric("numCandidates")
    val kernelTime = longMetric("kernelTime")
    qs -> index.buckets.mapPartitions { buckets =>
      val blk = qs.value
      buckets.flatMap { b =>
        val t0 = System.nanoTime()
        val sc = new GraphKernel.Scratch(b.size)
        val found = Array.tabulate(blk.ids.length) { q =>
          if (!blk.live(q) || b.size == 0) null
          else {
            if (blk.dims(q) != b.dim) throw KnnExec.dimensionMismatch(b.dim, blk.dims(q))
            GraphKernel.beam(metric, b, sc, blk.mat, blk.offs(q), blk.norms(q),
              blk.ids(q), blk.order(q), width, k, rounds)
          }
        }
        kernelTime += System.nanoTime() - t0
        numScored += sc.scored
        numCandidates += found.iterator.filter(_ != null).map(_.size.toLong).sum
        Iterator.range(0, found.length).filter(q => found(q) != null && found(q).size > 0)
          .map { q =>
            val buf = found(q)
            (q, Array.tabulate(buf.size)(j => b.ids(buf.ids(j).toInt)), buf.dists.take(buf.size))
          }
      }
    }
  }

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val (qs, cands) = candidates()
    GraphKernel.ranked(qs.value.ids, k, dist.isDefined, cands.collect().iterator)
      .map(_.copy()).toArray
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (qs, cands) = candidates()
    val (k, withDist) = (this.k, dist.isDefined)
    cands.repartition(1).mapPartitions(it => GraphKernel.ranked(qs.value.ids, k, withDist, it))
  }

  override protected def withNewChildInternal(c: SparkPlan): GraphBeamExec = copy(child = c)
}
