package graft.perfbench

/** The benchmark's reference answers, computed on the driver in plain
  * Scala. Nothing here imports graft: a bug shared by the program and
  * its checker would otherwise pass unseen.
  */
object Oracle {

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** 1 − cos θ; a zero-norm side has distance 1 by definition. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val norms = math.sqrt(na) * math.sqrt(nb)
    if (norms == 0.0) 1.0 else 1.0 - dot / norms
  }

  type Dist = (Array[Float], Array[Float]) => Double

  /** Exact top-k over `(id, vec)` pairs by (distance, id). */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
           dist: Dist): Array[(Long, Double)] = {
    // bounded max-heap on (dist, id): the root is the current k-th best
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    var i = 0
    while (i < ids.length) {
      val d = dist(q, vecs(i))
      if (heap.size < k) heap.enqueue((d, ids(i)))
      else {
        val (hd, hid) = heap.head
        if (d < hd || (d == hd && ids(i) < hid)) { heap.dequeue(); heap.enqueue((d, ids(i))) }
      }
      i += 1
    }
    heap.dequeueAll.reverse.map((e: (Double, Long)) => (e._2, e._1)).toArray
  }

  /** [[topK]] for every query, the queries split over the driver's cores. */
  def topKAll(qs: Array[Array[Float]], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
              dist: Dist): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](qs.length)
    java.util.Arrays.parallelSetAll[Array[(Long, Double)]](out,
      new java.util.function.IntFunction[Array[(Long, Double)]] {
        def apply(i: Int): Array[(Long, Double)] = topK(qs(i), ids, vecs, k, dist)
      })
    out
  }

  /** Two independently computed distances agree (the program and the
    * oracle may sum in a different order).
    */
  def sameDistance(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 + 1e-9 * math.max(math.abs(a), math.abs(b))

  def recall(got: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else got.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** The driver-side model of an index's contents. */
  final class LiveSet(ids: Array[Long], vecs: Array[Array[Float]]) {
    private val byId = ids.iterator.zip(vecs.iterator).toMap
    def vec(id: Long): Array[Float] = byId(id)
    def contains(id: Long): Boolean = byId.contains(id)
    def arrays: (Array[Long], Array[Array[Float]]) = (ids, vecs)
  }

  // ------------------------------------------------------------ text

  /** What a per-source survivor rollup must look like for a planted
    * shard: gated sources absent, singletons exactly one survivor,
    * every family between one (fully merged) and its size (nothing
    * merged). Returns (failures, planted duplicates, duplicates removed).
    */
  def checkShard(planted: Seq[Gen.Doc], survivors: Map[String, Long]): (Seq[String], Long, Long) = {
    val bySource = planted.groupBy(_.source)
    val failures = Seq.newBuilder[String]
    var plantedDups = 0L; var removed = 0L
    survivors.keys.filterNot(bySource.contains).foreach(s => failures += s"unknown source $s survived")
    bySource.foreach { case (source, docs) =>
      val got = survivors.getOrElse(source, 0L)
      docs.head.role match {
        case "gated" => if (got != 0) failures += s"gated $source survived"
        case "distinct" => if (got != 1) failures += s"distinct $source has $got survivors"
        case _ =>
          if (got < 1 || got > docs.size) failures += s"family $source has $got of ${docs.size} survivors"
          plantedDups += docs.size - 1
          removed += docs.size - math.max(1L, math.min(got, docs.size.toLong))
      }
    }
    (failures.result(), plantedDups, removed)
  }
}
