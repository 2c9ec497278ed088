package graft.operators

import graft.{Memo, Tables}
import graft.functions.{VectorFunctions, VectorMetric}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate index, re-expressing the reference's
  * IVFIndex (stackai-vector-db app/indexes/ivf.py:55-183: seeded
  * k-means coarse quantizer, inverted lists, nprobe probing) as Spark
  * batch jobs.
  *
  * Scale shape (SURVEY §5): Lloyd iterations broadcast the k×dim
  * centroid table into the scan (a literal array in generated code —
  * no join, no shuffle of vectors); the only shuffle per iteration is
  * the (cluster, partial-sum) pairs of a map-side-combined aggregation,
  * k×dim doubles per partition. At query time the inverted lists are a
  * DataFrame partitioned by cluster_id, so probing nprobe clusters
  * prunes to nprobe partitions; the k-NN inside probed lists reuses the
  * bounded TopKByDistance aggregate.
  *
  * Determinism: centroids init from the k lowest vec_ids (seeded-RNG
  * choice in the reference, ivf.py:75-82; any deterministic pick
  * satisfies the same contract) and Lloyd updates are
  * sum/count averages, so the build is reproducible run to run.
  */
object Ivf {

  /** Reference heuristic: k = max(1, round(sqrt(n/2))) (ivf.py:62). */
  def defaultK(n: Long): Int = math.max(1, math.round(math.sqrt(n / 2.0)).toInt)

  /** The (id, vec) corpus under a metric. Cosine routes through the
    * normalize-then-L2 identity (‖a−b‖² = 2(1−cosθ) on unit vectors),
    * so every L2 kernel downstream — Lloyd, probe selection, ADC/SDC
    * tables — ranks by cosine without a second code path. Zero-norm
    * vectors stay as-is (the reference pins their cosine distance to
    * 1.0; quantized ranking of an all-zero vector is degenerate either
    * way). Dot keeps the raw corpus: an L2-trained quantizer still
    * reconstructs vectors, and dot is estimated from the
    * reconstructions. Shared by the IVF memo and the Pq/Sq8 encoders so
    * the quantizers and the coarse index always train on the SAME
    * representation.
    */
  private[operators] def metricCorpus(spark: SparkSession, dir: String,
                                      metric: Int = VectorMetric.L2): DataFrame =
    metricTransform(Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))), metric)

  /** The column-level metric transform behind [[metricCorpus]] — also
    * applied to NEW vectors entering a metric-keyed layout (the IVF-PQ
    * lifecycle append), so incremental rows quantize in the same space
    * the index was trained in.
    */
  private[operators] def metricTransform(vecs: DataFrame, metric: Int): DataFrame =
    if (metric != VectorMetric.Cosine) vecs
    else vecs.select(col("id"), metricVec(col("vec"), metric).as("vec"))

  /** [[metricTransform]] on one vector column, for encoders that take
    * the representation inline (the persisted SQ8 tier's encode).
    */
  private[operators] def metricVec(vec: Column, metric: Int): Column =
    if (metric != VectorMetric.Cosine) vec
    else {
      val n2 = sqrt(VectorFunctions.dotProduct(vec, vec))
      when(n2 === 0.0, vec).otherwise(transform(vec, x => (x / n2).cast("float")))
    }

  /** The corpus REPRESENTATION a metric trains on: cosine has its own
    * (normalized-vector) corpus; dot shares the RAW corpus with l2 —
    * an L2-trained quantizer reconstructs vectors and dot is estimated
    * from the reconstructions, so indexes/models/codes memo-keyed on
    * the representation serve both metrics and a dot query never pays
    * a duplicate k-means or codebook build.
    */
  private[operators] def repr(metric: Int): Int =
    if (metric == VectorMetric.Cosine) VectorMetric.Cosine else VectorMetric.L2

  /** The two-level hierarchy of the session index, if it is built
    * (see [[buildIndex]]).
    */
  private[operators] def hierarchyFor(dir: String, k: Int,
                                      metric: Int): Option[TwoLevelQuantizer] =
    Memo.get[(DataFrame, Array[Array[Float]], Option[TwoLevelQuantizer], DataFrame)](
      dir, "ivf.built", (k, repr(metric))).flatMap(_._3)

  /** The session hierarchy at the DEFAULT cluster count — the memo is
    * keyed by the REQUESTED k (effective centroid count can differ
    * within √k under two-level training), so consumers that only hold
    * the centroid array resolve through the same defaultK the index
    * build used.
    */
  private[operators] def sessionHierarchy(spark: SparkSession, dir: String,
                                          metric: Int): Option[TwoLevelQuantizer] =
    hierarchyFor(dir, defaultK(Tables.embeddingsCount(spark, dir)), metric)

  /** Built indexes, keyed by (corpus dir, k, representation): the
    * reference builds an index once and serves many queries from it
    * (manager.py's lazy rebuild); the Spark twin memoizes the
    * assignment DataFrame (cached) + centroids per corpus within a
    * session, with the two-level hierarchy when the build took the
    * distributed path (k > DriverTrainMaxK; absent for driver-trained
    * indexes — every sf-dir corpus), which the persist paths write as
    * sidecars. The Cosine variant is the NORMALIZED-corpus index
    * (unit-vector k-means) that the compressed-domain batch paths
    * probe; Dot rides the L2 entry (see [[repr]]).
    */
  private def buildIndex(spark: SparkSession, dir: String, k: Int,
                         metric: Int = VectorMetric.L2)
      : (DataFrame, Array[Array[Float]]) = {
    val (assign, centroids, _, _) = Memo(dir, "ivf.built", (k, repr(metric))) {
      // the cached corpus stays in the entry: the lazily cached
      // assignment computes from it, and a drop releases both
      val vecs = metricCorpus(spark, dir, metric).cache()
      val (a, c, hier) = kmeansWithQuantizer(vecs, k)
      (a.cache(), c, hier, vecs)
    }
    (assign, centroids)
  }

  /** Session memo for the EXACT (probe-all) batch-ANN edge list —
    * (query_id, neighbor_id, rank), O(N·k) skinny. Four report keys
    * consume the SAME exact contract within one session (ann_topk_batch
    * serves it, knn_graph_mutual symmetrizes it, ann_recall_report and
    * ann_param_sweep grade serving tiers against it), and before this
    * memo each recomputed the probe-all pass — the single most
    * expensive plan in the bench — from scratch (and the sweep embedded
    * it in all four grid branches, re-running it 4× inside ONE key).
    * Memoized + cached like the index itself: the probe-all pass is
    * paid once per (corpus, k, metric) per session, every consumer
    * pays only its own join/report increment, and the sweep's "one
    * exact pass" scaladoc claim is true in the physical plan (the four
    * union branches share one InMemoryRelation).
    */
  def exactEdges(spark: SparkSession, dir: String, k: Int,
                 metric: Int): DataFrame =
    Memo(dir, "ivf.exactEdges", (k, metric)) {
      annBatch(spark, dir, k, metric).cache()
    }

  /** Materialize the exact-edge memo (Bench line item, same attribution
    * rationale as [[warmIndex]]).
    */
  def warmExactEdges(spark: SparkSession, dir: String, k: Int = 5,
                     metric: Int = VectorMetric.Cosine): Unit = {
    exactEdges(spark, dir, k, metric).count()
    ()
  }

  /** The session index for `dir` at the default cluster count —
    * (assignments, centroids) — for operators that compose with the
    * IVF layout (Pq's IVF-PQ path).
    */
  private[operators] def indexFor(spark: SparkSession, dir: String,
                                  metric: Int = VectorMetric.L2)
      : (DataFrame, Array[Array[Float]]) = {
    // memoized count: serving paths call this per query and a fresh
    // count() job each time is a corpus scan at 100 TB
    val n = Tables.embeddingsCount(spark, dir)
    buildIndex(spark, dir, defaultK(n), metric)
  }

  /** Materialize the session index memo for `dir` (build + cache fill).
    * Bench times this as its own line item: the memo is shared by every
    * ivf-backed query, so whichever query touched it first used to
    * absorb the whole build cost into its own number (the round-2
    * ivf_query "regression" was exactly this attribution artifact).
    */
  def warmIndex(spark: SparkSession, dir: String,
                metric: Int = VectorMetric.L2): Unit = {
    val n = Tables.embeddingsCount(spark, dir)
    val (assign, _) = buildIndex(spark, dir, defaultK(n), metric)
    assign.count()
    ()
  }

  /** Centroids as a small broadcastable DataFrame (cid, cvec) — k×dim
    * rows, MBs even at k=10⁵. Every query/build path joins against this
    * instead of inlining centroid literals: literals regenerate (and
    * janino-recompile) the codegen unit per build and grow task
    * binaries linearly in k (measured 7 MiB at sf0.1), while the join
    * shape compiles once and scales with k.
    */
  private def centroidDf(spark: SparkSession, centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq.toDF("cid", "cvec")
  }

  /** The exact flat argmin assignment, as a spec seam (IvfSpec grades
    * [[assignTwoLevel]]'s agreement against it).
    */
  private[graft] def kmeansAssignExact(vectors: DataFrame,
                                       centroids: Array[Array[Float]]): DataFrame =
    assignJoin(vectors, centroids).select("id", "cluster_id")

  /** [[probeSelect]] as a spec seam (IvfSpec pins the two-level probe
    * selection's overlap with the flat one).
    */
  private[graft] def probeSelectForSpec(queries: DataFrame,
                                        centroids: Array[Array[Float]], np: Int,
                                        hier: Option[TwoLevelQuantizer],
                                        metric: Int = VectorMetric.L2): DataFrame =
    probeSelect(queries, centroids, np, metric, hier = hier)

  /** One assignment pass via the broadcast centroid table.
    * min(struct(dist, cid, vec)) picks the argmin with ties to the
    * lower cluster id and carries the vector through for the mean step.
    */
  private def assignJoin(vectors: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val cdf = centroidDf(vectors.sparkSession, centroids)
    vectors.crossJoin(broadcast(cdf))
      .select(col("id"), col("vec"), col("cid"),
        VectorFunctions.l2Distance(col("vec"), col("cvec")).as("dist"))
      .groupBy("id")
      .agg(min(struct(col("dist"), col("cid"), col("vec"))).as("m"))
      .select(col("id"), col("m.cid").as("cluster_id"), col("m.vec").as("vec"))
  }

  /** Lloyd's k-means over an (id, vec: array<float>) DataFrame.
    * Returns (assignments: id → cluster_id, centroids).
    *
    * Training follows the standard IVF practice (FAISS trains its
    * coarse quantizer the same way): Lloyd runs on a bounded,
    * DETERMINISTIC hash-sample of the corpus — 256 vectors per
    * centroid, the full corpus when smaller. The sample filter is a
    * hash of the id, so membership is a pure function of the data,
    * never of partitioning. Lloyd stops early when the max centroid
    * shift drops below `tol`.
    *
    * TWO regimes, split at [[DriverTrainMaxK]] (k grows as √(N/2), so
    * the 256·k sample is NOT bounded at a fixed byte budget — at the
    * 100 TB contract k ≈ 224k means a ~57M-row sample that must never
    * touch the driver):
    *   - k ≤ threshold (every sf-dir corpus, every oracle): the sample
    *     collects and driver-local [[lloyd]] runs — bit-stable with
    *     all prior rounds, exactly TWO corpus passes total.
    *   - k > threshold: the sample stays a FRAME and training goes
    *     two-level ([[trainTwoLevel]] — the billion-scale FAISS
    *     recipe): distributed Lloyd for √k level-1 cells, then
    *     per-cell Lloyd in parallel on executors; assignment probes
    *     the hierarchy ([[assignTwoLevel]]) so the per-row argmin is
    *     O(√k + w·k/√k), not O(k). The driver only ever holds the
    *     k×dim centroid array itself — the same object every IVF
    *     serving path already broadcasts.
    *
    * `maxDriverK` is the spec seam: tests force the distributed path
    * on small corpora by passing 0.
    */
  def kmeans(vectors: DataFrame, k: Int, iters: Int = 10, tol: Double = 1e-4,
             maxDriverK: Int = DriverTrainMaxK)
      : (DataFrame, Array[Array[Float]]) = {
    val (a, c, _) = kmeansWithQuantizer(vectors, k, iters, tol, maxDriverK)
    (a, c)
  }

  /** [[kmeans]] plus the trained two-level structure when the
    * distributed path ran — persist paths write it as index sidecars
    * so APPENDS against the index assign through the hierarchy too
    * (the flat argmin is O(k)/row; at k = √(N/2) on 100 TB that is the
    * build path's sibling wall).
    */
  private[graft] def kmeansWithQuantizer(vectors: DataFrame, k: Int,
                                         iters: Int = 10, tol: Double = 1e-4,
                                         maxDriverK: Int = DriverTrainMaxK)
      : (DataFrame, Array[Array[Float]], Option[TwoLevelQuantizer]) =
    if (k <= maxDriverK) {
      val centroids = trainCentroids(vectors, k, iters, tol)
      (assignJoin(vectors, centroids).select("id", "cluster_id"), centroids, None)
    } else {
      val q = trainTwoLevel(vectors, k, iters, tol)
      (assignTwoLevel(vectors, q).select("id", "cluster_id"), q.centroids, Some(q))
    }

  /** Largest k whose quantizer still trains on the driver (collected
    * sample + single-threaded [[lloyd]]). Above it, training and
    * assignment distribute ([[trainTwoLevel]]/[[assignTwoLevel]]).
    * 1024 keeps every sf-dir corpus (k = √(n/2) ≤ ~250 even at the 25×
    * probe scale) on the bit-stable driver path, so the dynamic
    * oracles replay unchanged; the 100 TB build path never collects a
    * sample-sized frame.
    */
  val DriverTrainMaxK = 1024

  /** Per-centroid sample budget for quantizer training (the usual
    * IVF training ratio).
    */
  val TrainPointsPerCentroid = 256L

  /** The k ≤ [[DriverTrainMaxK]] trainer: bounded sample collect +
    * driver [[lloyd]]. The collect is bounded BECAUSE the threshold
    * bounds k (256·k ≤ 256·1024 rows); uncapped k takes the
    * [[trainTwoLevel]] path instead.
    */
  private def trainCentroids(vectors: DataFrame, k: Int, iters: Int, tol: Double)
      : Array[Array[Float]] = {
    val n = vectors.count()
    val target = math.max(TrainPointsPerCentroid * k, 4096L)
    // ceiling-division modulus + hard limit: floor(n/target) keeps up
    // to ~2× the budget (and the WHOLE corpus for target < n < 2·target)
    val sampled =
      if (n <= target) vectors
      else vectors.filter(
        pmod(xxhash64(col("id")), lit((n + target - 1) / target)) === 0)
    val train: Array[Array[Float]] = sampled.select(col("id"), col("vec"))
      .orderBy("id").limit(target.toInt)
      .collect().map(_.getSeq[Float](1).toArray)
    require(train.nonEmpty, "cannot train a quantizer on an empty corpus")
    lloyd(train, k, iters, tol)
  }

  /** Driver-local Lloyd over a bounded training sample — the shared
    * quantizer trainer (IVF coarse quantizer here; Pq sub-quantizers
    * reuse it per subspace). Deterministic: init from the first k
    * sample vectors (the reference's seeded-choice contract,
    * ivf.py:75-82 — any deterministic pick qualifies), ties to the
    * lower cluster id, sum/count mean updates.
    */
  private[operators] def lloyd(train: Array[Array[Float]], k: Int,
                               iters: Int, tol: Double): Array[Array[Float]] = {
    val dim = train(0).length
    var centroids = train.take(k).map(_.clone())
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val sums = Array.ofDim[Double](centroids.length, dim)
      val counts = new Array[Long](centroids.length)
      var i = 0
      while (i < train.length) {
        val v = train(i)
        // argmin over centroids, ties to the lower cluster id
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var acc = 0.0; var p = 0
          val cc = centroids(c)
          while (p < dim) { val d = v(p) - cc(p); acc += d * d; p += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        var p = 0
        while (p < dim) { sums(best)(p) += v(p); p += 1 }
        counts(best) += 1
        i += 1
      }
      var maxShift = 0.0
      val next = centroids.map(_.clone())
      var c = 0
      while (c < centroids.length) {
        if (counts(c) > 0) {
          var acc = 0.0; var p = 0
          while (p < dim) {
            val m = (sums(c)(p) / counts(c)).toFloat
            val d = m.toDouble - next(c)(p).toDouble
            acc += d * d
            next(c)(p) = m; p += 1
          }
          maxShift = math.max(maxShift, math.sqrt(acc))
        }
        c += 1
      }
      centroids = next
      converged = maxShift < tol
      it += 1
    }
    centroids
  }

  // ------------------------------------------- distributed training
  //
  // Above DriverTrainMaxK the 256·k training sample is too large to
  // collect (k = √(N/2) is uncapped by design, so at 100 TB the sample
  // is ~57M rows) and driver Lloyd's O(sample·k·dim) per iteration is
  // single-core — the build path would die on the driver while every
  // serving path around it scales. The replacement is the standard
  // two-level (hierarchical) coarse quantizer (the FAISS billion-scale
  // recipe, e.g. IVF√k×√k): √k level-1 cells trained by DISTRIBUTED
  // Lloyd over the sampled frame, then each cell's slice of the k
  // centroids trained by driver-kernel Lloyd running IN PARALLEL on
  // executors over that cell's sample — per-iteration cost
  // O(sample·√k·dim) across the cluster, never a sample-sized collect,
  // never a single-task stage. Assignment probes the hierarchy the
  // same way (w nearest cells, argmin within their slices), turning
  // the O(N·k·dim) flat argmin into O(N·(√k + w·k/√k)·dim).
  //
  // Determinism holds end to end: sample membership is an id hash;
  // the level-1 update integer-quantizes each coordinate BEFORE the
  // distributed sum (long addition is associative, so partial-agg
  // order cannot move a centroid by a ulp — the residualsQ pattern);
  // per-cell Lloyd sorts its sample by id and runs the same seeded
  // kernel as the driver path. The two regimes produce different
  // centroids by construction (different init topology) — the split
  // is a documented threshold, not a silent fallback.

  /** The trained two-level coarse quantizer: flat `centroids` (grouped
    * by cell) + `cellOf(j)` = the level-1 cell centroid j belongs to.
    * Serving paths that only need the flat array keep working
    * unchanged; assignment-shaped consumers probe through `l1`.
    */
  private[graft] case class TwoLevelQuantizer(
      l1: Array[Array[Float]],
      centroids: Array[Array[Float]],
      cellOf: Array[Int])

  /** Cells probed per vector during two-level ASSIGNMENT (w in the
    * IMI/IVF-HNSW sense): w > 1 recovers most of the flat argmin's
    * exactness (a vector near a cell boundary still reaches its true
    * nearest centroid) at O(w·k/√k) extra lookups; IvfSpec pins the
    * agreement floor vs the exact argmin.
    */
  val TwoLevelAssignCells = 4

  /** Fixed-point scale for the distributed Lloyd update: coordinates
    * quantize to round(x·2^24) BEFORE the cross-partition sum, so the
    * update is associative integer arithmetic — deterministic under
    * any partitioning — and the 6e-8 grid is far below k-means'
    * convergence tolerance. Headroom: |x|·2^24·sample ≤ 2^63 holds to
    * ~5.5e11 sample rows at |x| ≤ 1.
    */
  private val LloydFixedPoint = (1L << 24).toDouble

  /** Distributed flat Lloyd over an (id, vec) frame — the level-1
    * trainer. Per iteration: one broadcast-centroid argmin pass + one
    * map-side-combined (cid, pos) integer-sum aggregation (k1·dim rows
    * collected — the centroid array itself, never the sample). Init =
    * the k1 lowest-id vectors, ties and update rules exactly [[lloyd]]'s.
    */
  private[graft] def lloydDistributed(sample: DataFrame, k1: Int,
                                          iters: Int, tol: Double): Array[Array[Float]] = {
    val spark = sample.sparkSession
    var centroids: Array[Array[Float]] = sample.orderBy("id").limit(k1)
      .select("vec").collect().map(_.getSeq[Float](0).toArray)
    require(centroids.nonEmpty, "cannot train a quantizer on an empty corpus")
    val dim = centroids(0).length
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val cdf = centroidDf(spark, centroids)
      val assigned = sample.crossJoin(broadcast(cdf))
        .select(col("id"), col("vec"), col("cid"),
          VectorFunctions.l2Distance(col("vec"), col("cvec")).as("dist"))
        .groupBy("id")
        .agg(min(struct(col("dist"), col("cid"), col("vec"))).as("m"))
        .select(col("m.cid").as("cid"), col("m.vec").as("vec"))
      val stats = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(round(col("x").cast("double") * lit(LloydFixedPoint)).cast("long")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = centroids.map(_.clone())
      val sums = Array.ofDim[Long](centroids.length, dim)
      val counts = new Array[Long](centroids.length)
      stats.foreach { r =>
        val c = r.getInt(0)
        sums(c)(r.getInt(1)) = r.getLong(2)
        counts(c) = r.getLong(3)
      }
      var maxShift = 0.0
      var c = 0
      while (c < centroids.length) {
        if (counts(c) > 0) {
          var acc = 0.0; var p = 0
          while (p < dim) {
            val m = (sums(c)(p).toDouble / counts(c) / LloydFixedPoint).toFloat
            val d = m.toDouble - next(c)(p).toDouble
            acc += d * d
            next(c)(p) = m; p += 1
          }
          maxShift = math.max(maxShift, math.sqrt(acc))
        }
        c += 1
      }
      centroids = next
      converged = maxShift < tol
      it += 1
    }
    centroids
  }

  /** Train the two-level quantizer for k > [[DriverTrainMaxK]]: the
    * sampled frame never collects; level 1 is [[lloydDistributed]] at
    * k1 = ⌈√k⌉; level 2 partitions the sample by cell and runs the
    * [[lloyd]] kernel per cell IN PARALLEL via flatMapGroups (each
    * task holds one cell's ~256·√k sample rows). Per-cell centroid
    * budgets are proportional to cell mass (min 1 per non-empty cell,
    * capped at the cell's sample count), so the effective list count
    * lands within ~√k of the requested k — the √(N/2) heuristic is a
    * target, not a contract. Deterministic: hash sample, id-sorted
    * cell kernels, integer-summed level-1 updates.
    */
  private[graft] def trainTwoLevel(vectors: DataFrame, k: Int,
                                       iters: Int, tol: Double): TwoLevelQuantizer = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val n = vectors.count()
    val target = math.max(TrainPointsPerCentroid * k, 4096L)
    val sampled =
      (if (n <= target) vectors.select(col("id"), col("vec"))
       else vectors.select(col("id"), col("vec")).filter(
         pmod(xxhash64(col("id")), lit((n + target - 1) / target)) === 0))
        .cache()
    val sampleN = sampled.count()
    require(sampleN > 0, "cannot train a quantizer on an empty corpus")
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val l1 = lloydDistributed(sampled, k1, iters, tol)
    val withCell = assignJoin(sampled, l1)
      .select(col("cluster_id").as("cell"), col("id").cast("string").as("sid"),
        col("vec"))
      .cache()
    val counts = withCell.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // proportional budget: round(k·mass/total), floored at 1, capped at
    // the cell's sample size (lloyd cannot mint more centroids than
    // training points)
    val alloc: Map[Int, Int] = counts.map { case (c, cn) =>
      c -> math.min(cn, math.max(1L,
        math.round(k.toDouble * cn / sampleN))).toInt
    }
    val bAlloc = spark.sparkContext.broadcast(alloc)
    val cellCents = withCell
      .as[(Int, String, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it0) =>
        val vs = it0.toArray.sortBy(_._2).map(_._3)
        val kc = math.min(bAlloc.value(cell), vs.length)
        lloyd(vs, kc, 10, 1e-4).iterator.zipWithIndex
          .map { case (cv, j) => (cell, j, cv) }
      }
      .collect()
    withCell.unpersist()
    sampled.unpersist()
    val sorted = cellCents.sortBy(t => (t._1, t._2))
    TwoLevelQuantizer(l1, sorted.map(_._3), sorted.map(_._1))
  }

  /** Two-level assignment: each vector's [[TwoLevelAssignCells]]
    * nearest level-1 cells (bounded top-w aggregate over the broadcast
    * √k cell table), then the flat argmin restricted to those cells'
    * centroid slices (broadcast hash join on cell). Same output shape
    * and tie-breaks as [[assignJoin]]; O(√k + w·k/√k) distance
    * evaluations per row instead of O(k).
    */
  private[graft] def assignTwoLevel(vectors: DataFrame, q: TwoLevelQuantizer,
                                        probeCells: Int = TwoLevelAssignCells): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val l1df = centroidDf(spark, q.l1)
      .select(col("cid").as("cell"), col("cvec").as("l1vec"))
    val w = math.min(math.max(1, probeCells), q.l1.length)
    val probedCells = vectors.crossJoin(broadcast(l1df))
      .select(col("id"), col("vec"), col("cell"),
        VectorFunctions.l2Distance(col("vec"), col("l1vec")).as("cdist"))
      .groupBy("id")
      .agg(VectorFunctions
          .topKByDistance(col("cdist"), col("cell").cast("long"), w).as("pc"),
        first(col("vec")).as("vec"))
      .select(col("id"), col("vec"), explode(col("pc")).as("p"))
      .select(col("id"), col("vec"), col("p.id").cast("int").as("cell"))
    val cdf = q.centroids.zipWithIndex
      .map { case (c, j) => (q.cellOf(j), j, c.toSeq) }.toSeq
      .toDF("cell", "cid", "cvec")
    probedCells.join(broadcast(cdf), "cell")
      .select(col("id"), col("vec"), col("cid"),
        VectorFunctions.l2Distance(col("vec"), col("cvec")).as("dist"))
      .groupBy("id")
      .agg(min(struct(col("dist"), col("cid"), col("vec"))).as("m"))
      .select(col("id"), col("m.cid").as("cluster_id"), col("m.vec").as("vec"))
  }

  /** A6: build the IVF index over the embeddings table: one row per
    * vector with its inverted-list (cluster) assignment. Rows-only for
    * the driver (k-means has no SQL oracle); IvfSpec checks determinism,
    * coverage, and that probing all lists reproduces exact k-NN.
    */
  def ivfBuild(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    val (assign, _) = buildIndex(spark, dir, defaultK(n))
    assign.select(col("id").as("vec_id"), col("cluster_id")).orderBy("vec_id")
  }

  /** Persist the inverted lists as parquet PARTITIONED BY cluster_id —
    * the at-scale index layout (SURVEY §5) — beside the `_centroids`
    * (and hierarchy) sidecars, so the tree serves on its own.
    *
    * Serving ([[queryIndex]], IndexLifecycle.query, Pq.queryIvfPq) is
    * O(probed lists) for the whole call, not only the scan: a tree
    * opens once per session ([[ServingState]]: centroids, model and the
    * list schema, validated per call against the state record and the
    * sidecar files), and a call reads the nprobe probed `cluster_id=`
    * directories as explicit paths taken from the root listing its
    * half-applied-mutation check already makes — no per-call schema
    * inference, no listing of every list; the scan keeps its
    * `cluster_id` partition filter. IvfStorageSpec asserts the scan
    * reads only the probed partitions.
    */
  def writeIndex(spark: SparkSession, dir: String, outPath: String): Array[Array[Float]] =
      ServingState.writing(outPath) {
    val n = Tables.embeddingsCount(spark, dir)
    val (assign, centroids) = buildIndex(spark, dir, defaultK(n))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    vecs.join(assign, "id")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))
      // cluster-align tasks before the partitioned write: an unaligned
      // frame writes one file per (task × cluster) — O(tasks·k) tiny
      // files; aligned, each list is one file
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(outPath)
    writeHierarchy(spark, outPath, hierarchyFor(dir, defaultK(n), VectorMetric.L2))
    IndexLifecycle.writeCentroids(spark, outPath, centroids)
    centroids
  }

  /** Build-and-persist for an arbitrary (id, vec) corpus DataFrame —
    * the lifecycle service's build step (a rebuild must reflect the
    * corpus as-of now, so it never touches the session memo; it clears
    * it instead via graft.Memo.invalidate when the corpus is a known dir).
    */
  def writeIndexFrom(vecs: DataFrame, outPath: String,
                     kOpt: Option[Int] = None,
                     maxDriverK: Int = DriverTrainMaxK): Array[Array[Float]] = {
    // cache the REBALANCED frame: every Lloyd iteration re-reads it, so
    // an uncached rebalance would repeat its shuffle 10×
    val v = Tables.rebalanced(vecs).cache()
    val k = kOpt.getOrElse(defaultK(v.count()))
    val (assign, centroids, hier) = kmeansWithQuantizer(v, k, maxDriverK = maxDriverK)
    v.join(assign, "id")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))
      .repartition(col("cluster_id")) // one file per list, not per task×list
      .write.mode("overwrite").partitionBy("cluster_id").parquet(outPath)
    writeHierarchy(v.sparkSession, outPath, hier)
    v.unpersist()
    centroids
  }

  /** Query a persisted index: top-k within the nprobe nearest lists,
    * reading ONLY those lists. Refuses an index left inconsistent by a
    * crashed mutation, then serves from the tree's open-once state
    * ([[ServingState]]): the probed lists are read as explicit
    * directories from the refusal check's root listing, under the
    * recorded schema, so a warm call runs only its data job.
    */
  def queryIndex(spark: SparkSession, indexPath: String, queryVec: Array[Float],
                 k: Int, nprobe: Int): DataFrame = {
    val live = BucketSwap.refuse(spark, BucketSwap.lists(indexPath))
    val st = ServingState.ivf(spark, indexPath)
    val probed = st.centroids.zipWithIndex
      .map { case (c, j) =>
        var acc = 0.0; var i = 0
        while (i < c.length) { val d = c(i) - queryVec(i); acc += d * d; i += 1 }
        (math.sqrt(acc), j)
      }
      .sortBy(identity).take(nprobe).map(_._2)
    val dist = VectorFunctions.l2Distance(col("vec"), typedlit(queryVec.toSeq))
    ServingState.probedLists(spark, indexPath, st.listSchema, live, probed.toSeq)
      .select(col("neighbor_id"), dist.as("dist"))
      .orderBy(col("dist"), col("neighbor_id"))
      .limit(k)
  }

  /** Distance column for a metric (Dot negated so smaller = closer). */
  private[operators] def distCol(metric: Int, a: Column, b: Column): Column = metric match {
    case VectorMetric.L2     => VectorFunctions.l2Distance(a, b)
    case VectorMetric.Cosine => VectorFunctions.cosineDistance(a, b)
    case VectorMetric.Dot    => -VectorFunctions.dotProduct(a, b)
  }

  /** Per-query probe set: the nprobe nearest centroids UNDER THE QUERY
    * METRIC (probing with a different metric than the final ranking
    * would select the wrong lists), via the same broadcast centroid
    * join as the build path — a bounded top-k aggregation over
    * queries×k rows, stable codegen at any k.
    * (query_id, qvec) → (query_id, qvec, probe_cluster).
    * `carry` names extra per-query columns to ride the probe aggregate
    * (first() over the functionally-dependent value) — carrying them
    * here costs nothing, where a join-back after the fact would shuffle
    * a corpus-sized skinny frame a second time.
    */
  private[operators] def probeSelect(queries: DataFrame, centroids: Array[Array[Float]],
                                     nprobe: Int, metric: Int = VectorMetric.L2,
                                     carry: Seq[String] = Nil,
                                     hier: Option[TwoLevelQuantizer] = None): DataFrame = {
    val np = math.min(math.max(1, nprobe), centroids.length)
    hier match {
      // every metric probes through the hierarchy when the index was
      // two-level-trained: the l2 family scores cells directly; dot
      // (round 12) scores cells by the Cauchy-Schwarz upper bound
      // q·c ≤ q·l1c + ‖q‖·r_cell over member centroids — the standard
      // branch-and-bound cell pruning for MIPS
      case Some(q) if q.l1.length > 1 =>
        probeSelectTwoLevel(queries, q, np, metric, carry)
      case _ =>
        val cdf = centroidDf(queries.sparkSession, centroids)
        val carried = carry.map(c => first(col(c)).as(c))
        val out = Seq(col("query_id"), col("qvec")) ++ carry.map(col)
        queries.crossJoin(broadcast(cdf))
          .select(Seq(col("query_id"), col("qvec"), col("cid"),
            distCol(metric, col("qvec"), col("cvec")).as("cdist")) ++ carry.map(col): _*)
          .groupBy("query_id")
          .agg(
            VectorFunctions.topKByDistance(col("cdist"), col("cid").cast("long"), np).as("pc"),
            first(col("qvec")).as("qvec") +: carried: _*)
          .select(out :+ explode(col("pc")).as("p"): _*)
          .select(out :+ col("p.id").cast("int").as("probe_cluster"): _*)
    }
  }

  /** Two-level BATCH probe selection — the probe-side twin of
    * [[assignTwoLevel]]: flat selection scores every query against all
    * k centroids (O(N·k·dim) for a corpus-sized batch — the same wall
    * the two-level trainer escaped), while this scores the √k level-1
    * cells, keeps enough cells to field ~2× the requested probes
    * (never fewer than [[TwoLevelAssignCells]]), and ranks only those
    * cells' centroid slices. Approximate like every two-level probe
    * (a boundary centroid can be missed); IvfSpec pins the overlap
    * floor vs the flat selection.
    */
  private def probeSelectTwoLevel(queries: DataFrame, q: TwoLevelQuantizer,
                                  np: Int, metric: Int,
                                  carry: Seq[String]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val k1 = q.l1.length
    // w sized on the SMALLEST cells' cumulative capacity, not the
    // average: the probed cells are whichever are nearest, and a query
    // landing on small boundary cells must still field ~2× the
    // requested probes (never fewer than the assignment's cell budget)
    val cellSizes = {
      val counts = new Array[Int](k1)
      q.cellOf.foreach(c => counts(c) += 1)
      counts.sorted
    }
    val w = {
      var acc = 0L; var i = 0
      while (i < k1 && acc < 2L * np) { acc += cellSizes(i); i += 1 }
      math.min(k1, math.max(TwoLevelAssignCells, i))
    }
    // per-cell radius (max member-centroid displacement from the cell
    // centroid) — the dot upper bound's second term; O(k·dim) driver
    // arithmetic over arrays already in hand
    val radii: Array[Double] = {
      val r = new Array[Double](k1)
      var j = 0
      while (j < q.centroids.length) {
        val cell = q.cellOf(j)
        val c = q.centroids(j); val l = q.l1(cell)
        var acc = 0.0; var i = 0
        while (i < c.length) { val d = c(i).toDouble - l(i); acc += d * d; i += 1 }
        val dist = math.sqrt(acc)
        if (dist > r(cell)) r(cell) = dist
        j += 1
      }
      r
    }
    val l1df = centroidDf(spark, q.l1)
      .select(col("cid").as("cell"), col("cvec").as("l1vec"))
      .withColumn("cell_r",
        element_at(typedlit(radii.toSeq), col("cell") + 1))
    val carried = carry.map(c => first(col(c)).as(c))
    val keep = Seq(col("query_id"), col("qvec")) ++ carry.map(col)
    // stage 1: top-w cells per query — the l2 family scores cells in
    // the space the hierarchy was trained in (cosine arrives
    // normalized); dot scores each cell by the NEGATED upper bound
    // −(q·l1c + ‖q‖·r_cell) ≤ −max_{c∈cell} q·c, so ascending order
    // keeps the cells that could hold the best inner products
    val cellScore =
      if (metric == VectorMetric.Dot)
        -(VectorFunctions.dotProduct(col("qvec"), col("l1vec")) +
          sqrt(VectorFunctions.dotProduct(col("qvec"), col("qvec"))) * col("cell_r"))
      else VectorFunctions.l2Distance(col("qvec"), col("l1vec"))
    val cells = queries.crossJoin(broadcast(l1df))
      .select(Seq(col("query_id"), col("qvec"), col("cell"),
        cellScore.as("celld"))
        ++ carry.map(col): _*)
      .groupBy("query_id")
      .agg(VectorFunctions
          .topKByDistance(col("celld"), col("cell").cast("long"), w).as("pc"),
        first(col("qvec")).as("qvec") +: carried: _*)
      .select(keep :+ explode(col("pc")).as("p"): _*)
      .select(keep :+ col("p.id").cast("int").as("cell"): _*)
    // stage 2: rank ONLY the probed cells' centroid slices
    val cdf = q.centroids.zipWithIndex
      .map { case (c, j) => (q.cellOf(j), j, c.toSeq) }.toSeq
      .toDF("cell", "cid", "cvec")
    val carried2 = carry.map(c => first(col(c)).as(c))
    val out = Seq(col("query_id"), col("qvec")) ++ carry.map(col)
    cells.join(broadcast(cdf), "cell")
      .select(Seq(col("query_id"), col("qvec"), col("cid"),
        distCol(metric, col("qvec"), col("cvec")).as("cdist")) ++ carry.map(col): _*)
      .groupBy("query_id")
      .agg(VectorFunctions
          .topKByDistance(col("cdist"), col("cid").cast("long"), np).as("pc"),
        first(col("qvec")).as("qvec") +: carried2: _*)
      .select(out :+ explode(col("pc")).as("p"): _*)
      .select(out :+ col("p.id").cast("int").as("probe_cluster"): _*)
  }

  /** Exact top-k within the probed inverted lists. `broadcastProbes`
    * declares the serving contract: a small query batch broadcasts into
    * the list scan; a corpus-sized probe set (batch ANN) must instead
    * shuffle-join on cluster_id — broadcasting it would be the O(N)
    * memory scale-killer this layout exists to avoid.
    */
  private[operators] def probedTopK(lists: DataFrame, probes: DataFrame, k: Int, metric: Int,
                         pairFilter: Column = lit(true),
                         broadcastProbes: Boolean = true): DataFrame = {
    val dist = distCol(metric, col("vec"), col("qvec"))
    val p = if (broadcastProbes) broadcast(probes) else probes
    lists.join(p, col("cluster_id") === col("probe_cluster"))
      .filter(pairFilter)
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKByDistance(dist, col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Inverted lists as a DataFrame: assignments joined back to vectors. */
  private[operators] def invertedLists(vecs: DataFrame, assign: DataFrame): DataFrame =
    vecs.join(assign, "id")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))

  /** A7: ANN query via nprobe nearest inverted lists (ivf.py:158-183):
    * assign each query to its nprobe closest centroids, scan only those
    * lists, exact top-k within them. nprobe ≥ nClusters (e.g. the
    * driver's Int.MaxValue sentinel) probes every list, which is exact
    * k-NN by construction — that variant carries the A1 oracle; the
    * nprobe<k default is the benched approximate path (recall pinned by
    * IvfSpec). `metric` matches the reference's per-index metric
    * parameter (indexes take euclidean|cosine|dot, manager.py) — both
    * probe selection and the final ranking use it.
    */
  def ivfQuery(spark: SparkSession, dir: String,
               nQueries: Int = 5, k: Int = 10, nprobeOpt: Option[Int] = None,
               metric: Int = VectorMetric.L2): DataFrame = {
    val vecs = Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val nClusters = defaultK(Tables.embeddingsCount(spark, dir))
    val nprobe = nprobeOpt.getOrElse(math.max(1, nClusters / 4))
    val (assign, centroids) = buildIndex(spark, dir, nClusters)
    val queries = vecs.filter(col("id") < nQueries)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    // the session index behind this path is the L2-REPRESENTATION build
    // (buildIndex default) whatever the query metric, so the hierarchy
    // must be that build's — a metric-keyed lookup could pair another
    // representation's cluster-id space with these inverted lists
    val probes = probeSelect(queries, centroids, nprobe, metric,
      hier = hierarchyFor(dir, nClusters, VectorMetric.L2))
    probedTopK(invertedLists(vecs, assign), probes, k, metric)
      .orderBy("query_id", "rank")
  }

  /** Assign vectors to an EXISTING quantizer (no retrain) — the
    * incremental-update path (ivf.py add: new vectors go to their
    * nearest current centroid). Output matches the persisted list
    * layout (cluster_id, neighbor_id, vec).
    */
  def assignTo(vecs: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    assignJoin(vecs, centroids)
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))

  /** [[assignTo]] through the index's persisted hierarchy when it has
    * one: a two-level-trained index assigns APPENDS the same O(√k)/row
    * way it assigned its build — the flat argmin would silently
    * reintroduce the O(k)/row wall on the ingest path at large k.
    */
  private[operators] def assignToQ(vecs: DataFrame, centroids: Array[Array[Float]],
                                   hier: Option[TwoLevelQuantizer]): DataFrame =
    hier match {
      case Some(q) => assignTwoLevel(vecs, q)
        .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))
      case None => assignTo(vecs, centroids)
    }

  /** Persist a two-level hierarchy beside an index's `_centroids`:
    * `_l1` holds the level-1 cell centroids, `_cellof` the flat
    * centroid → cell map. Absent for driver-trained indexes (the
    * sidecars are the marker — loaders return None and the append
    * path stays flat, exactly the pre-round-11 behavior).
    */
  private[operators] def writeHierarchy(spark: SparkSession, outPath: String,
                                        hier: Option[TwoLevelQuantizer]): Unit =
    hier match {
      case Some(q) =>
        import spark.implicits._
        q.l1.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
          .toDF("cell", "cvec")
          .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_l1")
        q.cellOf.zipWithIndex.map { case (cell, cid) => (cid, cell) }.toSeq
          .toDF("cid", "cell")
          .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_cellof")
      case None =>
        // a driver-trained build OVERWRITING a formerly two-level tree
        // must not leave the old hierarchy behind — stale sidecars
        // would brick (length mismatch) or silently misroute appends
        val conf = spark.sparkContext.hadoopConfiguration
        Seq(s"$outPath/_l1", s"$outPath/_cellof").foreach { d =>
          val hp = new org.apache.hadoop.fs.Path(d)
          val f = hp.getFileSystem(conf)
          if (f.exists(hp)) f.delete(hp, true)
        }
    }

  /** Load the persisted hierarchy (None when the index was
    * driver-trained — no `_l1` sidecar).
    */
  private[operators] def loadHierarchy(spark: SparkSession, indexPath: String,
                                       centroids: Array[Array[Float]])
      : Option[TwoLevelQuantizer] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_l1")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else {
      val l1 = IndexLifecycle.readSidecar(spark, s"$indexPath/_l1", "cell INT, cvec ARRAY<FLOAT>")
        .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)
      val cellOf = IndexLifecycle.readSidecar(spark, s"$indexPath/_cellof", "cid INT, cell INT")
        .sortBy(_.getInt(0)).map(_.getInt(1))
      require(cellOf.length == centroids.length,
        s"hierarchy/_centroids mismatch: ${cellOf.length} vs ${centroids.length}")
      Some(TwoLevelQuantizer(l1, centroids, cellOf))
    }
  }

  /** Index stats: the per-inverted-list histogram an operator actually
    * monitors (the reference's manager.get_stats / index status
    * surface): list sizes and each list's share of the corpus. Skew
    * here predicts probe latency variance — a mega-list means some
    * probes scan far more than corpus/k vectors.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    val (assign, _) = buildIndex(spark, dir, defaultK(n))
    assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("list_size"))
      .select(col("cluster_id"), col("list_size"),
        (col("list_size") / lit(n.toDouble)).as("corpus_frac"))
      .orderBy("cluster_id")
  }

  /** A23: the one-row index-health summary an operator ALERTS on —
    * index_stats (A14) is the per-list detail view, this is the
    * signal: list count, non-empty count, min/max/p95 list size, and
    * the imbalance factor max·k/n as an exact permille integer
    * (balanced = 1000; a mega-list pushes it toward k·1000 and
    * predicts probe-latency variance — FAISS's imbalance_factor, made
    * integer-exact for the cross-engine gate). One aggregation over
    * the session assignment memo; the p95 uses the same
    * value-at-rank-over-histogram formulation as E39 (k rows, trivial).
    */
  def ivfBalanceReport(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    val k = defaultK(n)
    val (assign, _) = buildIndex(spark, dir, k)
    val sizes = assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
    // k ≤ √(n/2) rows: the unpartitioned windows are trivial here
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("sz"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("sz"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    sizes
      .select(col("sz"), sum(lit(1L)).over(w).as("cum"),
        count(lit(1)).over(wAll).as("m"))
      .agg(
        count(lit(1)).as("n_nonempty"),
        min(col("sz")).as("min_list"),
        max(col("sz")).as("max_list"),
        min(when(col("cum") * 100 >= col("m") * 95, col("sz"))).as("p95_list"))
      .select(lit(k.toLong).as("n_lists"), col("n_nonempty"),
        col("min_list"), col("max_list"), col("p95_list"),
        // integer division end to end: a double quotient would round
        // differently from the oracle's // once sz·1000·k nears 2^53
        expr(s"max_list * 1000 * $k DIV $n").as("imbalance_permille"))
  }

  /** A23 oracle: assignment replay over the centroid literal → the
    * same list-size aggregate arithmetic.
    */
  def ivfBalanceReportOracleSql(spark: SparkSession, dir: String): String = {
    val (_, cents) = indexFor(spark, dir)
    val k = cents.length
    s"""WITH ${assignCtes(cents)},
       |sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY 1),
       |ranked AS (
       |  SELECT sz,
       |    CAST(sum(1) OVER (ORDER BY sz) AS BIGINT) AS cum,
       |    CAST(count(*) OVER () AS BIGINT) AS m
       |  FROM sizes),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
       |SELECT CAST($k AS BIGINT) AS n_lists,
       |  CAST(count(*) AS BIGINT) AS n_nonempty,
       |  CAST(min(sz) AS BIGINT) AS min_list,
       |  CAST(max(sz) AS BIGINT) AS max_list,
       |  CAST(min(CASE WHEN cum * 100 >= m * 95 THEN sz END) AS BIGINT) AS p95_list,
       |  CAST(max(sz) * 1000 * $k // (SELECT n FROM n) AS BIGINT) AS imbalance_permille
       |FROM ranked""".stripMargin
  }

  // ------------------------------------------------- dynamic oracles
  //
  // The IVF family was rows-only ("k-means has no SQL oracle") — but
  // the TRAINED model is deterministic and session-memoized, so the
  // pca_topk literal pattern applies: Verify generates these at dump
  // time, inlining the SAME centroids that produced the parquet as a
  // DOUBLE[][] literal, and DuckDB independently replays assignment
  // (argmin with ties to the lower cluster id), probe selection, and
  // the probed top-k. Every float element widens to its exact double,
  // and every ordering mirrors the engine's tie-break column-for-column.

  /** Centroid matrix as a DuckDB DOUBLE[][] literal. Float→Double
    * widening is exact, and Double.toString round-trips, so the SQL
    * literal carries the trained floats bit-exactly.
    */
  private def centroidLiteral(cs: Array[Array[Float]]): String =
    cs.map(_.map(_.toDouble.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Shared assignment CTEs: `cents` (the literal) + `asg`
    * (vec_id → cluster id by L2 argmin, ties to the lower cid —
    * exactly [[assignJoin]]'s min(struct(dist, cid)) contract; the
    * winning distance rides along for residual-based consumers).
    */
  private[operators] def assignCtes(cents: Array[Array[Float]]): String = {
    val k = cents.length
    s"""cents AS (SELECT CAST(${centroidLiteral(cents)} AS DOUBLE[][]) AS cv),
       |asg AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT e.vec_id, t.j AS cid,
       |      list_distance(CAST(e.embedding AS DOUBLE[]), cv[t.j + 1]) AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_distance(CAST(e.embedding AS DOUBLE[]), cv[t.j + 1]), t.j) AS rn
       |    FROM embeddings e, cents, UNNEST(range(0, $k)) t(j)) x
       |  WHERE rn = 1)""".stripMargin
  }

  /** A6 oracle: the assignment table itself. */
  def ivfBuildOracleSql(spark: SparkSession, dir: String): String = {
    val (_, cents) = indexFor(spark, dir)
    s"""WITH ${assignCtes(cents)}
       |SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id
       |FROM asg ORDER BY vec_id""".stripMargin
  }

  /** A14 oracle: per-list histogram over the replayed assignment. */
  def indexStatsOracleSql(spark: SparkSession, dir: String): String = {
    val (_, cents) = indexFor(spark, dir)
    val n = Tables.embeddingsCount(spark, dir)
    s"""WITH ${assignCtes(cents)}
       |SELECT CAST(cid AS INTEGER) AS cluster_id,
       |  count(*) AS list_size,
       |  count(*) / CAST($n AS DOUBLE) AS corpus_frac
       |FROM asg GROUP BY 1 ORDER BY cluster_id""".stripMargin
  }

  /** A7b oracle: nprobe-limited serving replayed end-to-end — per-query
    * probe ranking over the centroid literal (L2, ties to the lower
    * cid, exactly [[probeSelect]]'s topKByDistance contract), candidate
    * set = corpus vectors assigned to a probed list, exact top-k within
    * it ((dist, id) tie-break = topKByDistance in [[probedTopK]]).
    */
  def ivfQueryNprobeOracleSql(spark: SparkSession, dir: String,
                              nQueries: Int = 5, k: Int = 10): String = {
    val (_, cents) = indexFor(spark, dir)
    val nc = cents.length
    val np = math.max(1, nc / 4)
    s"""WITH ${assignCtes(cents)},
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_distance(CAST(q.embedding AS DOUBLE[]), cv[t.j + 1]), t.j) AS crn
       |    FROM embeddings q, cents, UNNEST(range(0, $nc)) t(j)
       |    WHERE q.vec_id < $nQueries) x
       |  WHERE crn <= $np),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_distance(CAST(qe.embedding AS DOUBLE[]),
       |                  CAST(ce.embedding AS DOUBLE[])) AS dist
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN embeddings ce ON ce.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
       |  FROM cand) x
       |WHERE rnk <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** E6b oracle: the batch-ANN serving configuration (cosine,
    * nprobe = k/4) replayed the same way. The engine orders by
    * cosineDistance = 1.0 − a·b/(|a||b|); the oracle orders by the
    * SAME computed double (`1.0 − list_cosine_similarity`), not by
    * similarity DESC — near-zero similarities collapse to dist 1.0
    * under the subtraction, and only the identical expression
    * reproduces the engine's (dist, id) tie-break there.
    */
  /** Pair-distance SQL template for the l2 family's oracles (two
    * `embeddings`-aliased sides, `%s` placeholders): the literally
    * identical double expression the engine's distCol computes —
    * cosine orders by `1.0 − list_cosine_similarity` (never
    * `similarity DESC`: near-zero sims collapse under the
    * subtraction), l2 by `list_distance` (DuckDB's sequential double
    * fold is bit-identical to the l2Distance kernel).
    */
  private[operators] def pairDistSqlTemplate(metric: Int): String = metric match {
    case VectorMetric.Cosine =>
      // The engine pins dist = 1.0 on a zero-norm row (VectorDistance's
      // norms==0 branch) where raw list_cosine_similarity yields NaN
      // (0/0); the isnan guard makes the replay agree even OFF the
      // A15d zero_vec contract instead of diverging exactly where the
      // input is bad. The ELSE branch is the literally identical
      // double, so on-contract values (and the hash) are unchanged;
      // DuckDB's CSE folds the repeated similarity call.
      "(CASE WHEN coalesce(isnan(list_cosine_similarity(CAST(%1$s.embedding AS DOUBLE[]), CAST(%2$s.embedding AS DOUBLE[]))), true) THEN 1.0 ELSE 1.0 - list_cosine_similarity(CAST(%1$s.embedding AS DOUBLE[]), CAST(%2$s.embedding AS DOUBLE[])) END)"
    case VectorMetric.L2 =>
      "list_distance(CAST(%s.embedding AS DOUBLE[]), CAST(%s.embedding AS DOUBLE[]))"
    case VectorMetric.Dot =>
      // negated inner product: ascending dist ranks by descending q·c,
      // the same double fold distCol's -dotProduct computes
      "-list_inner_product(CAST(%s.embedding AS DOUBLE[]), CAST(%s.embedding AS DOUBLE[]))"
    case other => sys.error(s"no pair-distance SQL template for metric $other")
  }

  /** Probe-ranking SQL expr against the `cents` literal (`q` aliased
    * query row, `t.j` the centroid ordinal) — distCol under the query
    * metric against the L2-representation centroids, the probeSelect
    * twin.
    */
  private[operators] def probeDistSqlExpr(metric: Int): String = metric match {
    case VectorMetric.Cosine =>
      "1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), cv[t.j + 1])"
    case VectorMetric.L2 =>
      "list_distance(CAST(q.embedding AS DOUBLE[]), cv[t.j + 1])"
    case VectorMetric.Dot =>
      "-list_inner_product(CAST(q.embedding AS DOUBLE[]), cv[t.j + 1])"
    case other => sys.error(s"no probe-distance SQL expr for metric $other")
  }

  def annBatchNprobeOracleSql(spark: SparkSession, dir: String,
                              k: Int = 5,
                              nprobeOpt: Option[Int] = None,
                              metric: Int = VectorMetric.Cosine): String = {
    val (_, cents) = indexFor(spark, dir)
    val nc = cents.length
    val np = nprobeOpt.getOrElse(math.max(1, nc / 4))
    s"""WITH ${assignCtes(cents)},
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${probeDistSqlExpr(metric)}, t.j) AS crn
       |    FROM embeddings q, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE crn <= $np),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${pairDistSqlTemplate(metric).format("qe", "ce")} AS dist
       |  FROM probes p
       |  JOIN asg a ON a.cid = p.cid
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN embeddings ce ON ce.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
       |  FROM cand) x
       |WHERE rnk <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- E38

  /** E38: embedding outlier detection — each vector's residual to its
    * assigned coarse centroid, flagged when it exceeds 2× its CLUSTER's
    * mean residual (the standard k-means-residual screen for mislabeled
    * / corrupted / off-distribution embeddings before they pollute a
    * training set or an ANN index; FAISS calls these "out-of-
    * distribution" points in its index-health checks).
    *
    * Scale shape: one broadcast centroid join (the session IVF memo —
    * no new k-means), one k-row aggregate, one broadcast join back —
    * the corpus is scanned once and never pairwise. Cross-engine
    * exactness: the residual quantizes to a BIGINT (floor, half-mode-
    * free) BEFORE the per-cluster aggregation, so the cluster sums are
    * integer — order-independent across partitions and engines — and
    * the outlier test `dist_q · n > 2 · sum_q` is exact integer
    * arithmetic, never a double mean.
    *
    * DuckDB-version sensitivity (known, accepted): `floor(l2 * 1e6)`
    * is bit-identical between Spark's VectorDistance and DuckDB's
    * list_distance only while BOTH fold the squared-difference sum in
    * the same sequential double order. A DuckDB upgrade that switches
    * list_distance to pairwise/SIMD summation could move a residual by
    * 1 ulp across a floor boundary and flip dist_q — unlike the
    * ranking-only consumers (A1-A8, E6) where ulp noise is absorbed
    * by the distance ORDER BY unless two candidates tie exactly. If a
    * future DuckDB breaks the gate, re-derive dist_q from integer-
    * quantized vector COMPONENTS (quantize before the distance) — the
    * screen's semantics don't care about the 1e-6 grid's provenance.
    */
  /** The per-vector integer-quantized residual table (vec_id,
    * cluster_id, dist_q) over the session index — dist_q =
    * floor(l2·1e6) as BIGINT, quantized BEFORE any aggregation so
    * every downstream sum is order-independent integer arithmetic.
    * The ONE definition shared by E38's outlier screen and A25's
    * drift report (the shared-seam pattern: two health reports over
    * the same residual cannot drift on the quantization grid).
    */
  private[operators] def residualsQ(spark: SparkSession, dir: String): DataFrame = {
    val (assign, cents) = indexFor(spark, dir)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cdf = centroidDf(spark, cents)
    vecs.join(assign.select("id", "cluster_id"), "id")
      .join(broadcast(cdf), col("cluster_id") === col("cid"))
      .select(col("id").as("vec_id"), col("cluster_id"),
        floor(VectorFunctions.l2Distance(col("vec"), col("cvec")) * lit(1e6))
          .cast("long").as("dist_q"))
  }

  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = residualsQ(spark, dir)
    val stats = d.groupBy("cluster_id")
      .agg(sum(col("dist_q")).as("sum_q"), count(lit(1)).as("n"))
    d.join(broadcast(stats), "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("dist_q"),
        (col("dist_q") * col("n") > col("sum_q") * lit(2L)).cast("long").as("is_outlier"))
      .orderBy("vec_id")
  }

  /** E38 oracle: assignment + residual replayed over the centroid
    * literal (asg carries the winning distance), same integer
    * quantize-then-aggregate arithmetic.
    */
  def embeddingOutliersOracleSql(spark: SparkSession, dir: String): String = {
    val (_, cents) = indexFor(spark, dir)
    s"""WITH ${assignCtes(cents)},
       |d AS (
       |  SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id,
       |    CAST(floor(dist * 1e6) AS BIGINT) AS dist_q
       |  FROM asg),
       |stats AS (
       |  SELECT cluster_id, CAST(sum(dist_q) AS BIGINT) AS sum_q,
       |    count(*) AS n
       |  FROM d GROUP BY 1)
       |SELECT vec_id, cluster_id, dist_q,
       |  CAST(dist_q * n > sum_q * 2 AS BIGINT) AS is_outlier
       |FROM d JOIN stats USING (cluster_id)
       |ORDER BY vec_id""".stripMargin
  }

  /** Exact all-pairs stream in the cluster layout: every (query,
    * corpus vector) co-occurrence under probe-all, produced by the
    * cluster_id shuffle join — the no-broadcast twin of a corpus
    * self-cross-join. Columns: (query_id, qvec, neighbor_id, vec).
    * With nprobe < nClusters it degrades gracefully to "pairs whose
    * corpus vector lies in a probed cluster" (the approximate path).
    */
  def pairStream(spark: SparkSession, dir: String,
                 nprobeOpt: Option[Int] = None): DataFrame = {
    val vecs = Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val nClusters = defaultK(Tables.embeddingsCount(spark, dir))
    val (assign, centroids) = buildIndex(spark, dir, nClusters)
    val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    val probes = probeSelect(queries, centroids, nprobeOpt.getOrElse(nClusters),
      hier = hierarchyFor(dir, nClusters, VectorMetric.L2))
    invertedLists(vecs, assign)
      .join(probes, col("cluster_id") === col("probe_cluster"))
      .select(col("query_id"), col("qvec"), col("neighbor_id"), col("vec"))
  }

  /** E6's engine: batch ANN over the IVF layout — every query vector
    * probes its nprobe nearest lists and takes an exact top-k within
    * them. The probe set is corpus-sized, so it shuffle-joins the lists
    * on cluster_id (never broadcast); with nprobe = all lists the result
    * is exact (the driver-checked configuration), with nprobe ≪ k it is
    * the at-scale approximate path.
    */
  def annBatch(spark: SparkSession, dir: String, k: Int, metric: Int,
               nprobeOpt: Option[Int] = None): DataFrame = {
    val vecs = Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val nClusters = defaultK(Tables.embeddingsCount(spark, dir))
    val (assign, centroids) = buildIndex(spark, dir, nClusters)
    val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    // L2-representation index (buildIndex default) — see ivfQuery note
    val probes = probeSelect(queries, centroids, nprobeOpt.getOrElse(nClusters), metric,
      hier = hierarchyFor(dir, nClusters, VectorMetric.L2))
    probedTopK(invertedLists(vecs, assign), probes, k, metric,
      pairFilter = col("neighbor_id") =!= col("query_id"),
      broadcastProbes = false)
      .orderBy("query_id", "rank")
  }

  /** E6d's engine: hard-negative mining — for every labeled vector, the
    * top-k nearest neighbors whose label DIFFERS (the contrastive-
    * training batch construction: semantically-close, differently-
    * labeled pairs are the negatives that actually move a metric-
    * learning loss; random negatives are trivially separable).
    *
    * Same skeleton as [[annBatch]] (probe set shuffle-joins the
    * inverted lists on cluster_id — both sides corpus-sized, never
    * broadcast); the label inequality rides the pair filter BEFORE the
    * bounded top-k aggregate, so same-label pairs die in the codegen'd
    * scan and never occupy shortlist slots. The query's own label rides
    * the probe aggregate (probeSelect `carry`) and the neighbor's rides
    * the inverted-list build — no extra shuffle versus plain batch ANN.
    * Probe-all = exact (the oracle configuration); nprobe ≪ k is the
    * 100 TB serving shape, same trade as E6/E6b.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int, metric: Int,
                    nprobeOpt: Option[Int] = None): DataFrame = {
    val labeled = Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label")))
    val nClusters = defaultK(Tables.embeddingsCount(spark, dir))
    val (assign, centroids) = buildIndex(spark, dir, nClusters)
    val queries = labeled.select(col("id").as("query_id"),
      col("vec").as("qvec"), col("label").as("qlabel"))
    // L2-representation index (buildIndex default) — see ivfQuery note
    val probes = probeSelect(queries, centroids, nprobeOpt.getOrElse(nClusters),
      metric, carry = Seq("qlabel"),
      hier = hierarchyFor(dir, nClusters, VectorMetric.L2))
    val lists = labeled.join(assign, "id")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"),
        col("label").as("nlabel"))
    probedTopK(lists, probes, k, metric,
      pairFilter = col("nlabel") =!= col("qlabel"),
      broadcastProbes = false)
      .orderBy("query_id", "rank")
  }
}
