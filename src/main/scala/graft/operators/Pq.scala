package graft.operators

import graft.{Memo, Tables}
import graft.functions.{PqFunctions, VectorFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the memory-compression path a 100 TB
  * embedding corpus actually requires (the FAISS IVF-PQ design; the
  * reference's IVFIndex keeps raw float vectors in its inverted lists,
  * which at 100 TB cannot be held or scanned economically).
  *
  * The vector space is split into M subspaces; each subspace gets its
  * own 256-centroid codebook (driver-local Lloyd on a bounded sample,
  * shared trainer with the IVF coarse quantizer); every vector encodes
  * to M one-byte codes stored as ONE BINARY VALUE — a 64-dim float32
  * vector (256 B) becomes 8 B, and the 32× budget holds in cache and
  * shuffle, not just on disk. Queries run Asymmetric Distance
  * Computation: one M×256 lookup table per query (exact
  * query-to-centroid distances), then each candidate's distance is M
  * table lookups + adds, no float vector ever touched.
  *
  * Metric contract (the reference plumbs its metric into every index,
  * app/indexes/base.py:207-219, ivf.py:158-183): every path here —
  * point ADC, IVF-PQ, persisted IVF-PQ, SDC batch — takes the metric.
  * Cosine routes through the normalize-then-L2 identity on a
  * normalized-corpus model (coarse quantizer, codebooks and codes all
  * train on unit vectors — Ivf.metricCorpus); Dot builds
  * inner-product ADC/SDC tables over the L2-trained codebooks
  * (negated partial dots, no sqrt).
  *
  * Scale shape: the codebook is KBs (a codegen reference object);
  * encoding is a PURE MAP (the PqEncode expression — no codebook join,
  * no shuffle); the ADC scan is a narrow codegen'd map over the code
  * table with a bounded top-k. At 100 TB the encoded table is what
  * sits in storage (optionally inside the IVF cluster layout — IVF-PQ —
  * so probes prune partitions AND read 32× fewer bytes).
  *
  * Two code families:
  *   - FLAT (raw-vector) codes serve pq_topk and the SDC batch paths —
  *     one model shared across metrics per representation.
  *   - RESIDUAL codes (x − coarse_centroid(x), the FAISS-standard
  *     IVF-PQ composition) back both IVF layouts — in-session
  *     [[ivfPqTopK]] and the persisted [[writeIvfPq]] tree: the shared
  *     codebooks only cover within-cluster displacements, which buys
  *     recall at the same M-byte budget and grows with the coarse
  *     grid's fineness (√(N/2) lists at 100 TB). Queries rank through
  *     per-probed-cluster ADC tables (the AdcDistanceMulti kernel —
  *     one scan, nprobe tables as one reference object).
  *
  * Approximate by construction (quantization error), so the driver
  * keys are rows-only; PqSpec pins recall vs exact k-NN per metric,
  * encoding bounds, and train determinism.
  */
object Pq {

  val SubspaceCount = 8
  val CodebookSize = 256
  /** Sample budget for codebook training (FAISS-style bounded train). */
  val TrainSampleCap = 65536L

  /** codebooks(m)(code) = sub-centroid vector of length subDim.
    * `rotation` is the learned OPQ matrix when present: vectors rotate
    * (x → Rx) BEFORE subspace split/encode, queries rotate before the
    * ADC table — the refine re-rank stays on raw vectors (rotation
    * preserves l2/cosine exactly, so the true-metric re-rank is
    * rotation-agnostic).
    */
  case class Model(dim: Int, m: Int, subDim: Int,
                   codebooks: Array[Array[Array[Float]]],
                   rotation: Option[Array[Array[Double]]] = None)

  /** Session memo: ONE persisted tuned tree per corpus dir (the
    * `ivfpq_topk_tuned` substrate) — the key line then measures tuned
    * SERVING, not a tree persist per bench pass (the memo-attribution
    * discipline Bench's warmers exist for). A temp tree (Memo.tree):
    * it lives for the session, and a data change drops and deletes it.
    */
  private[graft] def tunedTree(spark: SparkSession, dir: String): String =
    Memo.tree(dir, "pq.tunedTree") { p =>
      writeIvfPq(spark, dir, p)
      Autotune.writeAutotune(spark, dir, p, floor = TunedFloor,
        tierSet = Some(Autotune.PqFamilyTiers))
    }

  /** Metric-transformed corpus — one definition for the whole
    * quantization family (Ivf.metricCorpus), so the coarse index and
    * the codebooks always train on the same representation.
    */
  private def corpus(spark: SparkSession, dir: String,
                     metric: Int = VectorMetric.L2): DataFrame =
    Ivf.metricCorpus(spark, dir, metric)

  /** Metric-transform a single query vector (driver-side twin of
    * metricCorpus: cosine normalizes, zero-norm stays as-is).
    */
  private[operators] def metricQuery(q: Array[Float], metric: Int): Array[Float] =
    if (metric != VectorMetric.Cosine) q
    else {
      val n = math.sqrt(q.map(x => x.toDouble * x).sum)
      if (n == 0.0) q else q.map(x => (x / n).toFloat)
    }

  /** Bounded deterministic training sample, collected to the driver
    * (the shared quantizer-training budget — ceiling-division modulus
    * plus an orderBy.limit TakeOrdered so the collect stays bounded at
    * any corpus size; floor(n/cap) kept up to ~2× the cap).
    */
  private def trainSample(spark: SparkSession, dir: String, metric: Int,
                          cap: Long): Array[Array[Float]] = {
    val vecs = corpus(spark, dir, metric)
    val n = vecs.count()
    require(n > 0, "cannot train a product quantizer on an empty corpus")
    val sampled =
      if (n <= cap) vecs
      else vecs.filter(
        pmod(xxhash64(col("id")), lit((n + cap - 1) / cap)) === 0)
    sampled.select(col("id"), col("vec"))
      .orderBy("id").limit(cap.toInt)
      .collect().map(_.getSeq[Float](1).toArray)
  }

  /** Train M per-subspace codebooks over (possibly rotated) sample rows. */
  private def trainCodebooks(train: Array[Array[Float]], m: Int,
                             iters: Int = 10): Array[Array[Array[Float]]] = {
    val dim = train(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    (0 until m).map { mi =>
      val sub = train.map(_.slice(mi * subDim, (mi + 1) * subDim))
      Ivf.lloyd(sub, math.min(CodebookSize, sub.length), iters, tol = 1e-4)
    }.toArray
  }

  /** Train M per-subspace codebooks on a deterministic hash-sample.
    * Memo-keyed on the corpus REPRESENTATION (Ivf.repr): dot shares the
    * raw corpus — and so the model and codes — with l2; only the
    * ADC/SDC tables differ per query metric.
    */
  def train(spark: SparkSession, dir: String,
            m: Int = SubspaceCount, metric: Int = VectorMetric.L2): Model =
    Memo(dir, "pq.model", (m, Ivf.repr(metric), false))(
      pqFromSample(trainSample(spark, dir, metric, TrainSampleCap), m))

  /** Plain-PQ model from a collected training sample (shared by the
    * dir-memoized [[train]] and the from-frame rebuild path).
    */
  private def pqFromSample(train: Array[Array[Float]], m: Int): Model = {
    val dim = train(0).length
    Model(dim, m, dim / m, trainCodebooks(train, m))
  }

  /** Bounded deterministic sample of an arbitrary metric-transformed
    * (id, vec) frame — [[trainSample]] without the dir-keyed corpus
    * (the rebuild path trains on the index's CURRENT contents, which
    * are not a testdata dir).
    */
  private def sampleFrom(vecs: DataFrame, cap: Long): Array[Array[Float]] = {
    val n = vecs.count()
    require(n > 0, "cannot train a product quantizer on an empty corpus")
    val sampled =
      if (n <= cap) vecs
      else vecs.filter(
        pmod(xxhash64(col("id")), lit((n + cap - 1) / cap)) === 0)
    sampled.select(col("id"), col("vec"))
      .orderBy("id").limit(cap.toInt)
      .collect().map(_.getSeq[Float](1).toArray)
  }

  /** Train a model over an arbitrary metric-transformed (id, vec)
    * frame — the lifecycle REBUILD path. Same sample budgets and
    * Lloyd/OPQ machinery as the memoized trainers; nothing is cached
    * (the contents are a moving target by definition).
    */
  private[operators] def trainFrom(vecs: DataFrame, m: Int, opq: Boolean): Model =
    if (opq) opqFromSample(sampleFrom(vecs, OpqTrainSampleCap), m)
    else pqFromSample(sampleFrom(vecs, TrainSampleCap), m)

  // ------------------------------------------------ residual family
  //
  // FAISS-standard IVF-PQ encodes the RESIDUAL x − centroid(x), not the
  // raw vector: one shared codebook set trained on residuals, whose
  // 256 centroids per subspace then only have to cover the (much
  // tighter) within-cluster displacement distribution — materially
  // better recall at the same M-byte budget, and the advantage grows
  // with the coarse grid (√(N/2) clusters at 100 TB is very fine, so
  // residual norms shrink as the corpus grows). The flat-PQ family
  // above stays raw-vector (pq_topk / SDC batch share one model across
  // metrics by design); the IVF layouts — in-session ivfPqTopK and the
  // persisted writeIvfPq tree — serve residual codes.
  // Reference contract: app/indexes/ivf.py:158-183 (the coarse
  // quantizer + per-list storage this composes PQ into).

  /** Subtract each sample vector's nearest centroid (same widen-then-
    * subtract squared-L2 argmin and lower-cid tie-break as the
    * engine's assignment) — the residual training input.
    */
  private def residualize(sample: Array[Array[Float]],
                          centroids: Array[Array[Float]]): Array[Array[Float]] =
    sample.map { v =>
      val c = centroids(probeIds(centroids, v, 1, VectorMetric.L2).head)
      Array.tabulate(v.length)(i => (v(i).toDouble - c(i)).toFloat)
    }

  /** Residual codebooks for a corpus dir: the shared coarse quantizer's
    * centroids (Ivf.indexFor — the SAME index the probes run against)
    * subtracted from the bounded training sample, then the plain/OPQ
    * trainer. For OPQ the rotation learns ON residuals (the
    * standard composition: rotate the residual, then split).
    */
  def trainResidual(spark: SparkSession, dir: String,
                    m: Int = SubspaceCount, metric: Int = VectorMetric.L2,
                    opq: Boolean = false): Model =
    // the RESIDUAL family (x − coarse_centroid(x) before encode — the
    // FAISS-standard IVF-PQ composition) is memoized apart from the
    // flat family: same params, different training input
    Memo(dir, "pq.residualModel", (m, Ivf.repr(metric), opq)) {
      val (_, cents) = Ivf.indexFor(spark, dir, metric)
      val cap = if (opq) OpqTrainSampleCap else TrainSampleCap
      val sample = residualize(trainSample(spark, dir, metric, cap), cents)
      if (opq) opqFromSample(sample, m) else pqFromSample(sample, m)
    }

  /** Residual model over an arbitrary metric-transformed (id, vec)
    * frame against GIVEN centroids — the rebuild path's trainer.
    */
  private[operators] def trainResidualFrom(vecs: DataFrame,
                                           centroids: Array[Array[Float]],
                                           m: Int, opq: Boolean): Model = {
    val cap = if (opq) OpqTrainSampleCap else TrainSampleCap
    val sample = residualize(sampleFrom(vecs, cap), centroids)
    if (opq) opqFromSample(sample, m) else pqFromSample(sample, m)
  }

  /** Residual-encode an ASSIGNED (cluster_id, id, vec) frame: residual
    * in exact doubles via the VectorCombine kernel against a broadcast
    * double-centroid table, optional OPQ rotation, then the same
    * codegen'd PqEncode — still a shuffle-free map after the one
    * broadcast join.
    */
  /** (cluster_id, cvec: array<double>) centroid table — the ONE
    * construction behind every residual-arithmetic consumer
    * (encodeResidualWith, the A24 pqr tier), so the widening rule can
    * never diverge between the encode and a reconstruction.
    */
  private[operators] def centroidDoubleDf(spark: SparkSession,
                                          centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.map(_.toDouble).toSeq) }.toSeq
      .toDF("cluster_id", "cvec")
  }

  private[operators] def encodeResidualWith(vecs: DataFrame,
                                            centroids: Array[Array[Float]],
                                            model: Model): DataFrame = {
    val spark = vecs.sparkSession
    val cdf = centroidDoubleDf(spark, centroids)
    val res = VectorFunctions.vectorSub(col("vec"), col("cvec"))
    val input = model.rotation match {
      case Some(r) => graft.functions.RotateFunctions.rotateVector(res, r)
      case None => res
    }
    vecs.join(broadcast(cdf), "cluster_id")
      .select(col("cluster_id"), col("id"),
        PqFunctions.pqEncode(input, model.codebooks).as("codes"))
  }

  /** Residual codes for the corpus: (cluster_id, id, codes), memoized
    * per representation like [[encode]]. Carries the cluster id — a
    * residual code is meaningless without the centroid it offsets.
    */
  def encodeResidual(spark: SparkSession, dir: String,
                     m: Int = SubspaceCount, metric: Int = VectorMetric.L2,
                     opq: Boolean = false): DataFrame =
    Memo(dir, "pq.residualCodes", (m, Ivf.repr(metric), opq)) {
      val (assign, cents) = Ivf.indexFor(spark, dir, metric)
      val model = trainResidual(spark, dir, m, metric, opq)
      Memo.cached(encodeResidualWith(
        corpus(spark, dir, metric).join(assign.select("id", "cluster_id"), "id"),
        cents, model))
    }

  /** OPQ alternating-minimization budget: the rotation learns on a
    * smaller sample (the d×d Procrustes statistics saturate long before
    * the codebook budget) over a few alternations.
    */
  val OpqTrainSampleCap = 16384L
  val OpqIters = 8

  /** Learned OPQ rotation + codebooks (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the non-parametric variant):
    * alternately (a) re-train codebooks and codes for the CURRENT
    * rotation, and (b) solve the orthogonal Procrustes problem
    * min_R ‖R·x − y‖ over the sample's (input, reconstruction) pairs —
    * R = V·Uᵀ from the SVD of the cross-covariance Σ xᵢyᵢᵀ = U·S·Vᵀ.
    * Initialized at the IDENTITY rotation, so the very first
    * alternation IS plain PQ and every later step weakly decreases the
    * same reconstruction objective — the learned model never does
    * worse than unrotated PQ on the training objective (RotateSpec
    * pins this and the recall consequence). Deterministic end to end
    * (hash-sample, seeded Lloyd, SVD of a fixed matrix).
    */
  def trainOpq(spark: SparkSession, dir: String,
               m: Int = SubspaceCount, metric: Int = VectorMetric.L2): Model =
    Memo(dir, "pq.model", (m, Ivf.repr(metric), true))(
      opqFromSample(trainSample(spark, dir, metric, OpqTrainSampleCap), m))

  /** OPQ model from a collected training sample (shared by the
    * dir-memoized [[trainOpq]] and the from-frame rebuild path).
    */
  private def opqFromSample(sample: Array[Array[Float]], m: Int): Model = {
        val dim = sample(0).length
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        val subDim = dim / m
        var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
        var codebooks: Array[Array[Array[Float]]] = null
        var it = 0
        while (it < OpqIters) {
          val rotated = sample.map(applyRotation(r, _))
          codebooks = trainCodebooks(rotated, m, iters = 4)
          // reconstruction of each rotated sample vector from its codes
          val recon = rotated.map { v =>
            val y = new Array[Double](dim)
            var mi = 0
            while (mi < m) {
              val cb = codebooks(mi)
              var best = 0; var bestD = Double.MaxValue
              var c = 0
              while (c < cb.length) {
                var acc = 0.0; var p = 0
                while (p < subDim) { val d = v(mi * subDim + p) - cb(c)(p); acc += d * d; p += 1 }
                if (acc < bestD) { bestD = acc; best = c }
                c += 1
              }
              var p = 0
              while (p < subDim) { y(mi * subDim + p) = cb(best)(p); p += 1 }
              mi += 1
            }
            y
          }
          // Procrustes: maximize tr(R·C), C = Σ xᵢ·yᵢᵀ (x = ORIGINAL
          // sample, y = reconstruction in rotated space) ⇒ R = V·Uᵀ
          val c = Array.ofDim[Double](dim, dim)
          var s = 0
          while (s < sample.length) {
            val x = sample(s); val y = recon(s)
            var i = 0
            while (i < dim) {
              val xi = x(i).toDouble
              var j = 0
              while (j < dim) { c(i)(j) += xi * y(j); j += 1 }
              i += 1
            }
            s += 1
          }
          val cm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => c(i)(j))
          val sv = breeze.linalg.svd(cm)
          val rm = sv.Vt.t * sv.U.t
          r = Array.tabulate(dim, dim)((i, j) => rm(i, j))
          it += 1
        }
        // final full-budget codebook pass under the converged rotation
        val finalBooks = trainCodebooks(sample.map(applyRotation(r, _)), m, iters = 10)
        Model(dim, m, subDim, finalBooks, rotation = Some(r))
  }

  /** Driver-side rotation (the RotateVector kernel's twin for training). */
  private def applyRotation(r: Array[Array[Double]], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](r.length)
    var i = 0
    while (i < r.length) {
      val row = r(i)
      var acc = 0.0; var j = 0
      while (j < row.length) { acc += row(j) * v(j); j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    out
  }

  /** Encode an arbitrary (id, vec) frame against a trained model:
    * (id, codes binary). A pure map — the PqEncode expression runs the
    * per-subspace argmin inside whole-stage codegen with the codebooks
    * as a reference object, so encoding needs NO shuffle (the previous
    * codebook-crossJoin formulation shuffled O(n·M) rows twice); an
    * OPQ model composes the RotateVector kernel in front, still one
    * codegen'd map. The lifecycle append path reuses this against
    * frozen codebooks.
    */
  private[operators] def encodeWith(vecs: DataFrame, model: Model): DataFrame = {
    val v = model.rotation match {
      case Some(r) => graft.functions.RotateFunctions.rotateVector(col("vec"), r)
      case None => col("vec")
    }
    vecs.select(col("id"), PqFunctions.pqEncode(v, model.codebooks).as("codes"))
  }

  /** Encode the corpus: (id, codes binary of length M), memoized per
    * representation (dot shares the l2 codes — see [[train]]).
    */
  def encode(spark: SparkSession, dir: String,
             m: Int = SubspaceCount, metric: Int = VectorMetric.L2,
             opq: Boolean = false): DataFrame =
    Memo(dir, "pq.codes", (m, Ivf.repr(metric), opq)) {
      val model = if (opq) trainOpq(spark, dir, m, metric)
                  else train(spark, dir, m, metric)
      Memo.cached(encodeWith(corpus(spark, dir, metric), model))
    }

  /** Per-query ADC table under a metric: table(m)(c) is subspace m's
    * exact query-to-centroid contribution — squared l2 for the l2
    * family (cosine arrives pre-normalized), NEGATED partial dot for
    * dot (so the ascending sum ranks by descending inner product).
    */
  private def adcTable(codebooks: Array[Array[Array[Float]]], q0: Array[Float],
                       metric: Int): Array[Array[Double]] = {
    val subDim = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, mi) =>
      val q = q0.slice(mi * subDim, (mi + 1) * subDim)
      cb.map { c =>
        var acc = 0.0; var i = 0
        if (metric == VectorMetric.Dot) {
          while (i < q.length) { acc += q(i).toDouble * c(i); i += 1 }
          -acc
        } else {
          while (i < q.length) { val d = q(i) - c(i); acc += d * d; i += 1 }
          acc
        }
      }
    }
  }

  /** [[adcTable]] over a DOUBLE query (the residual path: residuals are
    * exact doubles end-to-end, so the table cells are pure double
    * arithmetic a DuckDB literal replays exactly).
    */
  private def adcTableD(codebooks: Array[Array[Array[Float]]], q0: Array[Double],
                        metric: Int): Array[Array[Double]] = {
    val subDim = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, mi) =>
      cb.map { c =>
        var acc = 0.0; var i = 0
        if (metric == VectorMetric.Dot) {
          while (i < c.length) { acc += q0(mi * subDim + i) * c(i); i += 1 }
          -acc
        } else {
          while (i < c.length) { val d = q0(mi * subDim + i) - c(i); acc += d * d; i += 1 }
          acc
        }
      }
    }
  }

  /** Driver-side rotation in full double precision (the residual query
    * side needs no storage rounding — tables are exact driver math).
    */
  private def rotateDouble(r: Array[Array[Double]], v: Array[Double]): Array[Double] =
    Array.tabulate(r.length) { i =>
      val row = r(i)
      var acc = 0.0; var j = 0
      while (j < row.length) { acc += row(j) * v(j); j += 1 }
      acc
    }

  /** Per-cluster residual ADC tables for the probed list, in probe
    * order (the [[graft.functions.AdcDistanceMulti]] reference object).
    * L2/cosine: table_c = ADC of R·(q − centroid_c) against the
    * residual codebooks (‖q − (c + R⁻¹û)‖ = ‖R(q−c) − û‖ for an
    * orthonormal R). Dot: x̂ = c + R⁻¹û ⇒ q·x̂ = q·c + (Rq)·û, so the
    * tables are inner-product cells over the ROTATED RAW query with
    * the per-cluster constant −q·c folded into subspace 0's entries.
    */
  private[operators] def residualAdcTables(centroids: Array[Array[Float]],
                                           probed: Seq[Int],
                                           codebooks: Array[Array[Array[Float]]],
                                           rotation: Option[Array[Array[Double]]],
                                           q0: Array[Float],
                                           metric: Int): Array[Array[Array[Double]]] =
    if (metric == VectorMetric.Dot) {
      // the rotated query and the base inner-product table are
      // cluster-INDEPENDENT for dot (x̂ = c + R⁻¹û factors the per-
      // cluster part into the scalar −q·c); only subspace 0's shift
      // differs per probed list, so the O(M·256·subDim) table builds
      // once, not nprobe times
      val qd = q0.map(_.toDouble)
      val qr = rotation.map(rotateDouble(_, qd)).getOrElse(qd)
      val t = adcTableD(codebooks, qr, metric)
      probed.map { cid =>
        val cent = centroids(cid)
        var qc = 0.0; var i = 0
        while (i < q0.length) { qc += q0(i).toDouble * cent(i); i += 1 }
        Array.tabulate(t.length)(mi => if (mi == 0) t(0).map(_ - qc) else t(mi))
      }.toArray
    } else {
      probed.map { cid =>
        val cent = centroids(cid)
        val qres = Array.tabulate(q0.length)(i => q0(i).toDouble - cent(i))
        val qr = rotation.map(rotateDouble(_, qres)).getOrElse(qres)
        adcTableD(codebooks, qr, metric)
      }.toArray
    }

  /** Driver-side probe selection over a KB-sized centroid table: the
    * nprobe nearest coarse centroids under the (transformed) query's
    * metric — l2 for the l2 family (cosine queries and centroids are
    * both unit vectors), descending dot for dot.
    */
  private[operators] def probeIds(centroids: Array[Array[Float]], q0: Array[Float],
                                  nprobe: Int, metric: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, j) =>
        var acc = 0.0; var i = 0
        if (metric == VectorMetric.Dot) {
          while (i < c.length) { acc += c(i).toDouble * q0(i); i += 1 }
          (-acc, j)
        } else {
          // widen BEFORE subtracting: the dynamic oracle replays this
          // ranking with DuckDB list_distance over exact double
          // widenings, and a float-rounded difference can flip
          // near-tied centroids (= a different probed candidate set)
          while (i < c.length) { val d = c(i).toDouble - q0(i); acc += d * d; i += 1 }
          (acc, j)
        }
      }
      .sortBy(identity)
      .take(math.min(math.max(1, nprobe), centroids.length))
      .map(_._2).toSeq

  /** THE one ADC implementation — every PQ point-query path (flat ADC,
    * in-session IVF-PQ, persisted IVF-PQ) funnels here so metric
    * handling exists exactly once. The shortlist pass scans only codes
    * (M bytes/candidate, bounded top-k·refine as TakeOrdered); the
    * optional refine re-ranks the shortlist with the TRUE metric
    * distance over raw vectors — k·refine point lookups by id against
    * the primary store ([[refineTail]]) instead of a float-vector scan.
    * `refine <= 1` (or refineWith = None) is pure compressed-domain.
    */
  private def adcCore(codesDf: DataFrame, codebooks: Array[Array[Array[Float]]],
                      rawQuery: Array[Float], k: Int, refine: Int, metric: Int,
                      refineWith: Option[DataFrame],
                      rotation: Option[Array[Array[Double]]] = None): DataFrame = {
    val dim = codebooks.length * codebooks(0)(0).length
    require(rawQuery.length == dim,
      s"query dim ${rawQuery.length} != corpus dim $dim")
    // metric transform first, then the OPQ rotation (codes live in
    // rotated space); the refine below stays on RAW vectors + query
    val q0 = rotation.foldLeft(metricQuery(rawQuery, metric))(
      (q, r) => applyRotation(r, q))
    val table = adcTable(codebooks, q0, metric)
    val adist = PqFunctions.adcDistance(col("codes"), table,
      takeSqrt = metric != VectorMetric.Dot)
    refineTail(shortlistOf(codesDf.select(col("neighbor_id"), adist.as("dist")), k, refine),
      rawQuery, k, refine, metric, refineWith)
  }

  /** The k·refine best (neighbor_id, dist) candidates by (dist, id). */
  private def shortlistOf(cands: DataFrame, k: Int, refine: Int): DataFrame =
    cands.orderBy(col("dist"), col("neighbor_id")).limit(k * math.max(1, refine))

  /** Residual-layout candidates of the `probed` lists as (neighbor_id,
    * dist). A row's probe ordinal — the position of its `cluster_id`
    * in `probed`, which indexes the per-list ADC `tables` — is
    * computed inside the expression, so no ordinal table is joined;
    * rows of other lists are dropped.
    */
  private def residualCandidates(codes: DataFrame, probed: Seq[Int],
                                 tables: Array[Array[Array[Double]]],
                                 metric: Int): DataFrame = {
    val ord = (array_position(typedlit(probed), col("cluster_id")) - 1).cast("int")
    codes.filter(col("cluster_id").isInCollection(probed))
      .select(col("id").as("neighbor_id"), PqFunctions.adcDistanceMulti(ord, col("codes"),
        tables, takeSqrt = metric != VectorMetric.Dot).as("dist"))
  }

  /** The exact-refine tail every compressed point query shares. With a
    * refine source, the (neighbor_id, dist) shortlist's ids are
    * collected (one job) and only those rows of the source are re-read
    * — an id-set filter the scan pushes down, so Parquet skips row
    * groups by id — and re-ranked with the TRUE metric over raw
    * vectors (one more job when the result is collected). Without one,
    * the compressed ranking is served directly. Building the refined
    * frame runs the shortlist job. Ids are unique in an index; a
    * duplicated id is re-ranked once.
    */
  private def refineTail(shortlist: DataFrame, rawQuery: Array[Float],
                         k: Int, refine: Int, metric: Int,
                         refineWith: Option[DataFrame]): DataFrame =
    refineWith match {
      case Some(vecs) if refine > 1 =>
        val ids = shortlist.select(col("neighbor_id")).collect().map(_.get(0))
        val exact = Ivf.distCol(metric, col("vec"), typedlit(rawQuery.toSeq))
        vecs.filter(col("neighbor_id").isInCollection(ids))
          .select(col("neighbor_id"), exact.as("dist"))
          .orderBy(col("dist"), col("neighbor_id"))
          .limit(k)
      case _ => shortlist.limit(k)
    }

  /** Raw (untransformed) corpus as a refine source (neighbor_id, vec):
    * the exact re-rank always runs the true metric on original floats.
    */
  private def refineSource(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vec"))

  /** ADC top-k for one query vector with an exact refine step (the
    * FAISS refine pattern): the ADC pass shortlists `k·refine`
    * candidates from the compressed table alone; only the shortlist
    * joins back to raw vectors for an exact re-rank. `refine = 1` is
    * pure ADC (no raw-vector access at all).
    */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float],
           k: Int, m: Int = SubspaceCount, refine: Int = 4,
           metric: Int = VectorMetric.L2, opq: Boolean = false): DataFrame = {
    val model = if (opq) trainOpq(spark, dir, m, metric)
                else train(spark, dir, m, metric)
    adcCore(
      encode(spark, dir, m, metric, opq).withColumnRenamed("id", "neighbor_id"),
      model.codebooks, queryVec, k, refine, metric,
      refineWith = Some(refineSource(spark, dir)),
      rotation = model.rotation)
  }

  /** IVF-PQ: ADC search INSIDE the IVF cluster layout — the composed
    * 100 TB design. The query selects its nprobe nearest coarse
    * centroids (driver math over the KB-sized centroid table; for
    * cosine the index IS the normalized-corpus variant), the candidate
    * set narrows to those clusters' members via the assignment join
    * (partition pruning when the codes land on disk partitioned by
    * cluster_id), and only then does ADC + exact refine run. Cost per
    * query: nprobe/k of the corpus, at M bytes per candidate instead
    * of 4·dim — pruning and compression multiply.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, queryVec: Array[Float],
                k: Int, nprobe: Int, m: Int = SubspaceCount,
                refine: Int = 4, metric: Int = VectorMetric.L2,
                opq: Boolean = false, residual: Boolean = true): DataFrame = {
    val (assign, centroids) = Ivf.indexFor(spark, dir, metric)
    // coarse probing stays in the ORIGINAL space (the IVF quantizer is
    // trained unrotated; rotation only reshapes the PQ subspaces)
    val probed = probeIds(centroids, metricQuery(queryVec, metric), nprobe, metric)
    if (residual) {
      // FAISS-standard layout: codes are residuals, ranked by the
      // per-cluster-shifted ADC tables (one table per probed list)
      val model = trainResidual(spark, dir, m, metric, opq)
      require(queryVec.length == model.dim,
        s"query dim ${queryVec.length} != corpus dim ${model.dim}")
      val tables = residualAdcTables(centroids, probed, model.codebooks,
        model.rotation, metricQuery(queryVec, metric), metric)
      val shortlist = shortlistOf(residualCandidates(
        encodeResidual(spark, dir, m, metric, opq), probed, tables, metric), k, refine)
      refineTail(shortlist, queryVec, k, refine, metric,
        Some(refineSource(spark, dir)))
    } else {
      val model = if (opq) trainOpq(spark, dir, m, metric)
                  else train(spark, dir, m, metric)
      val cand = assign.filter(col("cluster_id").isInCollection(probed))
        .select("id").join(encode(spark, dir, m, metric, opq), "id")
        .withColumnRenamed("id", "neighbor_id")
      adcCore(cand, model.codebooks, queryVec, k, refine, metric,
        refineWith = Some(refineSource(spark, dir)),
        rotation = model.rotation)
    }
  }

  // ---------------------------------------------------- filtered ANN
  //
  // The reference filters search results against chunk metadata
  // (services/search_service.py:169-197); serving that contract only
  // on the LINEAR path (A4's pre-filter) means every filtered query
  // pays a corpus scan. The compressed twin pushes the predicate
  // INSIDE the probed residual scan — the candidate stream semi-joins
  // the selector (FAISS's IDSelector role) BEFORE the bounded top-k,
  // so non-matching rows never occupy shortlist slots — and handles
  // the selectivity/nprobe interaction explicitly:
  //   - a selective filter thins every probed list by ~f/n, so the
  //     probe set WIDENS by n/f (capped at all lists): the filtered
  //     candidate mass after widening matches the unfiltered mass at
  //     the caller's nprobe, protecting k at the same scan budget the
  //     caller asked for;
  //   - when the filter starves the shortlist outright
  //     (f ≤ k·refine), the compressed scan cannot beat reading the
  //     f survivors directly — serve the exact pre-filter path
  //     (at 100 TB: f point reads against the primary store).

  /** Selector size at or below which filtered serving falls back to
    * the exact pre-filter path: fewer matches than shortlist slots
    * means the ADC pass could not even fill its own re-rank buffer.
    */
  private[operators] def filteredExactMax(k: Int, refine: Int): Long =
    k.toLong * math.max(1, refine)

  /** Widened probe count: ⌈nprobe·n/f⌉ capped to the list count. */
  private[operators] def widenedNprobe(nprobe: Int, n: Long, f: Long,
                                       nLists: Int): Int =
    math.min(nLists.toLong,
      math.max(nprobe.toLong,
        (nprobe.toLong * n + f - 1) / math.max(1L, f))).toInt

  /** Deterministic id-stride for the selector-size ESTIMATE below;
    * `id % stride = 0` replays verbatim in the oracle.
    */
  private[operators] val SelectorSampleStride = 16

  /** Whether the selector starves the shortlist (f ≤ k·refine),
    * decided by a CAPPED count: LocalLimit stops every task at kr+1
    * rows, so the policy branch never pays a full selector scan —
    * min(f, kr+1) ≤ kr ⟺ f ≤ kr, the decision is exact.
    */
  private[graft] def selectorStarved(sel: DataFrame, kr: Long): Boolean =
    sel.limit(kr.toInt + 1).count() <= kr

  /** Selector-size ESTIMATE for the probe-widening ratio: a
    * deterministic 1-in-[[SelectorSampleStride]] sample scaled back
    * up, floored at the starved bound the capped count already proved
    * false. The sample keys on the MINSTD step of the id —
    * ((id mod 2³¹)·48271 mod (2³¹−1)) mod stride — NOT on `id mod
    * stride`: a raw power-of-two stride is perfectly correlated with
    * any id-arithmetic selector (id parity, another stride sample),
    * which would bias the estimate by up to the stride factor; the
    * mod-p step mixes the residue classes, and every intermediate
    * stays under 2³¹·48271 ≈ 1.04e14 so both engines replay the
    * arithmetic exactly (the E37c overflow argument). The exact f
    * only tunes POLICY (how far to widen); an estimate shifts recall
    * marginally in either direction — and at 100 TB a caller with
    * catalog statistics skips even the sample by sizing its own
    * selector.
    */
  private[graft] def estimatedSelectorSize(sel: DataFrame, kr: Long): Long =
    estimatedSize(
      sel.filter(pmod(pmod(pmod(col("id"), lit(1L << 31)) * lit(48271L),
        lit((1L << 31) - 1)), lit(SelectorSampleStride)) === 0).count(), kr)

  /** [[estimatedSelectorSize]] from the count of sampled ids. */
  private[operators] def estimatedSize(sampled: Long, kr: Long): Long =
    math.max(kr + 1, SelectorSampleStride.toLong * sampled)

  /** Whether one id is in [[estimatedSelectorSize]]'s sample: the same
    * MINSTD step, on the driver.
    */
  private[graft] def inSelectorSample(id: Long): Boolean =
    Math.floorMod(Math.floorMod(Math.floorMod(id, 1L << 31) * 48271L, (1L << 31) - 1),
      SelectorSampleStride.toLong) == 0

  /** Filtered IVF-PQ top-k over the in-session residual layout:
    * `selector` is the allowed-id frame (one `id` column — the
    * evaluated metadata predicate). Same ranking contract as
    * [[ivfPqTopK]] restricted to the selector, with probe widening /
    * exact-fallback per the policy above. Deterministic given the
    * session model, so the driver key replays in DuckDB (probe set,
    * widened count and fallback branch are all arithmetic on counts).
    */
  def ivfPqTopKFiltered(spark: SparkSession, dir: String, queryVec: Array[Float],
                        k: Int, nprobe: Int, selector: DataFrame,
                        m: Int = SubspaceCount, refine: Int = 4,
                        metric: Int = VectorMetric.L2,
                        opq: Boolean = false): DataFrame = {
    val sel = selector.select(col("id"))
    val kr = filteredExactMax(k, refine)
    if (selectorStarved(sel, kr)) {
      // starved filter: exact pre-filter (A4 semantics) — f rows join
      // their raw vectors, true-metric top-k, no compressed scan
      val exact = Ivf.distCol(metric, col("vec"), typedlit(queryVec.toSeq))
      sel.withColumnRenamed("id", "neighbor_id")
        .join(refineSource(spark, dir), "neighbor_id")
        .select(col("neighbor_id"), exact.as("dist"))
        .orderBy(col("dist"), col("neighbor_id"))
        .limit(k)
    } else {
      // corpus n from the session memo, selector f from the stride
      // estimate — the widening arithmetic runs no corpus-count job
      val n = Tables.embeddingsCount(spark, dir)
      val (_, centroids) = Ivf.indexFor(spark, dir, metric)
      val npEff = widenedNprobe(nprobe, n, estimatedSelectorSize(sel, kr),
        centroids.length)
      val model = trainResidual(spark, dir, m, metric, opq)
      require(queryVec.length == model.dim,
        s"query dim ${queryVec.length} != corpus dim ${model.dim}")
      val probed = probeIds(centroids, metricQuery(queryVec, metric), npEff, metric)
      val tables = residualAdcTables(centroids, probed, model.codebooks,
        model.rotation, metricQuery(queryVec, metric), metric)
      val shortlist = shortlistOf(residualCandidates(
        encodeResidual(spark, dir, m, metric, opq)
          .join(sel, Seq("id"), "left_semi"), // the selector, inside the scan
        probed, tables, metric), k, refine)
      refineTail(shortlist, queryVec, k, refine, metric,
        Some(refineSource(spark, dir)))
    }
  }

  /** Row count of a persisted tree for the widening arithmetic:
    * lifecycle state when present (kept current by append/delete),
    * else the `_profile` sidecar's per-cluster counts (one small file
    * — a bare writeIvfPq tree has no state), else a code-table count
    * (legacy trees predating the profile).
    */
  private def persistedIndexSize(spark: SparkSession, indexPath: String): Long = {
    val s = IndexLifecycle.status(spark, indexPath)
    if (s.size > 0) s.size
    else {
      val p = new org.apache.hadoop.fs.Path(s"$indexPath/_profile")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        IndexLifecycle.readSidecar(spark, p.toString, ProfileDdl).map(_.getLong(1)).sum
      else spark.read.parquet(indexPath).count()
    }
  }

  /** Filtered serving against a PERSISTED IVF-PQ tree: the probed code
    * lists read partition-pruned exactly as [[queryIvfPq]] (the
    * selector narrows candidates, never the pruning), the selector
    * semi-joins the pruned stream, probes widen by the same policy.
    * With a refine source a starved selector serves exact; without
    * one it degrades to compressed probe-all over the survivors (all
    * lists probed — the f candidate rows still rank compressed).
    */
  def queryIvfPqFiltered(spark: SparkSession, indexPath: String,
                         queryVec: Array[Float], k: Int, nprobe: Int,
                         selector: DataFrame,
                         refineWith: Option[DataFrame] = None,
                         refine: Int = 4): DataFrame = {
    val live = BucketSwap.refuse(spark, BucketSwap.lists(indexPath))
    val st = ServingState.pq(spark, indexPath)
    val pm = st.model
    require(queryVec.length == pm.dim,
      s"query dim ${queryVec.length} != index dim ${pm.dim}")
    val sel = selector.select(col("id"))
    val kr = filteredExactMax(k, refine)
    val refSrc = refineWith.map(_.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("vec")))
    val starved = selectorStarved(sel, kr)
    (starved, refSrc) match {
      case (true, Some(vecs)) =>
        val exact = Ivf.distCol(pm.metric, col("vec"), typedlit(queryVec.toSeq))
        sel.withColumnRenamed("id", "neighbor_id")
          .join(vecs, "neighbor_id")
          .select(col("neighbor_id"), exact.as("dist"))
          .orderBy(col("dist"), col("neighbor_id"))
          .limit(k)
      case _ =>
        val n = math.max(1L, persistedIndexSize(spark, indexPath))
        val npEff =
          if (starved) pm.centroids.length // no vectors to refine from:
          // probe everything, the selector already bounds candidates
          else widenedNprobe(nprobe, n, estimatedSelectorSize(sel, kr),
            pm.centroids.length)
        val probed = probeIds(pm.centroids, metricQuery(queryVec, pm.metric),
          npEff, pm.metric)
        val pruned =
          ServingState.probedLists(spark, indexPath, st.listSchema, live, probed)
        if (pm.residual) {
          val tables = residualAdcTables(pm.centroids, probed, pm.codebooks,
            pm.rotation, metricQuery(queryVec, pm.metric), pm.metric)
          val shortlist = shortlistOf(residualCandidates(
            pruned.join(sel, Seq("id"), "left_semi"), probed, tables, pm.metric), k, refine)
          refineTail(shortlist, queryVec, k, refine, pm.metric, refSrc)
        } else {
          val codesDf = pruned
            .join(sel, Seq("id"), "left_semi")
            .select(col("id").as("neighbor_id"), col("codes"))
          adcCore(codesDf, pm.codebooks, queryVec, k, refine, pm.metric,
            refineWith = refSrc, rotation = pm.rotation)
        }
    }
  }

  /** M inter-centroid tables for symmetric PQ distance under a metric
    * (squared l2, or negated partial dots for dot).
    */
  private[operators] def sdcTable(model: Model, metric: Int): Array[Array[Array[Double]]] =
    model.codebooks.map { cb =>
      cb.map { a =>
        cb.map { b =>
          var acc = 0.0; var i = 0
          if (metric == VectorMetric.Dot) {
            while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
            -acc
          } else {
            while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
            acc
          }
        }
      }
    }

  /** Batch ANN entirely in the compressed domain (SDC): every corpus
    * vector's top-k neighbors from codes alone. Same probe/shuffle
    * skeleton as Ivf.annBatch (probe set shuffle-joins cluster members,
    * never broadcast), but pair rows carry M-BYTE binary codes instead
    * of 4·dim-byte vectors and each pair costs M table lookups via the
    * SdcDistance expression (codebook distance table as a codegen
    * reference object — see PqExprs for why literals would be a
    * disaster here) instead of a full-dim cosine. Both sides quantized
    * ⇒ coarser than ADC: the compressed-domain recall floor is pinned
    * in PqSpec per metric.
    *
    * `refine > 1` stacks the exact re-rank the serving stack wants:
    * the SDC pass keeps k·refine survivors per query (still codes
    * only), and ONLY those pairs join back to full-precision vectors —
    * O(N·k·refine) skinny rows, two shuffle joins — for a true-metric
    * top-k (PqSpec pins refined recall ≈ 1 at refine = 4).
    */
  def sdcBatch(spark: SparkSession, dir: String, k: Int,
               nprobeOpt: Option[Int] = None, m: Int = SubspaceCount,
               metric: Int = VectorMetric.L2, refine: Int = 1,
               opq: Boolean = false): DataFrame = {
    // OPQ composes with SDC for free: BOTH sides' codes live in the
    // same rotated space (encode applies R before the subspace split),
    // and an orthonormal R preserves l2 AND inner products — so the
    // inter-centroid tables from the rotated codebooks estimate the
    // original-space distances. Probing stays in the original space
    // (the coarse layout is unrotated, as everywhere).
    val model = if (opq) trainOpq(spark, dir, m, metric)
                else train(spark, dir, m, metric)
    val (assign, centroids) = Ivf.indexFor(spark, dir, metric)
    val vecs = corpus(spark, dir, metric)
    val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    val codes = encode(spark, dir, m, metric, opq)
    val probeMetric =
      if (metric == VectorMetric.Dot) VectorMetric.Dot else VectorMetric.L2
    val probes = Ivf.probeSelect(queries, centroids,
      nprobeOpt.getOrElse(centroids.length), probeMetric,
      hier = Ivf.sessionHierarchy(spark, dir, metric))
      .select(col("query_id"), col("probe_cluster"))
      .join(codes.select(col("id").as("query_id"), col("codes").as("qcodes")),
        "query_id")
    val codeLists = assign.join(codes, "id")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("codes"))
    val dist = PqFunctions.sdcDistance(col("qcodes"), col("codes"),
      sdcTable(model, metric), takeSqrt = metric != VectorMetric.Dot)
    val shortlist = codeLists
      .join(probes, col("cluster_id") === col("probe_cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions
        .topKByDistance(dist, col("neighbor_id"), k * math.max(1, refine)).as("nn"))
    val ranked =
      if (refine <= 1) shortlist
      else {
        // exact re-rank on full-precision vectors: metric-transformed
        // corpus + the l2 kernel ranks identically to the true metric
        // (cosine ≡ l2 on unit vectors; dot keeps the raw corpus)
        val exactMetric =
          if (metric == VectorMetric.Dot) VectorMetric.Dot else VectorMetric.L2
        val exact = Ivf.distCol(exactMetric, col("vec"), col("qvec"))
        shortlist
          .select(col("query_id"), explode(col("nn")).as("cand"))
          .select(col("query_id"), col("cand.id").as("neighbor_id"))
          .join(queries, "query_id")
          .join(vecs.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
          .groupBy(col("query_id"))
          .agg(VectorFunctions.topKByDistance(exact, col("neighbor_id"), k).as("nn"))
      }
    ranked
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Batch ANN over the RESIDUAL codes — the query-BATCH twin of
    * [[ivfPqTopK]]'s per-cluster ADC (A24's `pqr` tier measures these
    * codes beating the raw/SDC budget; this serves them in batch).
    * Point queries pre-build per-(query, probed-cluster) tables on the
    * driver; a corpus-sized batch cannot, so the per-cluster shift is
    * ROW-INLINED instead: the probe frame (which already carries each
    * query's vector) joins the broadcast double-centroid table and
    * computes q − centroid(probed cluster) per probe row — exactly the
    * shifted table's arithmetic — and the pair scan folds query-to-
    * sub-centroid distances on the fly (AdcQueryDistance: O(dim)
    * multiply-adds per pair, codebooks as the reference object). The
    * pair shuffle carries M-byte codes on the candidate side — the
    * compression win batch ANN needs at 100 TB — while the query side
    * stays EXACT (asymmetric beats symmetric at the same bytes: PqSpec
    * pins recall ≥ the SDC batch). Dot rides the decomposition
    * q·x̂ = q·(c + R⁻¹û) = q·c + (Rq)·û: raw rotated query in the fold,
    * the −q·c scalar carried from the same probe join.
    */
  def resBatch(spark: SparkSession, dir: String, k: Int,
               nprobeOpt: Option[Int] = None, m: Int = SubspaceCount,
               metric: Int = VectorMetric.L2, refine: Int = 1,
               opq: Boolean = false,
               selector: Option[DataFrame] = None): DataFrame = {
    val model = trainResidual(spark, dir, m, metric, opq)
    val (_, centroids) = Ivf.indexFor(spark, dir, metric)
    val vecs = corpus(spark, dir, metric)
    val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    val codesAll = encodeResidual(spark, dir, m, metric, opq)
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("codes"))
    // filtered batch (A18d's contract batched): the selector semi-joins
    // the CANDIDATE side before the pair shuffle, so non-matching codes
    // never ride the join — the per-query shape is unchanged
    val codes = selector match {
      case Some(sel) => codesAll.join(
        sel.select(col("id").as("neighbor_id")), Seq("neighbor_id"), "left_semi")
      case None => codesAll
    }
    val probeMetric =
      if (metric == VectorMetric.Dot) VectorMetric.Dot else VectorMetric.L2
    val probes = Ivf.probeSelect(queries, centroids,
      nprobeOpt.getOrElse(centroids.length), probeMetric,
      hier = Ivf.sessionHierarchy(spark, dir, metric))
      .select(col("query_id"), col("qvec"), col("probe_cluster"))
    val cdf = centroidDoubleDf(spark, centroids)
      .withColumnRenamed("cluster_id", "probe_cluster")
    def rot(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = model.rotation match {
      case Some(r) => graft.functions.RotateFunctions.rotateVector(v, r)
      case None => v
    }
    // query side per (query, probed cluster): l2/cosine shift the query
    // by the cluster centroid (exact doubles — the encode side's own
    // VectorCombine kernel); dot keeps the raw (rotated) query and
    // carries the −q·c scalar instead
    val qside =
      if (metric == VectorMetric.Dot)
        probes.join(broadcast(cdf), "probe_cluster")
          .select(col("query_id"), col("probe_cluster"),
            rot(col("qvec")).as("qside"),
            (-VectorFunctions.dotProduct(col("qvec"), col("cvec"))).as("shift"))
      else
        probes.join(broadcast(cdf), "probe_cluster")
          .select(col("query_id"), col("probe_cluster"),
            rot(VectorFunctions.vectorSub(col("qvec"), col("cvec"))).as("qside"),
            lit(0.0).as("shift"))
    val dot = metric == VectorMetric.Dot
    val dist =
      if (dot)
        PqFunctions.adcQueryDistance(col("qside"), col("codes"), model.codebooks,
          dot = true, takeSqrt = false) + col("shift")
      else
        PqFunctions.adcQueryDistance(col("qside"), col("codes"), model.codebooks,
          dot = false, takeSqrt = true)
    val shortlist = codes
      .join(qside, col("cluster_id") === col("probe_cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions
        .topKByDistance(dist, col("neighbor_id"), k * math.max(1, refine)).as("nn"))
    val ranked =
      if (refine <= 1) shortlist
      else {
        val exactMetric =
          if (dot) VectorMetric.Dot else VectorMetric.L2
        val exact = Ivf.distCol(exactMetric, col("vec"), col("qvec"))
        shortlist
          .select(col("query_id"), explode(col("nn")).as("cand"))
          .select(col("query_id"), col("cand.id").as("neighbor_id"))
          .join(queries, "query_id")
          .join(vecs.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
          .groupBy(col("query_id"))
          .agg(VectorFunctions.topKByDistance(exact, col("neighbor_id"), k).as("nn"))
      }
    ranked
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Filtered batch ANN on the residual layout — [[resBatch]] × A18d's
    * filtered-serving policy: the evaluated metadata predicate becomes
    * a selector id-frame semi-joined into the CANDIDATE side of the
    * pair shuffle (non-matching codes never ride the join), the probe
    * set widens by n/f̂ so the filtered candidate mass matches the
    * unfiltered mass at the caller's nprobe, and a selector that
    * starves the shortlist (f ≤ k·refine) serves the exact pre-filter
    * batch instead (f vectors broadcast against the query stream).
    * Same no-per-query-count discipline as the point path: corpus n
    * from the session memo, starved check capped at k·refine+1 rows,
    * f from the deterministic stride estimate.
    */
  def resBatchFiltered(spark: SparkSession, dir: String, k: Int,
                       nprobe: Int, selector: DataFrame,
                       refine: Int = 1,
                       metric: Int = VectorMetric.L2): DataFrame = {
    val sel = selector.select(col("id"))
    val kr = filteredExactMax(k, refine)
    if (selectorStarved(sel, kr)) {
      // f ≤ k·refine survivors: broadcast them against every query and
      // rank exactly — the compressed scan could not fill a shortlist
      val vecs = corpus(spark, dir, metric)
      val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
      val candVecs = vecs.join(sel, "id")
        .select(col("id").as("neighbor_id"), col("vec"))
      val exactMetric =
        if (metric == VectorMetric.Dot) VectorMetric.Dot else VectorMetric.L2
      val exact = Ivf.distCol(exactMetric, col("vec"), col("qvec"))
      queries.join(broadcast(candVecs), col("neighbor_id") =!= col("query_id"))
        .groupBy(col("query_id"))
        .agg(VectorFunctions.topKByDistance(exact, col("neighbor_id"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")
    } else {
      val n = Tables.embeddingsCount(spark, dir)
      val (_, centroids) = Ivf.indexFor(spark, dir, metric)
      val npEff = widenedNprobe(nprobe, n, estimatedSelectorSize(sel, kr),
        centroids.length)
      resBatch(spark, dir, k, nprobeOpt = Some(npEff), metric = metric,
        refine = refine, selector = Some(sel))
    }
  }

  /** Persist the IVF-PQ index: binary codes partitioned by cluster_id
    * (probe pruning happens at planning time, same layout contract as
    * Ivf.writeIndex), plus the coarse centroids, the PQ codebooks, a
    * `_meta` record (m, metric) and — for an OPQ model — the learned
    * `_rotation` matrix, all as underscore-prefixed sidecar tables.
    * The index outlives the session that built it AND carries its own
    * FULL model (metric + rotation), exactly the reference's per-index
    * config invariant (app/indexes/base.py:207-219): a query or an
    * append can never run under a different transform than the one the
    * codes were built with.
    */
  def writeIvfPq(spark: SparkSession, dir: String, outPath: String,
                 m: Int = SubspaceCount, metric: Int = VectorMetric.L2,
                 opq: Boolean = false): Unit = ServingState.writing(outPath) {
    val (assign, centroids) = Ivf.indexFor(spark, dir, metric)
    val model = trainResidual(spark, dir, m, metric, opq)
    // overwrite on the base path drops EVERYTHING from a previous build,
    // including a stale _rotation — an unrotated rebuild over an old OPQ
    // index cannot leave the old matrix behind
    encodeResidual(spark, dir, m, metric, opq)
      .select(col("cluster_id"), col("id"), col("codes"))
      .repartition(col("cluster_id")) // one file per list, not per task×list
      .write.mode("overwrite").partitionBy("cluster_id").parquet(outPath)
    // the root overwrite above wiped outPath, so sidecars must follow
    // it; the sidecar/hierarchy/profile writes themselves target
    // independent `_` subdirs and overlap (round-17, guide §2.6)
    Overlap.unitAll(
      () => writeSidecars(spark, outPath, centroids, model, m, metric),
      // two-level-trained indexes carry their hierarchy, so appends
      // assign O(√k)/row like the build did (absent for driver-trained)
      () => Ivf.writeHierarchy(spark, outPath,
        Ivf.sessionHierarchy(spark, dir, metric)),
      () => writeProfile(corpus(spark, dir, metric), assign, centroids,
        outPath))
  }

  /** Per-cluster residual profile (cluster_id, n, rsum) of a
    * metric-transformed (id, vec) frame against given centroids —
    * dist_q = floor(l2·1e6) as BIGINT, quantized BEFORE the sum
    * (Ivf.residualsQ's order-independent grid, so the A25 diff
    * arithmetic applies verbatim).
    */
  private[operators] def residualProfileOf(v: DataFrame,
                                           centroids: Array[Array[Float]],
                                           hier: Option[Ivf.TwoLevelQuantizer] = None): DataFrame =
    profileOfAssigned(
      Ivf.assignToQ(v, centroids, hier)
        .select(col("cluster_id"), col("neighbor_id").as("id"), col("vec")),
      centroids)

  /** The profile aggregation over an ALREADY-ASSIGNED
    * (cluster_id, id, vec) frame — one broadcast centroid join, no
    * re-assignment (the build/rebuild paths have the assignment in
    * hand; re-running the k-way argmin for the profile doubled the
    * corpus passes those keys pay).
    */
  private def profileOfAssigned(assigned: DataFrame,
                                centroids: Array[Array[Float]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, j) => (j, c.toSeq) }.toSeq.toDF("cluster_id", "cvec")
    assigned
      .join(broadcast(cdf), "cluster_id")
      .select(col("cluster_id"),
        floor(VectorFunctions.l2Distance(col("vec"), col("cvec")) * lit(1e6))
          .cast("long").as("dist_q"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum(col("dist_q")).as("rsum"))
  }

  /** The `_profile` sidecar: the per-cluster residual baseline the
    * drift-rebuild policy (PqLifecycle.driftShouldRebuild) diffs the
    * index's future contents against. Written by every build/rebuild,
    * refreshed by the swap — the distribution twin of the count-based
    * dirt the state file carries. Takes the (id, cluster_id)
    * assignment the caller already computed.
    */
  private def writeProfile(v: DataFrame, assign: DataFrame,
                           centroids: Array[Array[Float]],
                           outPath: String): Unit =
    profileOfAssigned(
      v.join(assign.select("id", "cluster_id"), "id")
        .select(col("cluster_id"), col("id"), col("vec")),
      centroids)
      .select(col("cluster_id"), col("n").as("n_base"), col("rsum").as("rsum_base"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_profile")

  /** The `_profile` schema [[writeProfile]] writes. */
  private[operators] val ProfileDdl = "cluster_id INT, n_base BIGINT, rsum_base BIGINT"

  /** The model sidecars of a persisted IVF-PQ tree (shared by the
    * dir-memoized build and the from-frame rebuild).
    */
  private def writeSidecars(spark: SparkSession, outPath: String,
                            centroids: Array[Array[Float]], model: Model,
                            m: Int, metric: Int): Unit = {
    import spark.implicits._
    IndexLifecycle.writeCentroids(spark, outPath, centroids)
    (for {
      mi <- model.codebooks.indices
      c <- model.codebooks(mi).indices
    } yield (mi, c, model.codebooks(mi)(c).toSeq))
      .toDF("m_idx", "code", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_codebooks")
    // `residual = true` marks the FAISS-standard layout (codes are
    // x − centroid(x)); indexes written before the flag existed are raw
    Seq((m, metric, true)).toDF("m", "metric", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_meta")
    model.rotation.foreach { r =>
      r.indices.map(i => (i, r(i).toSeq)).toDF("ridx", "rvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_rotation")
    }
  }

  /** Build a full IVF-PQ tree from an arbitrary RAW (id, vec) frame —
    * the lifecycle rebuild path: fresh coarse quantizer (k = √(n/2) on
    * the CURRENT size), fresh codebooks (and rotation when `opq`),
    * every vector re-encoded under the new model. Returns the row
    * count. Nothing touches the dir-keyed session memos: the contents
    * are the index's own, not a corpus dir's.
    */
  private[graft] def writeIvfPqFrom(vecsRaw: DataFrame, outPath: String,
                                        m: Int, metric: Int,
                                        opq: Boolean,
                                        maxDriverK: Int = Ivf.DriverTrainMaxK): Long =
      ServingState.writing(outPath) {
    val spark = vecsRaw.sparkSession
    // cache the metric-transformed frame: Lloyd sampling, the coarse
    // assignment, the codebook sample, and the encode all re-read it
    val v = graft.Tables.rebalanced(Ivf.metricTransform(vecsRaw, metric)).cache()
    val n = v.count()
    val (assign, centroids, hier) =
      Ivf.kmeansWithQuantizer(v, Ivf.defaultK(n), maxDriverK = maxDriverK)
    val model = trainResidualFrom(v, centroids, m, opq)
    encodeResidualWith(
      v.join(assign.select("id", "cluster_id"), "id"), centroids, model)
      .select(col("cluster_id"), col("id"), col("codes"))
      .repartition(col("cluster_id")) // one file per list, not per task×list
      .write.mode("overwrite").partitionBy("cluster_id").parquet(outPath)
    // root write first (overwrite wipes outPath); the three subdir
    // writers are independent and overlap (round-17, guide §2.6)
    Overlap.unitAll(
      () => writeSidecars(spark, outPath, centroids, model, m, metric),
      () => Ivf.writeHierarchy(spark, outPath, hier),
      () => writeProfile(v, assign, centroids, outPath))
    v.unpersist()
    n
  }

  /** Codebooks of a persisted IVF-PQ index. */
  private[operators] def loadCodebooks(spark: SparkSession,
                                       indexPath: String): Array[Array[Array[Float]]] =
    IndexLifecycle.readSidecar(spark, s"$indexPath/_codebooks",
        "m_idx INT, code INT, cvec ARRAY<FLOAT>")
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)).toArray

  /** The `_meta` record of a persisted IVF-PQ index, read once and BY
    * NAME (an ordinal would silently serve the wrong metric if the
    * column order ever changed): the subspace count, the index's own
    * metric, and whether its codes are residuals. Columns an index
    * predates read as null — metric L2, raw-vector codes that keep
    * serving through the flat ADC path; an index with no `_meta` at
    * all reads the same, with m = 0 (unknown).
    */
  private[operators] final case class PqMeta(m: Int, metric: Int, residual: Boolean)

  private[operators] def loadMeta(spark: SparkSession, indexPath: String): PqMeta = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_meta")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      PqMeta(0, VectorMetric.L2, residual = false)
    else {
      val r = IndexLifecycle.readSidecar(spark, p.toString,
        "m INT, metric INT, residual BOOLEAN").head
      PqMeta(if (r.isNullAt(0)) 0 else r.getInt(0),
        if (r.isNullAt(1)) VectorMetric.L2 else r.getInt(1),
        !r.isNullAt(2) && r.getBoolean(2))
    }
  }

  /** The persisted index's learned OPQ rotation, when one was built in
    * (`_rotation` sidecar; absent = unrotated plain PQ). Every consumer
    * of a persisted index MUST route vectors through this before
    * touching codes — queryIvfPq does for ADC tables, PqLifecycle
    * .append does for incoming vectors — or a rotated index would be
    * silently corrupted/misranked.
    */
  private[operators] def loadRotation(spark: SparkSession,
                                      indexPath: String): Option[Array[Array[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_rotation")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else Some(IndexLifecycle.readSidecar(spark, s"$indexPath/_rotation",
        "ridx INT, rvec ARRAY<DOUBLE>")
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray))
  }

  /** The FULL loaded model of a persisted IVF-PQ tree — every sidecar
    * a consumer needs in one object.
    */
  private[operators] case class PersistedModel(
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      metric: Int,
      rotation: Option[Array[Array[Double]]],
      residual: Boolean,
      hierarchy: Option[Ivf.TwoLevelQuantizer] = None) {
    def m: Int = codebooks.length
    def dim: Int = codebooks.length * codebooks(0)(0).length
  }

  /** Load a persisted index's model sidecars (one collect job each).
    * Serving and appends take it from [[ServingState]], which loads it
    * once per build of the tree.
    */
  private[graft] def loadPersistedModel(spark: SparkSession,
                                        indexPath: String): PersistedModel = {
    val cents = IndexLifecycle.loadCentroids(spark, indexPath)
    val meta = loadMeta(spark, indexPath)
    PersistedModel(
      cents,
      loadCodebooks(spark, indexPath),
      meta.metric,
      loadRotation(spark, indexPath),
      meta.residual,
      Ivf.loadHierarchy(spark, indexPath, cents))
  }

  /** Query a persisted IVF-PQ index: probe selection over the loaded
    * centroids (driver math, KBs) UNDER THE INDEX'S OWN METRIC, a
    * partition-pruned read of ONLY the probed code lists, ADC ranking
    * from the loaded codebooks. Pure compressed-domain search — no raw
    * vector is read; callers that want the exact refine re-rank pass
    * the vector table (at scale: k·refine point lookups against the
    * primary store).
    */
  /** [[queryIvfPq]] with the serving parameters read from the
    * `_autotune` sidecar the tuner persisted (E53's writeAutotune) —
    * the autotune loop CLOSED: the measured pick is config the index
    * serves by, not a report. Falls back to the caller's
    * nprobe/refine when no sidecar exists, the tuner reported the
    * no-qualifying-config sentinel, or the picked tier is outside the
    * PQ family — an sq8/bq/pca pick's refine was measured against
    * DIFFERENT codes, so applying it here would serve an operating
    * point no grid row ever measured.
    */
  def queryIvfPqTuned(spark: SparkSession, indexPath: String,
                      queryVec: Array[Float], k: Int,
                      nprobeDefault: Int, refineDefault: Int = 4,
                      refineWith: Option[DataFrame] = None): DataFrame = {
    val (np, rf) = Autotune.loadAutotune(spark, indexPath) match {
      case Some((n, r, tier))
        if n > 0 && r > 0 && Autotune.PqFamilyTiers.contains(tier) =>
        (n.toInt, r.toInt)
      case _ => (nprobeDefault, refineDefault)
    }
    queryIvfPq(spark, indexPath, queryVec, k, np, refineWith, rf)
  }

  /** Point query against a PERSISTED IVF-PQ tree, opened once per
    * session ([[ServingState]]): the probed lists' codes,
    * partition-pruned, rank by ADC into a k·refine shortlist; with
    * `refineWith` (an embeddings-shaped table: vec_id, embedding) the
    * shortlist re-ranks exactly ([[refineTail]]). A warm call runs one
    * job per data pass: the codes pass, and the raw-vector pass when
    * it refines.
    */
  def queryIvfPq(spark: SparkSession, indexPath: String,
                 queryVec: Array[Float], k: Int, nprobe: Int,
                 refineWith: Option[DataFrame] = None,
                 refine: Int = 4): DataFrame = {
    // serving an index whose last delete half-applied would silently
    // drop a whole inverted list — refuse, same guard as mutations
    val live = BucketSwap.refuse(spark, BucketSwap.lists(indexPath))
    val st = ServingState.pq(spark, indexPath)
    val pm = st.model
    val centroids = pm.centroids
    val codebooks = pm.codebooks
    val metric = pm.metric
    val rotation = pm.rotation
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    require(queryVec.length == m * subDim,
      s"query dim ${queryVec.length} != index dim ${m * subDim}")
    val probed = probeIds(centroids, metricQuery(queryVec, metric), nprobe, metric)
    val refSrc = refineWith.map(_.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("vec")))
    if (pm.residual) {
      // residual layout: partition-pruned read of the probed lists,
      // ranked by the per-cluster-shifted ADC tables
      val tables = residualAdcTables(centroids, probed, codebooks, rotation,
        metricQuery(queryVec, metric), metric)
      val shortlist = shortlistOf(residualCandidates(
        ServingState.probedLists(spark, indexPath, st.listSchema, live, probed),
        probed, tables, metric), k, refine)
      refineTail(shortlist, queryVec, k, refine, metric, refSrc)
    } else {
      val codesDf =
        ServingState.probedLists(spark, indexPath, st.listSchema, live, probed)
        .select(col("id").as("neighbor_id"), col("codes"))
      adcCore(codesDf, codebooks, queryVec, k, refine, metric,
        refineWith = refSrc, rotation = rotation)
    }
  }

  /** Driver query: PQ ADC top-10 for the vec_id=0 query (rows-only —
    * approximate by construction; PqSpec pins recall vs exact), plus
    * the per-vector byte footprint columns that tell the compression
    * story.
    */
  def pqTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val model = train(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(topK(spark, dir, q, k), k)
      .select(col("neighbor_id"), col("rank"),
        lit(model.dim * 4).as("raw_bytes_per_vec"),
        lit(model.m).as("pq_bytes_per_vec"))
  }

  /** Driver query: compressed-domain batch ANN at the quarter-scan
    * serving configuration (rows-only; PqSpec pins the SDC recall
    * floor vs exact). `metric` selects the per-metric model + cluster
    * layout; `refine` stacks the exact re-rank (its own driver key).
    */
  def sdcBatchQuery(spark: SparkSession, dir: String, k: Int = 5,
                    metric: Int = VectorMetric.L2, refine: Int = 1): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    sdcBatch(spark, dir, k, nprobeOpt = Some(math.max(1, Ivf.defaultK(n) / 4)),
      metric = metric, refine = refine)
  }

  /** Driver query: E6e `ann_topk_batch_res` — batch ANN over the
    * RESIDUAL codes at the same quarter-scan nprobe as the SDC batch,
    * pure compressed-domain (refine = 1, so the ranking quality is the
    * codes', not a re-rank's). Oracle-checked end-to-end: the
    * row-inlined residual query shift and the on-the-fly ADC fold are
    * exactly `list_distance(q − centroid, reconstruction)` in DuckDB.
    */
  def resBatchQuery(spark: SparkSession, dir: String, k: Int = 5,
                    metric: Int = VectorMetric.L2, refine: Int = 1): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    resBatch(spark, dir, k, nprobeOpt = Some(math.max(1, Ivf.defaultK(n) / 4)),
      metric = metric, refine = refine)
  }

  /** Driver query: `ann_topk_batch_filtered` — every vector's top-k
    * among the label ∈ (2, 5, 7) subset, served through the residual
    * batch path with the A18d widening/starved policy (the batch face
    * of the reference's filtered-search contract,
    * search_service.py:169-197). Oracle replays the widened probe
    * count and the selector join.
    */
  def resBatchFilteredQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    val selector = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    resBatchFiltered(spark, dir, k,
      nprobe = math.max(1, Ivf.defaultK(n) / 4), selector)
  }

  /** Driver query: OPQ-rotated PQ ADC top-10 for the vec_id=0 query
    * (rows-only; RotateSpec pins the learned rotation's reconstruction
    * objective ≤ plain PQ's and the recall consequence). Same output
    * shape as pq_topk; `pq_bytes_per_vec` is unchanged — OPQ buys
    * accuracy at the same byte budget, which is the whole point.
    */
  def pqTopkOpq(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val model = trainOpq(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(topK(spark, dir, q, k, opq = true), k)
      .select(col("neighbor_id"), col("rank"),
        lit(model.dim * 4).as("raw_bytes_per_vec"),
        lit(model.m).as("pq_bytes_per_vec"))
  }

  /** Driver query: IVF-PQ top-10 at nprobe = nClusters/4 for the
    * vec_id=0 query (rows-only; PqSpec pins probe-all ≡ flat-PQ and
    * nprobe recall).
    */
  def ivfpqTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val (_, centroids) = Ivf.indexFor(spark, dir)
    Ranks.byDistance(
        ivfPqTopK(spark, dir, q, k, nprobe = math.max(1, centroids.length / 4)), k)
      .select(col("neighbor_id"), col("rank"))
  }

  /** Driver query: A18d `ivfpq_topk_filtered` — the A4 metadata
    * predicate (label IN (2, 5, 7), the reference's filtered-search
    * contract, search_service.py:169-197) served through the
    * compressed RESIDUAL path at A18's nprobe budget: the selector
    * semi-joins the probed candidate stream inside the scan, the
    * probe set widens by n/f (~3.3× here) to protect k, exact refine
    * on the survivors. Oracle-checked end-to-end (the widened probe
    * count and the fallback branch are arithmetic on counts the
    * generator replays).
    */
  def ivfpqTopkFiltered(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val (_, centroids) = Ivf.indexFor(spark, dir)
    val selector = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    Ranks.byDistance(
        ivfPqTopKFiltered(spark, dir, q, k,
          nprobe = math.max(1, centroids.length / 4), selector), k)
      .select(col("neighbor_id"), col("rank"))
  }

  /** Driver query: `ivfpq_topk_tuned` — the autotune loop CLOSED on a
    * benched, oracle-checked path (the round-12 verdict: the measured
    * pick had no consumer outside the spec). The session corpus's
    * IVF-PQ tree persists, the tuner's PQ-FAMILY pick for the
    * 500-permille floor lands in its `_autotune` sidecar
    * (writeAutotune restricted to pq/opq/pqr — the serving path asks
    * the tuner the question it can honor, instead of discarding a
    * global sq8 pick at the gate), and the query serves through
    * [[queryIvfPqTuned]]: the measured operating point is CONFIG, not
    * a report. Falls back to A18's defaults when the grid had no
    * qualifying PQ config (the -1 sentinels) — the same arithmetic the
    * oracle generator replays, so the branch can never drift.
    */
  def ivfpqTopkTuned(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // the tree is a session memo (one persist per corpus, its own
    // bench warmer line) — this key's cost is tuned SERVING
    val tmp = tunedTree(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val (_, centroids) = Ivf.indexFor(spark, dir)
    Ranks.byDistance(
        queryIvfPqTuned(spark, tmp, q, k,
          nprobeDefault = math.max(1, centroids.length / 4),
          refineWith = Some(Tables.embeddings(spark, dir))), k)
      .select(col("neighbor_id"), col("rank"))
  }

  /** [[ivfpqTopkTuned]]'s serving convention (session tuned tree,
    * vec_id-0 query, exact refine, ranked (neighbor_id, rank)) at an
    * EXPLICIT (nprobe, refine) — the single-query face A28's
    * pick-true routing serves through; ONE definition so the key, the
    * router, and the spec cannot drift on the convention.
    */
  def ivfpqTopkAt(spark: SparkSession, dir: String, k: Int,
                  nprobe: Int, refine: Int): DataFrame = {
    val tmp = tunedTree(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(
        queryIvfPq(spark, tmp, q, k, nprobe,
          Some(Tables.embeddings(spark, dir)), refine), k)
      .select(col("neighbor_id"), col("rank"))
  }

  /** The recall floor ivfpq_topk_tuned serves (500 permille composed —
    * the one floor whose axis bar the sf sweep grids can meet).
    */
  val TunedFloor = 500

  /** The (nprobe, refine) ivfpq_topk_tuned ends up serving: the
    * PQ-family pick for [[TunedFloor]] when it qualifies, else A18's
    * defaults — THE arithmetic shared by engine (via the persisted
    * sidecar + queryIvfPqTuned's gate) and oracle generator.
    */
  private def tunedOperatingPoint(spark: SparkSession, dir: String): (Int, Int) = {
    val pick = Autotune
      .annAutotuneTiers(spark, dir, 5, Some(Autotune.PqFamilyTiers))
      .filter(col("floor_permille") === TunedFloor.toLong)
      .select("nprobe", "refine", "tier").head()
    val (np, rf, tier) = (pick.getLong(0), pick.getLong(1), pick.getString(2))
    if (np > 0 && rf > 0 && Autotune.PqFamilyTiers.contains(tier))
      (np.toInt, rf.toInt)
    else {
      val (_, centroids) = Ivf.indexFor(spark, dir)
      (math.max(1, centroids.length / 4), 4)
    }
  }

  /** ivfpq_topk_tuned oracle: the A18 residual replay at the tuned
    * operating point — the generator re-derives the pick from the same
    * restricted-grid argmin (+ the same sentinel/gate fallback), then
    * emits the replay at that (nprobe, refine).
    */
  def ivfpqTopkTunedOracleSql(spark: SparkSession, dir: String,
                              k: Int = 10): String = {
    val (np, rf) = tunedOperatingPoint(spark, dir)
    ivfpqTopkOracleSqlImpl(spark, dir, k, opq = false,
      npOverride = Some(np), refine = rf)
  }

  /** Driver query: OPQ-residual IVF-PQ top-10 at the same serving
    * nprobe — A18's full configuration matrix served end-to-end: the
    * learned rotation composes with residual encoding (rotate the
    * residual, then split into subspaces — OPQ-by-residual is the
    * FAISS `OPQ..,IVF..,PQ..` factory string), per-cluster ADC tables
    * built from the rotated query residual. Oracle-checked via the
    * rotated-residual replay.
    */
  def ivfpqTopkOpq(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val (_, centroids) = Ivf.indexFor(spark, dir)
    Ranks.byDistance(
        ivfPqTopK(spark, dir, q, k, nprobe = math.max(1, centroids.length / 4),
          opq = true), k)
      .select(col("neighbor_id"), col("rank"))
  }

  // ------------------------------------------------- dynamic oracles
  //
  // "Approximate by construction" never meant non-deterministic: given
  // the trained codebooks (and coarse centroids / OPQ rotation), every
  // PQ path is a pure function DuckDB can replay. Verify inlines the
  // SESSION model's parameters as literals (the pca_topk pattern) and
  // the SQL mirrors the engine's double arithmetic op-for-op — encode
  // argmin on SQUARED sub-distances (ties to the lower code, exactly
  // PqEncode's strict `<`), ADC/SDC as ordered per-subspace partial
  // sums (list(v ORDER BY mi) → list_sum reproduces the mi-ascending
  // accumulation), refine on raw vectors via list_distance.

  private def matLiteral(m: Array[Array[Float]]): String =
    m.map(_.map(_.toDouble.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  private[operators] def cbLiteral(cbs: Array[Array[Array[Float]]]): String =
    cbs.map(matLiteral).mkString("[", ",", "]")

  /** Corpus CTE `corp(vec_id, v DOUBLE[])` in the model's input space:
    * raw, cosine-normalized (metricTransform's per-element
    * divide-then-cast-to-float replayed), or OPQ-rotated (RotateVector's
    * double row-sums with the float cast per component).
    */
  private[operators] def corpCte(metric: Int,
                                 rotation: Option[Array[Array[Double]]],
                                 prefix: String = ""): String = {
    val base = metric match {
      case VectorMetric.Cosine =>
        s"""${prefix}rawc AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS r,
           |    sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
           |                            CAST(embedding AS DOUBLE[]))) AS n2
           |  FROM embeddings),
           |${prefix}corp0 AS (
           |  SELECT vec_id,
           |    CASE WHEN n2 = 0 THEN r
           |         ELSE list_transform(r, x -> CAST(CAST(x / n2 AS FLOAT) AS DOUBLE))
           |    END AS v
           |  FROM ${prefix}rawc)""".stripMargin
      case _ =>
        s"${prefix}corp0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    }
    rotation match {
      case None => base.replace(s"${prefix}corp0", s"${prefix}corp")
      case Some(r) =>
        val dim = r.length
        val rl = r.map(_.map(_.toString).mkString("[", ",", "]")).mkString("[", ",", "]")
        s"""$base,
           |${prefix}rot AS (SELECT CAST($rl AS DOUBLE[][]) AS rm),
           |${prefix}corp AS (
           |  SELECT vec_id,
           |    list_transform(range(1, ${dim + 1}), oi -> CAST(CAST(
           |      list_sum(list_transform(range(1, ${dim + 1}), j -> rm[oi][j] * v[j]))
           |    AS FLOAT) AS DOUBLE)) AS v
           |  FROM ${prefix}corp0, ${prefix}rot)""".stripMargin
    }
  }

  /** Encode CTEs `cbt(mi, code, cvec)` + `corps(vec_id, mi, svec)` +
    * `codes(vec_id, mi, code)` over `corp` + `cb`: per subspace, argmin
    * of the squared sub-distance with ties to the lower code. The
    * codebook explodes into per-(mi, code) SUB-vector rows first — a
    * cross join carrying the full codebook value per candidate row
    * materializes literal_size × n × m × 256 bytes (131 GB at sf0.01)
    * and fills DuckDB's spill disk; exploded, each row carries subDim
    * doubles.
    */
  private[operators] def codesCte(model: Model, prefix: String = ""): String = {
    val sd = model.subDim
    s"""${prefix}cbt AS (
       |  SELECT sub.mi, cand.code,
       |    list_transform(range(1, ${sd + 1}), i -> c[sub.mi + 1][cand.code + 1][i]) AS cvec
       |  FROM ${prefix}cb,
       |    UNNEST(range(0, ${model.m})) sub(mi),
       |    UNNEST(range(0, ${model.codebooks(0).length})) cand(code)),
       |${prefix}corps AS (
       |  SELECT vec_id, sub.mi,
       |    list_transform(range(1, ${sd + 1}), i -> v[sub.mi * $sd + i]) AS svec
       |  FROM ${prefix}corp, UNNEST(range(0, ${model.m})) sub(mi)),
       |${prefix}codes AS (
       |  SELECT vec_id, mi, code FROM (
       |    SELECT s.vec_id, s.mi, t.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
       |        list_sum(list_transform(range(1, ${sd + 1}),
       |          i -> (s.svec[i] - t.cvec[i]) * (s.svec[i] - t.cvec[i]))),
       |        t.code) AS rn
       |    FROM ${prefix}corps s JOIN ${prefix}cbt t USING (mi)) x
       |  WHERE rn = 1)""".stripMargin
  }

  /** pq_topk / pq_topk_opq oracle: flat ADC over the whole code table,
    * shortlist k·refine by (adc dist, id), exact L2 re-rank on raw
    * vectors. The per-query ADC table is driver math — inlined
    * pre-computed, exactly the doubles the engine's kernel loads.
    */
  private def adcTopkOracleSql(spark: SparkSession, dir: String,
                               k: Int, refine: Int, opq: Boolean): String = {
    val model = if (opq) trainOpq(spark, dir) else train(spark, dir)
    val qRaw = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val q0 = model.rotation.foldLeft(metricQuery(qRaw, VectorMetric.L2))(
      (q, r) => applyRotation(r, q))
    val tbl = adcTable(model.codebooks, q0, VectorMetric.L2)
    val tblLit = tbl.map(_.map(_.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""WITH cb AS (SELECT CAST(${cbLiteral(model.codebooks)} AS DOUBLE[][][]) AS c),
       |tbl AS (SELECT CAST($tblLit AS DOUBLE[][]) AS t),
       |${corpCte(VectorMetric.L2, model.rotation)},
       |${codesCte(model)},
       |adc AS (
       |  SELECT vec_id, sqrt(list_sum(list(tv ORDER BY mi))) AS dist FROM (
       |    SELECT cd.vec_id, cd.mi, tbl.t[cd.mi + 1][cd.code + 1] AS tv
       |    FROM codes cd, tbl) y
       |  GROUP BY vec_id),
       |short AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT ${k * refine}),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
       |ref AS (
       |  SELECT s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), (SELECT q FROM qv)) AS dist
       |  FROM short s JOIN embeddings e USING (vec_id))
       |SELECT vec_id AS neighbor_id,
       |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank,
       |  ${model.dim * 4} AS raw_bytes_per_vec, ${model.m} AS pq_bytes_per_vec
       |FROM ref ORDER BY dist, vec_id LIMIT $k""".stripMargin
  }

  def pqTopkOracleSql(spark: SparkSession, dir: String): String =
    adcTopkOracleSql(spark, dir, k = 10, refine = 4, opq = false)

  def pqTopkOpqOracleSql(spark: SparkSession, dir: String): String =
    adcTopkOracleSql(spark, dir, k = 10, refine = 4, opq = true)

  /** ivfpq_topk oracle — the RESIDUAL layout replayed end-to-end:
    * probe ranking AND list assignment over the centroid literal
    * (probeIds ranks by squared L2 with ties to the lower cid;
    * list_distance's sqrt is order-isomorphic), the residual corpus
    * (corp.v − centroid, exact doubles — VectorCombine's arithmetic
    * verbatim), the encode argmin over the RESIDUAL codebook literal,
    * then ADC through the per-cluster table literals indexed by the
    * replayed probe ordinal (AdcDistanceMulti's mi-ascending fold as
    * the ordered partial-sum list), and the exact refine.
    */
  def ivfpqTopkOracleSql(spark: SparkSession, dir: String, k: Int = 10): String =
    ivfpqTopkOracleSqlImpl(spark, dir, k, opq = false)

  /** ivfpq_topk_opq oracle: the same residual replay with the learned
    * rotation applied to the RESIDUAL (RotateVector's double row-sums
    * with the float cast per component — the corpCte rotation body,
    * here against the residual corpus) before the encode argmin; the
    * per-cluster tables are driver math either way and inline rotated.
    */
  def ivfpqTopkOpqOracleSql(spark: SparkSession, dir: String, k: Int = 10): String =
    ivfpqTopkOracleSqlImpl(spark, dir, k, opq = true)

  /** ivfpq_topk_filtered oracle: the same residual replay with (a) the
    * WIDENED probe count — the generator re-derives ⌈np·n/f⌉ from the
    * same counts the engine used — and (b) the selector pushed into
    * the ADC candidate set as a semi-join on the label predicate.
    * When the selector would starve the shortlist (f ≤ k·refine) the
    * generator emits the exact pre-filter replay instead — the SAME
    * branch arithmetic as the engine, so the two can never diverge on
    * which path ran.
    */
  def ivfpqTopkFilteredOracleSql(spark: SparkSession, dir: String,
                                 k: Int = 10): String = {
    val labels = "(2, 5, 7)"
    // THE ENGINE'S OWN policy helpers decide the branch and the
    // widened probe count (capped starved check + stride estimate),
    // so the generator can never drift from the serving arithmetic
    val sel = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    val kr = filteredExactMax(k, 4)
    if (selectorStarved(sel, kr))
      s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id AS neighbor_id,
         |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank
         |FROM (
         |  SELECT c.vec_id,
         |    list_distance(CAST(c.embedding AS DOUBLE[]), (SELECT q FROM qv)) AS dist
         |  FROM embeddings c WHERE c.label IN $labels) t
         |ORDER BY dist, vec_id LIMIT $k""".stripMargin
    else {
      val n = Tables.embeddingsCount(spark, dir)
      val (_, cents) = Ivf.indexFor(spark, dir)
      val npEff = widenedNprobe(math.max(1, cents.length / 4), n,
        estimatedSelectorSize(sel, kr), cents.length)
      ivfpqTopkOracleSqlImpl(spark, dir, k, opq = false,
        npOverride = Some(npEff),
        candJoin = s"\n    JOIN embeddings fe ON fe.vec_id = cd.vec_id AND fe.label IN $labels")
    }
  }

  private[operators] def ivfpqTopkOracleSqlImpl(spark: SparkSession, dir: String,
                                     k: Int, opq: Boolean,
                                     npOverride: Option[Int] = None,
                                     candJoin: String = "",
                                     refine: Int = 4): String = {
    val model = trainResidual(spark, dir, opq = opq)
    val (_, cents) = Ivf.indexFor(spark, dir)
    val nc = cents.length
    val np = npOverride.getOrElse(math.max(1, nc / 4))
    val qRaw = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val probed = probeIds(cents, qRaw, np, VectorMetric.L2)
    val tables = residualAdcTables(cents, probed, model.codebooks,
      model.rotation, qRaw, VectorMetric.L2)
    val tblLit = tables.map(_.map(_.map(_.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val dim = model.dim
    // residual corp, then (for OPQ) the rotation with the kernel's
    // per-component float cast — codes live in rotated-residual space
    val resCorp = model.rotation match {
      case None =>
        s"""r_corp AS (
           |  SELECT c0.vec_id,
           |    list_transform(range(1, ${dim + 1}), i -> c0.v[i] - cv[a.cid + 1][i]) AS v
           |  FROM corp c0 JOIN asg a ON a.vec_id = c0.vec_id, cents)""".stripMargin
      case Some(r) =>
        val rl = r.map(_.map(_.toString).mkString("[", ",", "]")).mkString("[", ",", "]")
        s"""r0_corp AS (
           |  SELECT c0.vec_id,
           |    list_transform(range(1, ${dim + 1}), i -> c0.v[i] - cv[a.cid + 1][i]) AS v
           |  FROM corp c0 JOIN asg a ON a.vec_id = c0.vec_id, cents),
           |r_rot AS (SELECT CAST($rl AS DOUBLE[][]) AS rm),
           |r_corp AS (
           |  SELECT vec_id,
           |    list_transform(range(1, ${dim + 1}), oi -> CAST(CAST(
           |      list_sum(list_transform(range(1, ${dim + 1}), j -> rm[oi][j] * v[j]))
           |    AS FLOAT) AS DOUBLE)) AS v
           |  FROM r0_corp, r_rot)""".stripMargin
    }
    s"""WITH r_cb AS (SELECT CAST(${cbLiteral(model.codebooks)} AS DOUBLE[][][]) AS c),
       |tblr AS (SELECT CAST($tblLit AS DOUBLE[][][]) AS t),
       |cents AS (SELECT CAST(${matLiteral(cents)} AS DOUBLE[][]) AS cv),
       |${corpCte(VectorMetric.L2, None)},
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid, rn AS ord FROM (
       |    SELECT t.j AS cid,
       |      row_number() OVER (ORDER BY
       |        list_distance((SELECT q FROM qv), cv[t.j + 1]), t.j) AS rn
       |    FROM cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE rn <= $np),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT c0.vec_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY c0.vec_id ORDER BY
       |        list_distance(c0.v, cv[t.j + 1]), t.j) AS rn
       |    FROM corp c0, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE rn = 1),
       |$resCorp,
       |${codesCte(model, "r_")},
       |adc AS (
       |  SELECT vec_id, sqrt(list_sum(list(tv ORDER BY mi))) AS dist FROM (
       |    SELECT cd.vec_id, cd.mi, tblr.t[p.ord][cd.mi + 1][cd.code + 1] AS tv
       |    FROM r_codes cd
       |    JOIN asg a ON a.vec_id = cd.vec_id
       |    JOIN probes p ON p.cid = a.cid$candJoin, tblr) y
       |  GROUP BY vec_id)${
      // refine = 1 is pure ADC (the engine's refineTail at refine ≤ 1:
      // no exact re-rank, the compressed ranking IS the answer)
      if (refine <= 1)
        s"""
           |SELECT vec_id AS neighbor_id,
           |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank
           |FROM adc ORDER BY dist, vec_id LIMIT $k""".stripMargin
      else
        s""",
           |short AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT ${k * refine}),
           |ref AS (
           |  SELECT s.vec_id,
           |    list_distance(CAST(e.embedding AS DOUBLE[]), (SELECT q FROM qv)) AS dist
           |  FROM short s JOIN embeddings e USING (vec_id))
           |SELECT vec_id AS neighbor_id,
           |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank
           |FROM ref ORDER BY dist, vec_id LIMIT $k""".stripMargin}""".stripMargin
  }

  /** ann_topk_batch_res oracle (L2 family, refine = 1 — the served
    * configuration): probe ranking and assignment over the centroid
    * literal, residual corpus + encode argmin over the residual
    * codebook literal (the ivfpq_topk machinery), then the BATCH pair
    * ranking — per (query, probed cluster) the residual query
    * qr = q − centroid in exact doubles, per candidate the code
    * RECONSTRUCTION (flatten of sub-centroids in mi order), and the
    * pair distance is `list_distance(qr, recon)`: DuckDB's sequential
    * fold is bit-for-bit the AdcQueryDistance kernel's global
    * (mi, p)-ascending accumulation.
    */
  def resBatchOracleSql(spark: SparkSession, dir: String, k: Int = 5): String =
    resBatchOracleSqlImpl(spark, dir, k, npOverride = None, candJoin = "")

  /** ann_topk_batch_filtered oracle: the residual batch replay at the
    * WIDENED probe count with the selector joined into the candidate
    * side — branch + widening arithmetic from THE SAME engine helpers
    * the serving path runs (capped starved check, stride estimate), so
    * generator and engine cannot diverge. A starved selector emits the
    * exact broadcast pre-filter replay instead.
    */
  def resBatchFilteredOracleSql(spark: SparkSession, dir: String,
                                k: Int = 5): String = {
    val labels = "(2, 5, 7)"
    val sel = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    val kr = filteredExactMax(k, 1)
    if (selectorStarved(sel, kr))
      s"""SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
         |FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_distance(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS dist
         |  FROM embeddings q JOIN embeddings c
         |    ON c.label IN $labels AND c.vec_id <> q.vec_id) t
         |QUALIFY rank <= $k
         |ORDER BY query_id, rank""".stripMargin
    else {
      val n = Tables.embeddingsCount(spark, dir)
      val (_, cents) = Ivf.indexFor(spark, dir)
      val npEff = widenedNprobe(math.max(1, Ivf.defaultK(n) / 4), n,
        estimatedSelectorSize(sel, kr), cents.length)
      resBatchOracleSqlImpl(spark, dir, k, npOverride = Some(npEff),
        candJoin = s"\n  JOIN embeddings fe ON fe.vec_id = a.vec_id AND fe.label IN $labels")
    }
  }

  /** The residual-batch replay, metric-general for the L2 FAMILY
    * (l2/cosine — cosine only swaps in the normalized corpCte; every
    * distance below is the same list_distance fold the engine's
    * normalized-L2 arithmetic matches bit-for-bit) with an optional
    * exact-refine tail (the engine's k·refine shortlist + list_distance
    * re-rank over the metric corpus).
    */
  private[operators] def resBatchOracleSqlImpl(spark: SparkSession, dir: String, k: Int,
                                    npOverride: Option[Int],
                                    candJoin: String,
                                    metric: Int = VectorMetric.L2,
                                    refine: Int = 1): String = {
    require(metric != VectorMetric.Dot,
      "the residual batch replay covers the l2 family (l2/cosine) only")
    val model = trainResidual(spark, dir, metric = metric)
    val (_, cents) = Ivf.indexFor(spark, dir, metric)
    val nc = cents.length
    val n = Tables.embeddingsCount(spark, dir)
    val np = npOverride.getOrElse(math.max(1, Ivf.defaultK(n) / 4))
    val dim = model.dim
    s"""WITH r_cb AS (SELECT CAST(${cbLiteral(model.codebooks)} AS DOUBLE[][][]) AS c),
       |cents AS (SELECT CAST(${matLiteral(cents)} AS DOUBLE[][]) AS cv),
       |${corpCte(metric, None)},
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT c0.vec_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY c0.vec_id ORDER BY
       |        list_distance(c0.v, cv[t.j + 1]), t.j) AS rn
       |    FROM corp c0, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE rn = 1),
       |r_corp AS (
       |  SELECT c0.vec_id,
       |    list_transform(range(1, ${dim + 1}), i -> c0.v[i] - cv[a.cid + 1][i]) AS v
       |  FROM corp c0 JOIN asg a ON a.vec_id = c0.vec_id, cents),
       |${codesCte(model, "r_")},
       |recon AS (
       |  SELECT cd.vec_id, flatten(list(t.cvec ORDER BY cd.mi)) AS rv
       |  FROM r_codes cd JOIN r_cbt t ON t.mi = cd.mi AND t.code = cd.code
       |  GROUP BY cd.vec_id),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_distance(q.v, cv[t.j + 1]), t.j) AS crn
       |    FROM corp q, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE crn <= $np),
       |qres AS (
       |  SELECT p.query_id, p.cid,
       |    list_transform(range(1, ${dim + 1}), i -> qc.v[i] - cv[p.cid + 1][i]) AS qr
       |  FROM probes p JOIN corp qc ON qc.vec_id = p.query_id, cents),
       |pdist AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id, list_distance(q.qr, r.rv) AS dist
       |  FROM qres q
       |  JOIN asg a ON a.cid = q.cid AND a.vec_id <> q.query_id$candJoin
       |  JOIN recon r ON r.vec_id = a.vec_id)${resShortCte(k, refine)}
       |${resRankBody(k, refine)}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Refine tail for the residual-batch replay: compressed shortlist of
    * k·refine by (dist, id), exact list_distance re-rank over the
    * metric corpus — the engine's refineTail arithmetic. Empty/plain
    * rank body at refine ≤ 1.
    */
  private def resShortCte(k: Int, refine: Int): String =
    if (refine <= 1) ""
    else
      s""",
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS srn
         |    FROM pdist) z
         |  WHERE srn <= ${k * refine})""".stripMargin

  private def resRankBody(k: Int, refine: Int): String =
    if (refine <= 1)
      s"""SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
         |FROM pdist QUALIFY rank <= $k""".stripMargin
    else
      s"""SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY edist, neighbor_id) AS INTEGER) AS rank
         |FROM (
         |  SELECT s.query_id, s.neighbor_id, list_distance(qe.v, ne.v) AS edist
         |  FROM short s
         |  JOIN corp qe ON qe.vec_id = s.query_id
         |  JOIN corp ne ON ne.vec_id = s.neighbor_id) e
         |QUALIFY rank <= $k""".stripMargin

  /** ann_topk_batch_pq family oracle: the SDC batch path end-to-end —
    * metric corpus, per-vector codes, per-query probe sets, symmetric
    * code-to-code distances from the codebook literal (the engine's
    * SDC table entries re-derived cell-by-cell with the same double
    * ops), optional exact re-rank. One generator, four metric/refine
    * configurations.
    */
  def sdcBatchOracleSql(spark: SparkSession, dir: String, k: Int = 5,
                        metric: Int = VectorMetric.L2, refine: Int = 1): String = {
    val model = train(spark, dir, SubspaceCount, metric)
    val (_, cents) = Ivf.indexFor(spark, dir, metric)
    val nc = cents.length
    val n = Tables.embeddingsCount(spark, dir)
    val np = math.max(1, Ivf.defaultK(n) / 4)
    val sd = model.subDim
    val ncode = model.codebooks(0).length
    val dot = metric == VectorMetric.Dot
    // probe ranking: l2 family probes by list_distance; dot probes by
    // the negated inner product (distCol's Dot branch)
    val probeDist =
      if (dot) "-list_inner_product(q.v, cv[t.j + 1])"
      else "list_distance(q.v, cv[t.j + 1])"
    // SDC cell: squared sub-l2, or negated partial dot (no sqrt later),
    // built from the exploded per-(mi, code) sub-vector table
    val cell =
      if (dot) s"""-list_sum(list_transform(range(1, ${sd + 1}),
                  |      i -> a.cvec[i] * b.cvec[i]))""".stripMargin
      else s"""list_sum(list_transform(range(1, ${sd + 1}),
              |      i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i])))""".stripMargin
    val fold =
      if (dot) "list_sum(list(sd.v ORDER BY qc.mi))"
      else "sqrt(list_sum(list(sd.v ORDER BY qc.mi)))"
    val rankBody =
      if (refine <= 1)
        s"""SELECT query_id, neighbor_id,
           |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
           |FROM pdist QUALIFY rank <= $k""".stripMargin
      else {
        val exact =
          if (dot) "-list_inner_product(qe.v, ne.v)"
          else "list_distance(qe.v, ne.v)"
        s"""WITH_SHORT SELECT query_id, neighbor_id,
           |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY edist, neighbor_id) AS INTEGER) AS rank
           |FROM (
           |  SELECT s.query_id, s.neighbor_id, $exact AS edist
           |  FROM short s
           |  JOIN corp qe ON qe.vec_id = s.query_id
           |  JOIN corp ne ON ne.vec_id = s.neighbor_id) e
           |QUALIFY rank <= $k""".stripMargin
          .replace("WITH_SHORT", "")
      }
    val shortCte =
      if (refine <= 1) ""
      else
        s""",
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS srn
           |    FROM pdist) z
           |  WHERE srn <= ${k * refine})""".stripMargin
    s"""WITH cb AS (SELECT CAST(${cbLiteral(model.codebooks)} AS DOUBLE[][][]) AS c),
       |cents AS (SELECT CAST(${matLiteral(cents)} AS DOUBLE[][]) AS cv),
       |${corpCte(metric, None)},
       |${codesCte(model)},
       |sdct AS (
       |  SELECT a.mi, a.code AS ca, b.code AS cb2,
       |    $cell AS v
       |  FROM cbt a JOIN cbt b USING (mi)),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT c0.vec_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY c0.vec_id ORDER BY
       |        list_distance(c0.v, cv[t.j + 1]), t.j) AS rn
       |    FROM corp c0, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $probeDist, t.j) AS crn
       |    FROM corp q, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE crn <= $np),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN asg a USING (cid)
       |  WHERE a.vec_id <> p.query_id),
       |pdist AS (
       |  SELECT pr.query_id, pr.neighbor_id, $fold AS dist
       |  FROM pairs pr
       |  JOIN codes qc ON qc.vec_id = pr.query_id
       |  JOIN codes nc2 ON nc2.vec_id = pr.neighbor_id AND nc2.mi = qc.mi
       |  JOIN sdct sd ON sd.mi = qc.mi AND sd.ca = qc.code AND sd.cb2 = nc2.code
       |  GROUP BY 1, 2)$shortCte
       |$rankBody
       |ORDER BY query_id, rank""".stripMargin
  }
}
