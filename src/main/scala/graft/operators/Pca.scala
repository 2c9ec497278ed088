package graft.operators

import graft.{Memo, Tables}
import graft.functions.{RotateFunctions, VectorFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA dimensionality reduction — the AXIS-DROPPING compression the
  * quantization ladder doesn't cover: project embeddings onto the top
  * principal components and search in d' ≪ d dims (64 → 16 here = 4×
  * fewer bytes AND 4× less distance arithmetic; it composes with
  * SQ8/BQ on the reduced vectors for 16×/1024×). The classic serving
  * recipe: reduced-space shortlist, exact full-space re-rank.
  *
  * Training is driver-side over the shared bounded sample budget: the
  * d×d covariance eigendecomposes (breeze eigSym) into an orthonormal
  * basis sorted by descending eigenvalue. Applying it is the existing
  * RotateVector codegen kernel (the full square basis IS an
  * orthonormal rotation) followed by a `slice` to the top d' — one
  * codegen'd map, no shuffle. Mean-centering is trained into the
  * covariance but NOT applied at encode time: reduced-space L2 ranking
  * is invariant to the constant shift (‖P(x−μ) − P(q−μ)‖ = ‖Px − Pq‖),
  * so skipping it saves a per-row vector subtract.
  *
  * Honesty note (PcaSpec measures it): this corpus' fake embeddings
  * are near-isotropic — the eigenvalue profile is almost flat, which
  * is PCA's WORST case (nothing to concentrate). The recall ladder is
  * therefore pinned at modest floors with the exact-refine tier
  * load-bearing, exactly as a real pipeline would configure it when
  * variance-explained comes back low.
  */
object Pca {

  val ReducedDim = 16
  val TrainSampleCap = 16384L

  /** `basis` rows are ALL d principal components, descending
    * eigenvalue; `varExplained(i)` = eigenvalue share of component i.
    */
  case class Model(dim: Int, basis: Array[Array[Double]], varExplained: Array[Double])

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))

  /** Bounded deterministic training sample (the shared quantizer
    * budget: ceiling-division hash modulus + orderBy.limit).
    */
  private def trainSample(spark: SparkSession, dir: String): Array[Array[Float]] =
    sampleFrom(corpus(spark, dir))

  /** The bounded deterministic sample over an EXPLICIT (id, vec)
    * frame — shared by the dir-keyed trainer and the rebuild path.
    */
  private def sampleFrom(vecs: DataFrame): Array[Array[Float]] = {
    val n = vecs.count()
    require(n > 0, "cannot train PCA on an empty corpus")
    val sampled =
      if (n <= TrainSampleCap) vecs
      else vecs.filter(
        pmod(xxhash64(col("id")), lit((n + TrainSampleCap - 1) / TrainSampleCap)) === 0)
    sampled.select(col("id"), col("vec"))
      .orderBy("id").limit(TrainSampleCap.toInt)
      .collect().map(_.getSeq[Float](1).toArray)
  }

  /** Eigendecomposition of the sample covariance; deterministic
    * (hash-sample, symmetric eigensolver on a fixed matrix).
    */
  def train(spark: SparkSession, dir: String): Model =
    Memo(dir, "pca.model")(eigOf(trainSample(spark, dir)))

  /** [[train]] over an EXPLICIT (id, vec) frame — the rebuild path's
    * face, un-memoized (the dir-keyed [[train]] wraps the same
    * sample + eigendecomposition for the session corpus).
    */
  private[graft] def trainFrom(vecs: DataFrame): Model =
    eigOf(sampleFrom(vecs))

  private def eigOf(sample: Array[Array[Float]]): Model = {
    val dim = sample(0).length
    val n = sample.length
    val mean = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0; while (i < dim) { mean(i) += v(i); i += 1 }
    }
    var i = 0; while (i < dim) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      var a = 0
      while (a < dim) {
        val xa = v(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += xa * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) {
        cov(a)(b) /= math.max(1, n - 1); cov(b)(a) = cov(a)(b); b += 1
      }
      a += 1
    }
    val cm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((r, c) => cov(r)(c))
    val es = breeze.linalg.eigSym(cm)
    // eigSym returns ascending eigenvalues; flip to descending
    val order = es.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2)
    val total = math.max(es.eigenvalues.toArray.map(math.max(_, 0.0)).sum, 1e-300)
    val basis = order.map { j =>
      Array.tabulate(dim)(r => es.eigenvectors(r, j))
    }
    val varExp = order.map(j => math.max(es.eigenvalues(j), 0.0) / total)
    Model(dim, basis, varExp)
  }

  /** Corpus projected to the top `d` components: (id, rvec array<float>
    * of length d). One codegen'd map (RotateVector + slice), memoized.
    */
  def reduce(spark: SparkSession, dir: String, d: Int = ReducedDim): DataFrame =
    Memo(dir, "pca.reduced", d) {
      val m = train(spark, dir)
      require(d >= 1 && d <= m.dim, s"reduced dim $d out of range 1..${m.dim}")
      Memo.cached(corpus(spark, dir)
        .select(col("id"),
          slice(RotateFunctions.rotateVector(col("vec"), m.basis), 1, d).as("rvec")))
    }

  /** Driver-side projection of one query (twin of the kernel path). */
  private[graft] def reduceQuery(q: Array[Float], m: Model, d: Int): Array[Float] = {
    require(q.length == m.dim, s"query dim ${q.length} != corpus dim ${m.dim}")
    Array.tabulate(d) { i =>
      var acc = 0.0; var j = 0
      while (j < m.dim) { acc += m.basis(i)(j) * q(j); j += 1 }
      acc.toFloat
    }
  }

  /** Top-k for one query: reduced-space l2 shortlist of k·refine
    * candidates (d'-dim scan), then the exact full-space re-rank under
    * `metric`. `refine <= 1` ranks purely in reduced space.
    */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float],
           k: Int, d: Int = ReducedDim, refine: Int = 8,
           metric: Int = VectorMetric.L2): DataFrame = {
    val m = train(spark, dir)
    val rq = reduceQuery(queryVec, m, d)
    val rdist = VectorFunctions.l2Distance(col("rvec"), typedlit(rq.toSeq))
    val shortlist = reduce(spark, dir, d)
      .select(col("id").as("neighbor_id"), rdist.as("dist"))
      .orderBy(col("dist"), col("neighbor_id"))
      .limit(k * math.max(1, refine))
    if (refine <= 1) shortlist.limit(k)
    else {
      val exact = Ivf.distCol(metric, col("vec"), typedlit(queryVec.toSeq))
      shortlist.select(col("neighbor_id"))
        .join(corpus(spark, dir).withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .select(col("neighbor_id"), exact.as("dist"))
        .orderBy(col("dist"), col("neighbor_id"))
        .limit(k)
    }
  }

  /** Driver query: PCA-reduced top-10 for the vec_id=0 query, with
    * the dimension-budget columns. Oracle-checked through
    * [[pcaTopkOracleSql]]; PcaSpec additionally pins the orthonormal
    * basis, the descending variance profile, and the recall ladder.
    */
  def pcaTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val m = train(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(topK(spark, dir, q, k), k)
      .select(col("neighbor_id"), col("rank"),
        lit(m.dim).as("raw_dim"), lit(ReducedDim).as("reduced_dim"))
  }

  /** DYNAMIC oracle (literal-embedding pattern): the basis comes from
    * a driver-side eigendecomposition DuckDB cannot re-derive, so the
    * top-d' trained component rows are inlined as a DOUBLE[][] literal
    * — the same knn_text_query trick, just for a matrix — and DuckDB
    * independently re-projects corpus + query (with the kernel's
    * cast-to-float at each component), replays the reduced-space
    * shortlist (k·refine, (dist, id) tiebreak), and re-ranks the
    * shortlist under exact full-space L2. Trains the memoized model if
    * cold, so Verify emits literals from the SAME model that produced
    * the parquet.
    */
  def pcaTopkOracleSql(spark: SparkSession, dir: String,
                       k: Int = 10, refine: Int = 8): String = {
    val m = train(spark, dir)
    val d = ReducedDim
    val basisLit = (0 until d)
      .map(i => m.basis(i).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""WITH basis AS (SELECT CAST($basisLit AS DOUBLE[][]) AS b),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |rq AS (
       |  SELECT i AS comp,
       |    CAST(sum(b.b[i+1][j+1] * CAST(q.qv[j+1] AS DOUBLE)) AS FLOAT) AS x
       |  FROM basis b, q,
       |    UNNEST(range(0, $d)) t(i), UNNEST(range(0, len(q.qv))) u(j)
       |  GROUP BY 1),
       |rc AS (
       |  SELECT e.vec_id, i AS comp,
       |    CAST(sum(b.b[i+1][j+1] * CAST(e.embedding[j+1] AS DOUBLE)) AS FLOAT) AS x
       |  FROM basis b, embeddings e,
       |    UNNEST(range(0, $d)) t(i), UNNEST(range(0, len(e.embedding))) u(j)
       |  GROUP BY 1, 2),
       |rd AS (
       |  SELECT rc.vec_id,
       |    sqrt(list_sum(list(
       |      (CAST(rc.x AS DOUBLE) - CAST(rq.x AS DOUBLE))
       |      * (CAST(rc.x AS DOUBLE) - CAST(rq.x AS DOUBLE))
       |      ORDER BY rc.comp))) AS dist
       |  FROM rc JOIN rq USING (comp) GROUP BY 1),
       |short AS (SELECT vec_id FROM rd ORDER BY dist, vec_id LIMIT ${k * refine}),
       |ref AS (
       |  SELECT s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]),
       |                  (SELECT CAST(qv AS DOUBLE[]) FROM q)) AS dist
       |  FROM short s JOIN embeddings e USING (vec_id))
       |SELECT vec_id AS neighbor_id,
       |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank,
       |  (SELECT CAST(len(qv) AS INTEGER) FROM q) AS raw_dim,
       |  $d AS reduced_dim
       |FROM ref ORDER BY dist, vec_id LIMIT $k""".stripMargin
  }
}
