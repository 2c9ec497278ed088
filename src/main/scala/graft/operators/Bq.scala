package graft.operators

import graft.{Memo, Tables}
import graft.functions.{BqFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary (1-bit-per-dimension) quantization — the 256× tier that
  * completes the quantization ladder (raw float32 → SQ8 4× → PQ 32× →
  * BQ 256×): each dimension keeps only its sign against the trained
  * per-dimension MEAN, so a 64-dim vector is 8 BYTES and candidate
  * distance is XOR + popcount, the cheapest scan kernel possible.
  * Hamming over mean-centered sign bits is a monotone estimator of
  * angular closeness, so alone it is the coarsest ranker in the family
  * — its production shape is SHORTLIST + EXACT REFINE: hamming keeps
  * k·refine survivors from codes alone, and only that shortlist joins
  * back to raw vectors for a true-metric re-rank (BqSpec pins refined
  * recall; the same two-tier contract as Pq.adcCore / sdcBatch).
  *
  * Scale shape: training is ONE aggregation (per-dimension mean via
  * posexplode + groupBy(pos), map-side combined, dim rows out);
  * encoding is a pure codegen'd map (no shuffle); the hamming scan
  * reads 8 bytes per candidate and the exact re-rank touches
  * k·refine rows — at 100 TB the bit codes are small enough to sit
  * in memory cluster-wide (0.4% of the raw corpus).
  */
object Bq {

  case class Model(thresholds: Array[Double]) {
    def dim: Int = thresholds.length
    def nBytes: Int = (dim + 7) / 8
  }

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))

  /** Per-dimension mean thresholds from one corpus aggregation.
    * Sign bits against the MEAN (not zero) center each dimension, so
    * skewed dimensions still split ~50/50 — the bit carries maximum
    * information. One model serves l2 AND cosine ranking (the sign
    * pattern is scale-invariant per dimension; the refine step applies
    * the true metric).
    */
  def train(spark: SparkSession, dir: String): Model =
    Memo(dir, "bq.model")(trainFrom(corpus(spark, dir)))

  /** The training aggregation over an EXPLICIT (id, vec) frame — the
    * rebuild path's face, un-memoized (the dir-keyed [[train]] wraps
    * it for the session corpus).
    */
  private[graft] def trainFrom(vecs: DataFrame): Model = {
    val rows = vecs
      .select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg(col("x")).as("mu"))
      .orderBy("pos").collect()
    require(rows.nonEmpty, "cannot train BQ on an empty corpus")
    Model(rows.map(_.getDouble(1)))
  }

  /** Corpus as (id, codes binary of ceil(dim/8) bytes), memoized. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    Memo(dir, "bq.codes") {
      val m = train(spark, dir)
      Memo.cached(corpus(spark, dir)
        .select(col("id"), BqFunctions.bqEncode(col("vec"), m.thresholds).as("codes")))
    }

  /** Driver-side encode of one query vector (twin of the BqEncode
    * kernel, LSB-first bit packing).
    */
  private[graft] def encodeQuery(q: Array[Float], m: Model): Array[Byte] = {
    require(q.length == m.dim, s"query dim ${q.length} != corpus dim ${m.dim}")
    val out = new Array[Byte](m.nBytes)
    var i = 0
    while (i < m.dim) {
      if (q(i) > m.thresholds(i)) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Top-k for one query: hamming shortlist of k·refine candidates
    * from codes alone (8 bytes/candidate, bounded TakeOrdered), then
    * the exact re-rank on raw vectors under `metric`. `refine <= 1`
    * ranks purely by hamming (the coarsest, cheapest configuration).
    */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float],
           k: Int, refine: Int = 8,
           metric: Int = VectorMetric.L2): DataFrame = {
    val m = train(spark, dir)
    val qCodes = encodeQuery(queryVec, m)
    val ham = BqFunctions.hammingDistance(lit(qCodes), col("codes"), m.nBytes)
    val shortlist = encode(spark, dir)
      .select(col("id").as("neighbor_id"), ham.as("hdist"))
      .orderBy(col("hdist"), col("neighbor_id"))
      .limit(k * math.max(1, refine))
    if (refine <= 1)
      shortlist.select(col("neighbor_id"), col("hdist").cast("double").as("dist"))
        .limit(k)
    else {
      val exact = Ivf.distCol(metric, col("vec"), typedlit(queryVec.toSeq))
      shortlist.select(col("neighbor_id"))
        .join(corpus(spark, dir).withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .select(col("neighbor_id"), exact.as("dist"))
        .orderBy(col("dist"), col("neighbor_id"))
        .limit(k)
    }
  }

  /** Driver query: BQ top-10 for the vec_id=0 query, with the
    * byte-budget columns: 256 raw bytes → 8 code bytes at dim 64.
    * Oracle-checked: the model is one mean aggregation, so DuckDB
    * re-derives the thresholds inline, recomputes the sign bits and
    * hamming shortlist (k·refine with the (hdist, id) tiebreak), and
    * replays the exact full-space re-rank. The only cross-engine
    * hazard is a corpus value within float-ulp of its dimension MEAN
    * (summation-order sensitivity) — vanishingly unlikely and the gate
    * would surface it. BqSpec additionally pins refined recall and the
    * kernel's bit-exactness.
    */
  def bqTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val m = train(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(topK(spark, dir, q, k), k)
      .select(col("neighbor_id"), col("rank"),
        lit(m.dim * 4).as("raw_bytes_per_vec"),
        lit(m.nBytes).as("bq_bytes_per_vec"))
  }

  def bqTopkOracleSql: String =
    """WITH model AS (
      |  SELECT i AS pos, avg(CAST(e.embedding[i+1] AS DOUBLE)) AS mu
      |  FROM embeddings e, UNNEST(range(0, len(e.embedding))) t(i)
      |  GROUP BY 1),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |ham AS (
      |  SELECT e.vec_id,
      |    sum(CASE WHEN (CAST(e.embedding[m.pos+1] AS DOUBLE) > m.mu)
      |          <> (CAST(q.qv[m.pos+1] AS DOUBLE) > m.mu) THEN 1 ELSE 0 END) AS h
      |  FROM embeddings e, model m, q GROUP BY 1),
      |short AS (SELECT vec_id FROM ham ORDER BY h, vec_id LIMIT 80),
      |ref AS (
      |  SELECT s.vec_id,
      |    list_distance(CAST(e.embedding AS DOUBLE[]),
      |                  (SELECT CAST(qv AS DOUBLE[]) FROM q)) AS dist
      |  FROM short s JOIN embeddings e USING (vec_id))
      |SELECT vec_id AS neighbor_id,
      |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank,
      |  (SELECT CAST(len(qv) * 4 AS INTEGER) FROM q) AS raw_bytes_per_vec,
      |  (SELECT CAST((len(qv) + 7) // 8 AS INTEGER) FROM q) AS bq_bytes_per_vec
      |FROM ref ORDER BY dist, vec_id LIMIT 10""".stripMargin
}
