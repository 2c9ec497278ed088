package graft.operators

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization — the 4× compression tier between raw
  * float32 and PQ's 32× (the standard FAISS SQ8 design): each dimension
  * linearly quantizes to one byte against per-dimension (min, max)
  * trained from the corpus. Ranking error is per-dimension rounding
  * only, so recall stays near-exact where PQ trades more — the tier a
  * pipeline picks when 4× memory is enough.
  *
  * Scale shape: training is ONE aggregation (per-dimension min/max via
  * posexplode + groupBy(pos) — n×dim skinny rows, map-side combined);
  * encoding and distance are native codegen'd expressions with the
  * parameter arrays as reference objects (functions/Sq8Exprs); the
  * query is the same scan + bounded top-k as exact k-NN, at a quarter
  * of the bytes.
  */
object Sq8 {

  case class Model(mins: Array[Double], scales: Array[Double])

  import graft.functions.VectorMetric

  /** Per-dimension (min, scale) from one corpus aggregation. Memo-keyed
    * on the corpus representation (Ivf.repr): dot shares the raw-corpus
    * model and codes with l2, same contract as Pq.train.
    */
  def train(spark: SparkSession, dir: String,
            metric: Int = VectorMetric.L2): Model =
    Memo(dir, "sq8.model", Ivf.repr(metric))(trainFrom(Ivf.metricCorpus(spark, dir, metric)))

  /** The training aggregation over an EXPLICIT (id, vec) frame — the
    * rebuild path's face (TierLifecycle.rebuild retrains on an index's
    * current logical contents, which no corpus dir names), deliberately
    * un-memoized: the dir-keyed [[train]] wraps it for the session
    * corpus. Cosine callers pass already-normalized vectors (the
    * Ivf.metricCorpus representation).
    */
  private[graft] def trainFrom(vecs: DataFrame): Model = {
    val rows = vecs
      .select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy("pos")
      .collect()
    require(rows.nonEmpty, "cannot train SQ8 on an empty corpus")
    val mins = rows.map(_.getFloat(1).toDouble)
    val scales = rows.map { r =>
      val span = r.getFloat(2).toDouble - r.getFloat(1).toDouble
      if (span <= 0.0) 1.0 else 255.0 / span
    }
    Model(mins, scales)
  }

  /** Corpus as (id, codes binary — ONE byte per dimension, the real 4×
    * budget in cache and shuffle, not just on disk).
    */
  def encode(spark: SparkSession, dir: String,
             metric: Int = VectorMetric.L2): DataFrame =
    Memo(dir, "sq8.codes", Ivf.repr(metric)) {
      val m = train(spark, dir, metric)
      Memo.cached(Ivf.metricCorpus(spark, dir, metric)
        .select(col("id"),
          graft.functions.Sq8Functions.sq8Encode(col("vec"), m.mins, m.scales)
            .as("codes")))
    }

  /** Driver-side quantize of one query vector through `m` (twin of the
    * sq8_encode kernel: round, then clamp to 0..255).
    */
  private[graft] def encodeQuery(q: Array[Float], m: Model): Array[Byte] =
    q.indices.map { i =>
      val c = Math.round((q(i) - m.mins(i)) * m.scales(i)).toInt
      Math.max(0, Math.min(255, c)).toByte
    }.toArray

  /** Top-k for one query vector, entirely over SQ8 codes (the query
    * quantizes through the same model; Cosine normalizes the query
    * against the normalized-corpus model).
    */
  def topK(spark: SparkSession, dir: String, queryVec: Array[Float],
           k: Int, metric: Int = VectorMetric.L2): DataFrame = {
    val m = train(spark, dir, metric)
    require(queryVec.length == m.mins.length,
      s"query dim ${queryVec.length} != corpus dim ${m.mins.length}")
    val qCodes = encodeQuery(Pq.metricQuery(queryVec, metric), m)
    val dist = graft.functions.Sq8Functions
      .sq8Distance(lit(qCodes), col("codes"), m.scales)
    encode(spark, dir, metric)
      .select(col("id").as("neighbor_id"), dist.as("dist"))
      .orderBy(col("dist"), col("neighbor_id"))
      .limit(k)
  }

  /** Driver query: SQ8 top-10 for the vec_id=0 query, with the
    * compression columns. Oracle-checked: the model is ONE corpus
    * aggregation, so DuckDB re-derives it inline (per-dim min/max →
    * scale), re-encodes corpus + query with the identical
    * round-and-clamp double arithmetic (integer codes match exactly —
    * both engines evaluate the same IEEE expressions; round is
    * half-up on the non-negative products), and re-ranks. Sq8Spec
    * additionally pins near-exact recall vs the raw-float ranking.
    */
  def sq8Topk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val m = train(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Ranks.byDistance(topK(spark, dir, q, k), k)
      .select(col("neighbor_id"), col("rank"),
        lit(m.mins.length * 4).as("raw_bytes_per_vec"),
        lit(m.mins.length).as("sq8_bytes_per_vec"))
  }

  def sq8TopkOracleSql: String =
    """WITH model AS (
      |  SELECT i AS pos,
      |    CAST(min(e.embedding[i+1]) AS DOUBLE) AS lo,
      |    CASE WHEN CAST(max(e.embedding[i+1]) AS DOUBLE)
      |           - CAST(min(e.embedding[i+1]) AS DOUBLE) <= 0 THEN 1.0
      |      ELSE 255.0 / (CAST(max(e.embedding[i+1]) AS DOUBLE)
      |           - CAST(min(e.embedding[i+1]) AS DOUBLE)) END AS scale
      |  FROM embeddings e, UNNEST(range(0, len(e.embedding))) t(i)
      |  GROUP BY 1),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |qc AS (
      |  SELECT m.pos, m.scale,
      |    greatest(0, least(255, CAST(round(
      |      (CAST(q.qv[m.pos+1] AS DOUBLE) - m.lo) * m.scale) AS INTEGER))) AS code
      |  FROM model m, q),
      |cc AS (
      |  SELECT e.vec_id, m.pos,
      |    greatest(0, least(255, CAST(round(
      |      (CAST(e.embedding[m.pos+1] AS DOUBLE) - m.lo) * m.scale) AS INTEGER))) AS code
      |  FROM embeddings e, model m),
      |d AS (
      |  SELECT cc.vec_id,
      |    sqrt(list_sum(list(
      |      ((cc.code - qc.code) / qc.scale) * ((cc.code - qc.code) / qc.scale)
      |      ORDER BY cc.pos))) AS dist
      |  FROM cc JOIN qc USING (pos) GROUP BY 1)
      |SELECT vec_id AS neighbor_id,
      |  CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank,
      |  (SELECT CAST(len(qv) * 4 AS INTEGER) FROM q) AS raw_bytes_per_vec,
      |  (SELECT CAST(len(qv) AS INTEGER) FROM q) AS sq8_bytes_per_vec
      |FROM d ORDER BY dist, vec_id LIMIT 10""".stripMargin
}
