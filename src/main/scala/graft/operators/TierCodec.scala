package graft.operators

import graft.functions.{BqFunctions, RotateFunctions, Sq8Functions, VectorFunctions, VectorMetric}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one persisted flat tier owns on the shared [[TierLifecycle]]
  * seam, and nothing else: its training, its encode expression and
  * payload column, its `_model`/`_meta` sidecar format, and its
  * disk-query distance. Bucketing, state arithmetic, crash-consistent
  * landing, the swap and the driver key are the lifecycle's, so the
  * three tiers cannot drift on them.
  *
  * A codec's parameters (SQ8's metric, PCA's reduced dim) shape a
  * BUILD only; every later append, query and rebuild reads them back
  * from the tree's `_meta`, so a tree keeps the shape it was built
  * with. `M` is the model as persisted, parameters included.
  */
sealed abstract class TierCodec[M] {

  /** The state file's `algorithm`. */
  def kind: String

  /** The column the encoded rows carry beside `id`. */
  def payload: String

  /** The payload column's type, as DDL. */
  def payloadType: String

  /** The session corpus's memoized model and its encoded
    * (id, payload) rows: a build reuses the in-session tier.
    */
  def corpus(spark: SparkSession, dir: String): (M, DataFrame)

  /** Train on an explicit RAW (id, vec) frame, keeping the persisted
    * parameters of `like` (the rebuild path).
    */
  def retrain(vecs: DataFrame, like: M): M

  /** The payload of one raw vector column under `m`. */
  def encode(m: M, vec: Column): Column

  /** Raw vector dimension the model accepts. */
  def dim(m: M): Int

  def writeSidecars(spark: SparkSession, m: M, buckets: Int, path: String): Unit

  /** The persisted model and bucket count. */
  def readSidecars(spark: SparkSession, path: String): (M, Int)

  /** Distance of each stored payload row to `queryVec` (double). */
  def distance(m: M, queryVec: Array[Float]): Column

  protected def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

object TierCodec {
  final case class Sq8Model(q: Sq8.Model, metric: Int)
  final case class PcaModel(m: Pca.Model, rdim: Int)
}

/** SQ8 (4×): per-dimension (min, scale) byte codes; `_model` rows
  * (pos, lo, scale), `_meta` (dim, metric, buckets). Cosine trees
  * encode normalized vectors; the disk query ranks by the symmetric
  * dequantized distance.
  */
final case class Sq8Codec(metric: Int = VectorMetric.L2)
    extends TierCodec[TierCodec.Sq8Model] {
  import TierCodec.Sq8Model
  def kind = "sq8"
  def payload = "codes"
  def payloadType = "BINARY"

  def corpus(spark: SparkSession, dir: String): (Sq8Model, DataFrame) =
    (Sq8Model(Sq8.train(spark, dir, metric), metric),
      Sq8.encode(spark, dir, metric))

  def retrain(vecs: DataFrame, like: Sq8Model): Sq8Model =
    Sq8Model(Sq8.trainFrom(Ivf.metricTransform(vecs, like.metric)), like.metric)

  def encode(m: Sq8Model, vec: Column): Column =
    Sq8Functions.sq8Encode(Ivf.metricVec(vec, m.metric), m.q.mins, m.q.scales)

  def dim(m: Sq8Model): Int = m.q.mins.length

  def writeSidecars(spark: SparkSession, m: Sq8Model, buckets: Int,
                    path: String): Unit = {
    import spark.implicits._
    write(m.q.mins.indices.map(i => (i, m.q.mins(i), m.q.scales(i)))
      .toDF("pos", "lo", "scale"), s"$path/_model")
    write(Seq((dim(m), m.metric, buckets)).toDF("dim", "metric", "buckets"),
      s"$path/_meta")
  }

  def readSidecars(spark: SparkSession, path: String): (Sq8Model, Int) = {
    val rows = IndexLifecycle.readSidecar(spark, s"$path/_model",
        "pos INT, lo DOUBLE, scale DOUBLE")
      .sortBy(_.getInt(0))
    val meta = IndexLifecycle.readSidecar(spark, s"$path/_meta",
        "dim INT, metric INT, buckets INT").head
    (Sq8Model(Sq8.Model(rows.map(_.getDouble(1)), rows.map(_.getDouble(2))),
      meta.getInt(1)), meta.getInt(2))
  }

  def distance(m: Sq8Model, queryVec: Array[Float]): Column =
    Sq8Functions.sq8Distance(
      lit(Sq8.encodeQuery(Pq.metricQuery(queryVec, m.metric), m.q)),
      col("codes"), m.q.scales)
}

/** BQ (256×): sign bits against per-dimension means; `_model` rows
  * (pos, mu), `_meta` (dim, buckets). No metric: one sign-bit model
  * serves l2 and cosine (Bq.train's contract), and the disk query
  * ranks by hamming alone — stack `refineWith` for the exact re-rank.
  * The tier most worth persisting at 100 TB: the bit codes are 0.4% of
  * the raw corpus, small enough to sit in memory cluster-wide.
  */
case object BqCodec extends TierCodec[Bq.Model] {
  def kind = "bq"
  def payload = "codes"
  def payloadType = "BINARY"

  def corpus(spark: SparkSession, dir: String): (Bq.Model, DataFrame) =
    (Bq.train(spark, dir), Bq.encode(spark, dir))

  def retrain(vecs: DataFrame, like: Bq.Model): Bq.Model = Bq.trainFrom(vecs)

  def encode(m: Bq.Model, vec: Column): Column =
    BqFunctions.bqEncode(vec, m.thresholds)

  def dim(m: Bq.Model): Int = m.dim

  def writeSidecars(spark: SparkSession, m: Bq.Model, buckets: Int,
                    path: String): Unit = {
    import spark.implicits._
    write(m.thresholds.indices.map(i => (i, m.thresholds(i))).toDF("pos", "mu"),
      s"$path/_model")
    write(Seq((m.dim, buckets)).toDF("dim", "buckets"), s"$path/_meta")
  }

  def readSidecars(spark: SparkSession, path: String): (Bq.Model, Int) = {
    val rows = IndexLifecycle.readSidecar(spark, s"$path/_model",
        "pos INT, mu DOUBLE")
      .sortBy(_.getInt(0))
    val meta = IndexLifecycle.readSidecar(spark, s"$path/_meta",
        "dim INT, buckets INT").head
    (Bq.Model(rows.map(_.getDouble(1))), meta.getInt(1))
  }

  def distance(m: Bq.Model, queryVec: Array[Float]): Column =
    BqFunctions.hammingDistance(lit(Bq.encodeQuery(queryVec, m)), col("codes"),
      m.nBytes).cast("double")
}

/** PCA: the top `rdim` components of the trained eigenbasis; `_model`
  * rows (pos, comp) hold the FULL square basis — an append replays the
  * build's rotate-then-slice verbatim (RotateVector is a square-matrix
  * kernel), so copied content ties byte-exactly — and `_meta` is
  * (dim, rdim, buckets). The disk query ranks by reduced-space l2.
  */
final case class PcaCodec(rdim: Int = Pca.ReducedDim)
    extends TierCodec[TierCodec.PcaModel] {
  import TierCodec.PcaModel
  def kind = "pca"
  def payload = "rvec"
  def payloadType = "ARRAY<FLOAT>"

  def corpus(spark: SparkSession, dir: String): (PcaModel, DataFrame) =
    (PcaModel(Pca.train(spark, dir), rdim), Pca.reduce(spark, dir, rdim))

  def retrain(vecs: DataFrame, like: PcaModel): PcaModel =
    PcaModel(Pca.trainFrom(vecs), like.rdim)

  def encode(m: PcaModel, vec: Column): Column =
    slice(RotateFunctions.rotateVector(vec, m.m.basis), 1, m.rdim)

  def dim(m: PcaModel): Int = m.m.dim

  def writeSidecars(spark: SparkSession, m: PcaModel, buckets: Int,
                    path: String): Unit = {
    import spark.implicits._
    write((0 until m.m.dim).map(i => (i, m.m.basis(i).toSeq)).toDF("pos", "comp"),
      s"$path/_model")
    write(Seq((m.m.dim, m.rdim, buckets)).toDF("dim", "rdim", "buckets"),
      s"$path/_meta")
  }

  def readSidecars(spark: SparkSession, path: String): (PcaModel, Int) = {
    val basis = IndexLifecycle.readSidecar(spark, s"$path/_model",
        "pos INT, comp ARRAY<DOUBLE>")
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val meta = IndexLifecycle.readSidecar(spark, s"$path/_meta",
        "dim INT, rdim INT, buckets INT").head
    require(basis.length == meta.getInt(0) && basis.forall(_.length == basis.length),
      "basis must be the full square matrix")
    (PcaModel(Pca.Model(basis.length, basis, Array.empty), meta.getInt(1)),
      meta.getInt(2))
  }

  def distance(m: PcaModel, queryVec: Array[Float]): Column =
    VectorFunctions.l2Distance(col("rvec"),
      typedlit(Pca.reduceQuery(queryVec, m.m, m.rdim).toSeq))
}
