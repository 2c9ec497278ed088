package graft

import graft.functions.{RotateFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rotation kernel contracts: orthonormality, distance preservation,
  * determinism — the properties OPQ-style quantization relies on.
  */
class RotateSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("random rotation is orthonormal (rows unit-norm, pairwise orthogonal)") {
    val r = RotateFunctions.randomRotation(16)
    for (i <- 0 until 16; j <- 0 until 16) {
      val dot = (0 until 16).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"row $i . row $j = $dot")
    }
    // deterministic: same seed, same matrix
    assert(RotateFunctions.randomRotation(16).map(_.toSeq).toSeq ==
      r.map(_.toSeq).toSeq)
  }

  test("learned OPQ: orthonormal rotation, objective <= plain PQ, recall not worse") {
    import graft.operators.Pq
    val opq = Pq.trainOpq(spark, sf)
    val plain = Pq.train(spark, sf)
    val r = opq.rotation.get
    val dim = opq.dim
    // (a) the learned matrix is a genuine rotation
    for (i <- 0 until dim; j <- i until dim) {
      val dot = (0 until dim).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-6, s"row $i . row $j = $dot")
    }
    // (b) deterministic across memo invalidation
    Memo.invalidate(sf)
    assert(Pq.trainOpq(spark, sf).rotation.get.map(_.toSeq).toSeq ==
      r.map(_.toSeq).toSeq)

    // (c) identity-initialized alternating minimization must not end
    // worse than plain PQ on the shared reconstruction objective
    val all = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(_.getSeq[Float](1).toArray)
    def objective(model: Pq.Model): Double = {
      val rot = model.rotation.getOrElse(
        Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0))
      all.map { v0 =>
        val v = Array.tabulate(dim)(i =>
          (0 until dim).map(j => rot(i)(j) * v0(j)).sum.toFloat)
        (0 until model.m).map { mi =>
          val cb = model.codebooks(mi)
          cb.map { c =>
            (0 until model.subDim).map { p =>
              val d = v(mi * model.subDim + p) - c(p); d * d
            }.sum
          }.min
        }.sum
      }.sum / all.length
    }
    val objOpq = objective(opq)
    val objPlain = objective(plain)
    assert(objOpq <= objPlain * 1.001,
      s"OPQ objective $objOpq worse than plain PQ $objPlain")

    // (d) the recall consequence: pure-ADC (refine=1, where quantization
    // error is the ONLY error source) recall@10 does not drop
    def recall(opqOn: Boolean): Double = {
      val k = 10
      val ids = Tables.embeddings(spark, sf).select("vec_id", "embedding")
        .collect().map(row => (row.getLong(0), row.getSeq[Float](1).toArray))
      val rs = (0L until 10L).map { qid =>
        val q = ids.find(_._1 == qid).get._2
        val exact = ids.map { case (id, v) =>
          (v.zip(q).map { case (x, y) => (x - y).toDouble * (x - y) }.sum, id)
        }.sortBy(identity).take(k).map(_._2).toSet
        val got = Pq.topK(spark, sf, q, k, refine = 1, opq = opqOn)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size.toDouble / k
      }
      rs.sum / rs.length
    }
    val rOpq = recall(true)
    val rPlain = recall(false)
    assert(rOpq >= rPlain - 1e-9,
      s"OPQ pure-ADC recall $rOpq dropped below plain PQ $rPlain")
  }

  test("cosine OPQ trains on the normalized corpus and does not rank worse than cosine PQ") {
    import graft.functions.VectorMetric
    import graft.operators.Pq
    val cosOpq = Pq.trainOpq(spark, sf, metric = VectorMetric.Cosine)
    val l2Opq = Pq.trainOpq(spark, sf)
    // the cosine model is its own model: rotation learned on UNIT
    // vectors, not a re-badged copy of the l2 model (if metric were
    // dropped on the training path the two would be identical)
    assert(cosOpq.rotation.get.map(_.toSeq).toSeq !=
      l2Opq.rotation.get.map(_.toSeq).toSeq,
      "cosine OPQ must train on the normalized corpus, not share the l2 model")
    // and it is still a genuine rotation
    val r = cosOpq.rotation.get
    for (i <- 0 until cosOpq.dim; j <- i until cosOpq.dim) {
      val dot = (0 until cosOpq.dim).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-6, s"row $i . row $j = $dot")
    }
    // recall under the TRUE cosine ranking, pure ADC (refine=1):
    // rotated must not drop below unrotated — the same consequence the
    // l2 case pins, now through the normalized-corpus model
    val ids = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(row => (row.getLong(0), row.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    def recall(opqOn: Boolean): Double = {
      val k = 10
      val rs = (0L until 10L).map { qid =>
        val q = ids.find(_._1 == qid).get._2
        val exact = ids.map { case (id, v) => (-cos(v, q), id) }
          .sortBy(identity).take(k).map(_._2).toSet
        val got = Pq.topK(spark, sf, q, k, refine = 1,
          metric = VectorMetric.Cosine, opq = opqOn)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size.toDouble / k
      }
      rs.sum / rs.length
    }
    val rOpq = recall(true)
    val rPlain = recall(false)
    assert(rOpq >= rPlain - 1e-9,
      s"cosine OPQ pure-ADC recall $rOpq dropped below cosine PQ $rPlain")
  }

  test("rotation preserves pairwise l2 distances on the real corpus") {
    val rot = RotateFunctions.randomRotation(64)
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
      .select(col("vec_id"),
        col("embedding").as("v"),
        RotateFunctions.rotateVector(col("embedding"), rot).as("rv"))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        VectorFunctions.l2Distance(col("a.v"), col("b.v")).as("d"),
        VectorFunctions.l2Distance(col("a.rv"), col("b.rv")).as("rd"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (d, rd) = (r.getDouble(0), r.getDouble(1))
      // float32 output re-rounds each component; distances agree to
      // float precision, which is all a quantizer consumes
      assert(math.abs(d - rd) <= 1e-3 * math.max(1.0, d),
        s"distance not preserved: $d vs $rd")
    }
  }
}
