package graft

import graft.operators.Sq8
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 contracts: code bounds, near-exact recall (per-dimension
  * rounding is the only error source), determinism.
  */
class Sq8Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val all: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def exactTopK(q: Array[Float], k: Int): Seq[Long] =
    all.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - q(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(identity).take(k).map(_._2).toSeq

  test("codes are one byte per dimension (BINARY, the real 4x budget), full corpus encoded") {
    val rows = Sq8.encode(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]](1)
      assert(codes.length == 64) // 64 bytes vs 256 raw float bytes = 4x, in memory too
    }
  }

  test("SQ8 ranking is near-exact at 4x compression (recall@10 >= 0.9)") {
    val k = 10
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = exactTopK(q, k).toSet
      val got = Sq8.topK(spark, sf, q, k).collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"SQ8 recall $mean < 0.9 (per-query $recalls)")
  }

  test("cosine SQ8 via normalize-then-L2: recall@10 >= 0.9 vs exact cosine") {
    val k = 10
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.map { case (id, v) => (1.0 - cos(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      val got = Sq8.topK(spark, sf, q, k,
        metric = graft.functions.VectorMetric.Cosine)
        .collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"cosine SQ8 recall $mean < 0.9 (per-query $recalls)")
  }

  test("training is deterministic across invalidation; driver query shape") {
    val a = (Sq8.train(spark, sf).mins.toSeq, Sq8.train(spark, sf).scales.toSeq)
    Memo.invalidate(sf)
    val b = (Sq8.train(spark, sf).mins.toSeq, Sq8.train(spark, sf).scales.toSeq)
    assert(a == b)
    val rows = Sq8.sq8Topk(spark, sf).collect()
    assert(rows.length == 10 && rows.map(_.getInt(1)).toSeq == (1 to 10))
    assert(rows.head.getInt(2) == 256 && rows.head.getInt(3) == 64)
    assert(rows.head.getLong(0) == 0L, "self should rank first under SQ8")
  }
}
