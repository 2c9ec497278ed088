package graft

import graft.operators.Bq
import org.scalatest.funsuite.AnyFunSuite

/** Binary-quantization contracts: kernel ≡ driver-side encoder
  * bit-for-bit, the recall ladder across refine levels (hamming alone
  * is the coarsest ranker in the family — refine restores precision),
  * dim guards, determinism. Floors sit under measured sf0.001 values
  * (refine 1/8/16 → 0.27/0.80/0.93 mean recall@10).
  */
class BqSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val all: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def exactTopK(q: Array[Float], k: Int): Set[Long] =
    all.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - q(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(identity).take(k).map(_._2).toSet

  test("codes are ceil(dim/8) bytes (256x vs raw) and the codegen kernel matches the driver encoder bit-for-bit") {
    val m = Bq.train(spark, sf)
    assert(m.nBytes == 8) // 64 dims -> 8 bytes vs 256 raw bytes
    val rows = Bq.encode(spark, sf).collect()
    assert(rows.length == 500)
    val byId = all.toMap
    rows.foreach { r =>
      val kernel = r.getAs[Array[Byte]](1)
      val driver = Bq.encodeQuery(byId(r.getLong(0)), m)
      assert(kernel.toSeq == driver.toSeq,
        s"kernel/driver encoder disagree on id ${r.getLong(0)}")
    }
  }

  private def meanRecall(refine: Int, k: Int = 10, nq: Int = 10): Double = {
    val recalls = (0L until nq.toLong).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val got = Bq.topK(spark, sf, q, k, refine = refine)
        .collect().map(_.getLong(0)).toSet
      (exactTopK(q, k) & got).size.toDouble / k
    }
    recalls.sum / recalls.length
  }

  test("recall ladder: hamming-only is coarse, exact refine restores precision monotonically") {
    val r1 = meanRecall(1)
    val r8 = meanRecall(8)
    val r16 = meanRecall(16)
    assert(r1 >= 0.15, s"hamming-only recall $r1 below floor")
    assert(r8 >= 0.70, s"refine=8 recall $r8 below floor")
    assert(r16 >= 0.85, s"refine=16 recall $r16 below floor")
    assert(r16 >= r1, s"refine must not hurt recall ($r1 -> $r16)")
  }

  test("training is deterministic across invalidation; driver query shape; dim guard") {
    val a = Bq.train(spark, sf).thresholds.toSeq
    Memo.invalidate(sf)
    assert(Bq.train(spark, sf).thresholds.toSeq == a)
    val rows = Bq.bqTopk(spark, sf).collect()
    assert(rows.length == 10 && rows.map(_.getInt(1)).toSeq == (1 to 10))
    assert(rows.head.getInt(2) == 256 && rows.head.getInt(3) == 8)
    assert(rows.head.getLong(0) == 0L, "self should rank first after the exact refine")
    val err = intercept[IllegalArgumentException] {
      Bq.topK(spark, sf, Array.fill(32)(0.0f), 5)
    }
    assert(err.getMessage.contains("dim"))
  }
}
