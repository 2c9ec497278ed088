package graft

import graft.operators.Pca
import org.scalatest.funsuite.AnyFunSuite

/** PCA contracts: orthonormal basis, descending variance profile that
  * beats the uniform share (top-16 of 64 must explain > 25%), the
  * recall ladder with exact refine load-bearing (this corpus is
  * near-isotropic — PCA's worst case, measured 0.26/0.76/0.90 at
  * refine 1/8/16), kernel ≡ driver projection, determinism.
  */
class PcaSpec extends AnyFunSuite {
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

  test("basis is orthonormal; variance profile descends and beats the uniform share") {
    val m = Pca.train(spark, sf)
    val d = m.dim
    for (i <- 0 until d; j <- i until d) {
      var acc = 0.0; var p = 0
      while (p < d) { acc += m.basis(i)(p) * m.basis(j)(p); p += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(acc - want) < 1e-8, s"basis row dot($i,$j) = $acc")
    }
    assert(m.varExplained.zip(m.varExplained.tail).forall { case (a, b) => a >= b - 1e-12 },
      "variance shares must descend")
    val top16 = m.varExplained.take(16).sum
    assert(top16 > 0.25 && top16 < 1.0, s"top-16 share $top16 not in (0.25, 1)")
    assert(math.abs(m.varExplained.sum - 1.0) < 1e-9)
  }

  test("reduced corpus is d'=16 floats and the kernel matches the driver projection") {
    val m = Pca.train(spark, sf)
    val byId = all.toMap
    val rows = Pca.reduce(spark, sf).collect()
    assert(rows.length == 500)
    rows.take(50).foreach { r =>
      val kernel = r.getSeq[Float](1)
      assert(kernel.length == 16)
      val driver = Pca.reduceQuery(byId(r.getLong(0)), m, 16).toSeq
      kernel.zip(driver).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-4, s"kernel/driver projection drift: $a vs $b")
      }
    }
  }

  private def meanRecall(refine: Int, k: Int = 10, nq: Int = 10): Double = {
    val recalls = (0L until nq.toLong).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val got = Pca.topK(spark, sf, q, k, refine = refine)
        .collect().map(_.getLong(0)).toSet
      (exactTopK(q, k) & got).size.toDouble / k
    }
    recalls.sum / recalls.length
  }

  test("recall ladder: reduced-space-only is coarse on an isotropic corpus, refine restores precision") {
    val r1 = meanRecall(1)
    val r8 = meanRecall(8)
    val r16 = meanRecall(16)
    assert(r1 >= 0.15, s"reduced-only recall $r1 below floor")
    assert(r8 >= 0.65, s"refine=8 recall $r8 below floor")
    assert(r16 >= 0.80, s"refine=16 recall $r16 below floor")
    assert(r16 >= r1)
  }

  test("training is deterministic across invalidation; driver query shape; dim guard") {
    val a = Pca.train(spark, sf).basis.map(_.toSeq).toSeq
    Memo.invalidate(sf)
    assert(Pca.train(spark, sf).basis.map(_.toSeq).toSeq == a)
    val rows = Pca.pcaTopk(spark, sf).collect()
    assert(rows.length == 10 && rows.map(_.getInt(1)).toSeq == (1 to 10))
    assert(rows.head.getInt(2) == 64 && rows.head.getInt(3) == 16)
    assert(rows.head.getLong(0) == 0L, "self should rank first after the exact refine")
    val err = intercept[IllegalArgumentException] {
      Pca.topK(spark, sf, Array.fill(32)(0.0f), 5)
    }
    assert(err.getMessage.contains("dim"))
  }
}
