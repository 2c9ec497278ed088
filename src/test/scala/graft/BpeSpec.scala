package graft

import graft.functions.BpeKernel
import graft.operators.Bpe
import org.scalatest.funsuite.AnyFunSuite

/** BPE contracts: the trained merge sequence matches an independent
  * naive implementation on a hand-checked corpus, train and apply use
  * the same fusing rule (kernel ≡ per-word reference application on
  * real documents), counts invariants, determinism.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Naive reference trainer: same tie contract (count desc, pair
    * lexicographic asc), re-derived from scratch each round.
    */
  private def naiveTrain(wordCounts: Seq[(String, Long)],
                         nMerges: Int): Seq[(String, String, Long)] = {
    var words = wordCounts.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 0 until nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (s, n) =>
        s.zip(s.tail).foreach(p => counts.update(p, counts.getOrElse(p, 0L) + n))
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, r, c))
        words = words.map { case (s, n) =>
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += (l + r); i += 2 }
            else { b += s(i); i += 1 }
          }
          (b.toVector, n)
        }
      }
    }
    out.toSeq
  }

  test("hand-checked toy corpus: merge sequence and counts match the naive trainer") {
    // "low" x5, "lower" x2, "newest" x6, "widest" x3 — the Sennrich
    // worked example (no end-of-word marker in this repo's contract)
    val wc = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val want = naiveTrain(wc, 8)
    // first merge must be (e,s): 6 newest + 3 widest = 9, beating
    // (s,t)=9 lexicographically? (e,s) < (s,t) at equal count 9 — the
    // tie contract decides, and both implementations must agree
    assert(want.head._1 == "e" && want.head._2 == "s" && want.head._3 == 9L)
    val mergesL = want.map(_._1).toArray
    val mergesR = want.map(_._2).toArray
    // applying the full learned table reproduces each word's final
    // symbol count from the naive side
    val naiveFinal = {
      var ws = wc.map { case (w, n) => (w.map(_.toString).toVector, n) }
      want.foreach { case (l, r, _) =>
        ws = ws.map { case (s, n) =>
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += (l + r); i += 2 }
            else { b += s(i); i += 1 }
          }
          (b.toVector, n)
        }
      }
      ws.map { case (s, _) => s.length }
    }
    val kernelFinal = wc.map { case (w, _) =>
      BpeKernel.tokenizeWord(w, mergesL, mergesR).length
    }
    assert(kernelFinal == naiveFinal,
      s"kernel application diverges from the naive trainer: $kernelFinal vs $naiveFinal")
  }

  test("corpus training is deterministic and matches the naive trainer end-to-end") {
    val m1 = Bpe.train(spark, sf)
    Memo.invalidate(sf)
    val m2 = Bpe.train(spark, sf)
    assert(m1.merges.toSeq == m2.merges.toSeq && m1.counts.toSeq == m2.counts.toSeq)
    assert(m1.merges.length == Bpe.NumMerges)
    // independent: naive trainer over the same word-frequency table
    val wc = Tables.documents(spark, sf)
      .selectExpr("explode(split(trim(lower(text)), '\\\\s+')) AS w")
      .where("length(w) > 0")
      .groupBy("w").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = naiveTrain(wc, Bpe.NumMerges)
    assert(m1.merges.toSeq == want.map(t => (t._1, t._2)))
    assert(m1.counts.toSeq == want.map(_._3))
  }

  test("token_count_bpe: kernel equals per-word reference application; invariants hold") {
    val m = Bpe.train(spark, sf)
    val mergesL = m.merges.map(_._1); val mergesR = m.merges.map(_._2)
    val rows = Bpe.tokenCountBpe(spark, sf).collect()
    assert(rows.length == 500)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, ws, bpe) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val text = texts(id)
      val want = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(w => BpeKernel.tokenizeWord(w, mergesL, mergesR).length.toLong).sum
      assert(bpe == want, s"doc $id: kernel $bpe != reference $want")
      val chars = text.trim.toLowerCase.split("\\s+").map(_.length.toLong).sum
      assert(ws <= bpe && bpe <= chars,
        s"doc $id: invariant ws($ws) <= bpe($bpe) <= chars($chars) violated")
    }
  }

  test("corpus_profile_bpe: rollup equals token_count_bpe aggregated per source") {
    import org.apache.spark.sql.functions._
    val want = Bpe.tokenCountBpe(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("sum_ws_tokens"),
        sum(col("bpe_tokens")).as("sum_bpe_tokens"))
      .orderBy("source")
      .collect().toSeq.map(_.toSeq)
    val got = Bpe.corpusProfileBpe(spark, sf).collect().toSeq.map(_.toSeq)
    assert(got == want)
    // the card's one-line sanity: learned tokens never undercut
    // whitespace tokens (merges only ever join within words)
    got.foreach { r =>
      assert(r(3).asInstanceOf[Long] >= r(2).asInstanceOf[Long])
    }
  }
}
