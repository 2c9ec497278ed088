package graft

import graft.operators.Mmr
import org.scalatest.funsuite.AnyFunSuite

/** E56 ann_topk_mmr contracts: the greedy MMR fold replicated exactly
  * by a driver-side fold over the collected fixture corpus (the same
  * doubles the engine computes: sim = 1.0 − (1.0 − acc/norms), λ·rel
  * − (1−λ)·max-sim scoring, ties by id), k rows per query, rank-1 =
  * the nearest neighbor, and the diversity guarantee that the picked
  * set is never MORE self-similar than the plain top-k.
  */
class MmrSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val k = Mmr.DefaultK
  private val c = Mmr.Candidates

  private lazy val corpus: Map[Long, Array[Double]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap

  // the engine's exact cosine double: 1.0 − (1.0 − acc/(√na·√nb))
  private def sim(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      acc += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val norms = math.sqrt(na) * math.sqrt(nb)
    val dist = if (norms == 0.0) 1.0 else 1.0 - acc / norms
    1.0 - dist
  }

  private lazy val got = Mmr.annTopkMmr(spark, sf).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

  private def mmrFold(q: Long): Seq[Long] = {
    val qv = corpus(q)
    val shortlist = corpus.keys.filter(_ != q).toSeq
      .map(id => (id, sim(qv, corpus(id))))
      .sortBy { case (id, s) => (-s, id) }.take(c)
    var selected = Vector(shortlist.head._1)
    var remaining = shortlist.tail
    (2 to k).foreach { _ =>
      val pick = remaining.map { case (id, rel) =>
        val pen = selected.map(s => sim(corpus(id), corpus(s))).max
        (id, Mmr.Lambda * rel - (1.0 - Mmr.Lambda) * pen)
      }.minBy { case (id, score) => (-score, id) }._1
      selected :+= pick
      remaining = remaining.filter(_._1 != pick)
    }
    selected
  }

  test("exact greedy replication on sampled queries") {
    val byQ = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(byQ.forall(_._2.size == k), "k rows per query")
    // every 25th query id: exact pick-sequence equality
    corpus.keys.toSeq.sorted.filter(_ % 25 == 0).foreach { q =>
      assert(byQ(q) == mmrFold(q), s"MMR sequence diverged for query $q")
    }
  }

  test("rank 1 is the plain nearest neighbor") {
    val r1 = got.filter(_._3 == 1).map(t => (t._1, t._2)).toMap
    corpus.keys.toSeq.sorted.take(40).foreach { q =>
      val nn = corpus.keys.filter(_ != q)
        .map(id => (id, sim(corpus(q), corpus(id))))
        .minBy { case (id, s) => (-s, id) }._1
      assert(r1(q) == nn, s"rank-1 must be the top-relevance pick for $q")
    }
  }

  test("nprobe twin: k rows per query, rank-1 = the shortlist's top-relevance member") {
    val served = Mmr.annTopkMmrNprobe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQ = served.groupBy(_._1)
    assert(byQ.forall(_._2.length == k), "k rows per query")
    val n = graft.Tables.embeddingsCount(spark, sf)
    val np = math.max(1, graft.operators.Ivf.defaultK(n) / 4)
    val short1 = graft.operators.Ivf
      .annBatch(spark, sf, c, graft.functions.VectorMetric.Cosine,
        nprobeOpt = Some(np))
      .filter(org.apache.spark.sql.functions.col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val r1 = served.filter(_._3 == 1).map(t => (t._1, t._2)).toMap
    assert(r1 == short1,
      "MMR rank-1 must be the nprobe shortlist's top-relevance member")
  }

  test("tiny corpus: shortlist smaller than k yields min(k, n-1) rows per query") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr_tiny").toString
    (0L until 4L).map(i =>
        (i, Array.tabulate(8)(j => ((i * 3 + j) % 7).toFloat / 7f + 0.1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Mmr.annTopkMmr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 4 && byQ.forall(_._2.length == 3),
      s"each of 4 queries selects its 3 available candidates: ${out.toSeq}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).toSet == (0L until 4L).toSet - q,
        "the whole shortlist is selected when it is smaller than k")
    }
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("MmrFold aggregate replicates the distributed rounds on hostile synthetic shortlists") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, lit}
    val lam = 0.7; val kk = 3
    // q1: score tie at rank 1 (ids 1,2 share simq) -> smaller id first;
    // q2: two candidates, k=3 -> 2 picks; q3: single pairless candidate
    // -> 1 pick; q4: pair (31, 30) missing -> 31 leaves the fold after
    // 30 is picked
    val cv = Seq(
      (1L, 1L, 0.9), (1L, 2L, 0.9), (1L, 3L, 0.5), (1L, 4L, 0.4),
      (2L, 10L, 0.8), (2L, 11L, 0.7),
      (3L, 20L, 0.6),
      (4L, 30L, 0.9), (4L, 31L, 0.8), (4L, 32L, 0.1))
      .toDF("query_id", "cand", "simq")
    def sym(rows: Seq[(Long, Long, Long, Double)]) =
      rows ++ rows.map { case (q, a, b, s) => (q, b, a, s) }
    val ps = sym(Seq(
      (1L, 1L, 2L, 0.95), (1L, 1L, 3L, 0.1), (1L, 1L, 4L, 0.2),
      (1L, 2L, 3L, 0.3), (1L, 2L, 4L, 0.15), (1L, 3L, 4L, 0.05),
      (2L, 10L, 11L, 0.2),
      (4L, 30L, 32L, 0.4), (4L, 31L, 32L, 0.3)))
      .toDF("query_id", "a", "b", "simab")
    val got = cv.select(col("query_id"), col("cand"), col("simq"),
        lit(null).cast("bigint").as("b"), lit(null).cast("double").as("simab"))
      .unionAll(ps.select(col("query_id"), col("a").as("cand"),
        lit(null).cast("double").as("simq"), col("b"), col("simab")))
      .groupBy("query_id")
      .agg(graft.functions.MmrFoldAgg.mmrFold(
        col("cand"), col("simq"), col("b"), col("simab"), kk, lam).as("sel"))
      .select(col("query_id"), explode(col("sel")).as("p"))
      .select(col("query_id"), col("p.cand"), col("p.rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // independent reference: the pre-optimization distributed-round
    // semantics (inner-join membership, pen = greatest fold, ties by id)
    val cvM = Seq((1L, 1L, 0.9), (1L, 2L, 0.9), (1L, 3L, 0.5), (1L, 4L, 0.4),
      (2L, 10L, 0.8), (2L, 11L, 0.7), (3L, 20L, 0.6),
      (4L, 30L, 0.9), (4L, 31L, 0.8), (4L, 32L, 0.1))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3)).toMap
    val psM = sym(Seq(
      (1L, 1L, 2L, 0.95), (1L, 1L, 3L, 0.1), (1L, 1L, 4L, 0.2),
      (1L, 2L, 3L, 0.3), (1L, 2L, 4L, 0.15), (1L, 3L, 4L, 0.05),
      (2L, 10L, 11L, 0.2),
      (4L, 30L, 32L, 0.4), (4L, 31L, 32L, 0.3)))
      .map(t => (t._1, t._2, t._3) -> t._4).toMap
    def ref(q: Long): Seq[Long] = {
      val cands = cvM(q).sortBy(c => (-c._2, c._1))
      var picks = Vector(cands.minBy(c => (-c._2, c._1))._1)
      var rem = cands.filter(_._1 != picks.head)
        .map { case (id, s) => (id, s, 0.0) }
      var r = 2
      while (r <= kk && rem.nonEmpty) {
        rem = rem.flatMap { case (id, s, pen) =>
          psM.get((q, id, picks.last)).map(p =>
            (id, s, if (r == 2) p else math.max(pen, p)))
        }
        if (rem.nonEmpty) {
          val pick = rem.minBy { case (id, s, pen) =>
            (-(lam * s - (1.0 - lam) * pen), id) }._1
          picks :+= pick
          rem = rem.filter(_._1 != pick)
        }
        r += 1
      }
      picks
    }
    Seq(1L, 2L, 3L, 4L).foreach { q =>
      assert(got(q) == ref(q), s"MmrFold diverged for query $q: ${got(q)} vs ${ref(q)}")
    }
  }

  test("lambda sweep: monotone trade, baseline equals the lambda=1 limit's shape") {
    val rows = Mmr.mmrLambdaSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Mmr.SweepLambdas.map(_.toLong),
      "one row per grid lambda, ordered")
    // the baseline column is the lambda-independent pure-relevance sum
    assert(rows.map(_._3).distinct.length == 1,
      "rel_topk_sum must not vary with lambda")
    // the trade is monotone on this corpus: relevance retained
    // non-decreasing in lambda, self-similarity bought non-decreasing
    // in lambda (higher lambda = closer to plain top-k = more relevant
    // AND more self-similar)
    rows.sliding(2).foreach { case Array((l1, r1, _, d1), (l2, r2, _, d2)) =>
      assert(r1 <= r2 + 1e-12, s"rel_sum not monotone: λ$l1=$r1 > λ$l2=$r2")
      assert(d1 <= d2 + 1e-12, s"div_sum not monotone: λ$l1=$d1 > λ$l2=$d2")
    }
    // no lambda retains more relevance than the pure top-k baseline
    rows.foreach { case (lp, rel, base, _) =>
      assert(rel <= base + 1e-12, s"λ$lp rel_sum $rel exceeds the top-k $base")
    }
  }

  test("selected set is never more self-similar than the plain top-k") {
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for {
        a <- ids; b <- ids if a < b
      } yield sim(corpus(a), corpus(b))
      ps.sum / ps.size
    }
    val byQ = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val qs = corpus.keys.toSeq.sorted.take(60)
    val (mmrSim, topkSim) = qs.map { q =>
      val topk = corpus.keys.filter(_ != q).toSeq
        .map(id => (id, sim(corpus(q), corpus(id))))
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
      (meanPairSim(byQ(q)), meanPairSim(topk))
    }.unzip
    assert(mmrSim.sum / qs.size <= topkSim.sum / qs.size + 1e-12,
      "MMR must not increase mean pairwise similarity of the selection")
  }

  /** The fold over (query_id, cand, simq) and (query_id, a, b, simab)
    * rows, picks in rank order per query.
    */
  private def foldOf(cv: org.apache.spark.sql.DataFrame, ps: org.apache.spark.sql.DataFrame,
                     kk: Int, lam: Double): Map[Long, Seq[Long]] = {
    import org.apache.spark.sql.functions.{col, explode, lit}
    cv.select(col("query_id"), col("cand"), col("simq"),
        lit(null).cast("bigint").as("b"), lit(null).cast("double").as("simab"))
      .unionAll(ps.select(col("query_id"), col("a").as("cand"),
        lit(null).cast("double").as("simq"), col("b"), col("simab")))
      .groupBy("query_id")
      .agg(graft.functions.MmrFoldAgg.mmrFold(
        col("cand"), col("simq"), col("b"), col("simab"), kk, lam).as("sel"))
      .select(col("query_id"), explode(col("sel")).as("p"))
      .select(col("query_id"), col("p.cand"), col("p.rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
  }

  test("MmrFold refuses a NaN simq or simab loudly instead of folding it") {
    import spark.implicits._
    val cv = Seq((1L, 1L, 0.9), (1L, 2L, 0.5)).toDF("query_id", "cand", "simq")
    val ps = Seq((1L, 1L, 2L, 0.3), (1L, 2L, 1L, 0.3)).toDF("query_id", "a", "b", "simab")
    def causes(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val nanQ = intercept[Exception](foldOf(
      cv.union(Seq((1L, 3L, Double.NaN)).toDF("query_id", "cand", "simq")), ps, 2, 0.7))
    assert(causes(nanQ).contains("NaN simq"), causes(nanQ))
    val nanAb = intercept[Exception](foldOf(
      cv, ps.union(Seq((1L, 1L, 2L, Double.NaN)).toDF("query_id", "a", "b", "simab")), 2, 0.7))
    assert(causes(nanAb).contains("NaN simab"), causes(nanAb))
  }

  test("a zero-norm embedding under cosine is at distance 1.0 and folds as similarity 0.0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.VectorFunctions
    // query (1, 0); candidate 2 is the zero vector
    val vs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 0f)), (3L, Seq(0.6f, 0.8f)), (4L, Seq(0f, 1f)))
      .toDF("cand", "v")
    val q = Seq(Seq(1f, 0f)).toDF("qv")
    val dists = vs.crossJoin(q)
      .select(col("cand"), VectorFunctions.cosineDistance(col("qv"), col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dists(2L) == 1.0, s"zero-norm cosine distance ${dists(2L)}")
    assert(vs.filter(col("cand") === 2L)
      .select(VectorFunctions.cosineDistance(col("v"), col("v"))).head().getDouble(0) == 1.0)
    val cv = vs.crossJoin(q).select(lit(1L).as("query_id"), col("cand"),
      (lit(1.0) - VectorFunctions.cosineDistance(col("qv"), col("v"))).as("simq"))
    val ps = vs.as("x").crossJoin(vs.as("y")).filter(col("x.cand") =!= col("y.cand"))
      .select(lit(1L).as("query_id"), col("x.cand").as("a"), col("y.cand").as("b"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("x.v"), col("y.v"))).as("simab"))
    // λ = 0.7: rank 1 is the query's twin (1); rank 2 is 3 (0.7·0.6 −
    // 0.3·0.6 beats the zero-sim 2 and 4); rank 3 is the zero vector 2,
    // whose penalty stays 0 where 4 carries sim 0.8 to candidate 3
    assert(foldOf(cv, ps, 3, 0.7) == Map(1L -> Seq(1L, 3L, 2L)))
  }
}
