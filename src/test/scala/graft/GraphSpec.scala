package graft

import graft.operators.{GraphIndex, IndexLifecycle}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** Graph-based ANN serving + lifecycle contracts: beam-search recall
  * vs the exact contract, and the persisted tree's structural
  * invariants under search-then-link appends and the rebuild.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val k = 5

  test("graph_topk: k rows per query, recall floor vs the exact contract") {
    val got = GraphIndex.graphTopk(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = Tables.embeddingsCount(spark, sf)
    assert(got.length == n * k, s"${got.length} rows != n*k")
    val gotByQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = operators.Ivf
      .exactEdges(spark, sf, k, graft.functions.VectorMetric.Cosine)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      (ex & gotByQ.getOrElse(q, Set.empty)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"graph serving recall $mean < 0.95 (measured 0.987)")
  }

  test("graph lifecycle: out-degree contracts, untouched adjacency stable, rebuilt tree serves") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec")
    val tmp = s"$tmpDir/g"
    try {
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val n = Tables.embeddingsCount(spark, sf)
      val s1 = GraphIndex.build(spark, sf, tmp, k)
      assert(s1.version == 1 && s1.size == n)
      def adjacency(): Map[Long, Set[Long]] =
        GraphIndex.readEdges(spark, tmp).select("src", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val before = adjacency()
      val d = 20L
      val s2 = GraphIndex.append(
        vecs.filter(col("id") < d).select((col("id") + n).as("id"), col("vec")), tmp)
      assert(s2.dirtyCount == d && s2.size == n + d)
      val after = adjacency()
      // every appended node has EXACTLY k out-edges, all to existing nodes
      (n until n + d).foreach { id =>
        val out = after.getOrElse(id, Set.empty)
        assert(out.size == k, s"appended $id out-degree ${out.size} != $k")
        assert(out.forall(_ < n), s"appended $id links to a non-existing node")
      }
      // no node exceeds the reverse cap R = 2k
      after.foreach { case (src, out) =>
        assert(out.size <= GraphIndex.reverseCap(k),
          s"node $src degree ${out.size} exceeds the R cap")
      }
      // nodes NOT touched by a reverse edge keep their adjacency exactly
      val touched = after.filter { case (src, out) => src < n && out.exists(_ >= n) }.keySet
      before.foreach { case (src, out) =>
        if (!touched.contains(src))
          assert(after(src) == out, s"untouched node $src adjacency changed")
      }
      // the appended vectors landed in _vectors
      assert(GraphIndex.readVectors(spark, tmp).count() == n + d)
      // rebuild: version++, dirt reset, appended rows first-class
      val s3 = GraphIndex.rebuild(spark, tmp)
      assert(s3.version == 2 && s3.dirtyCount == 0 && !s3.isDirty && s3.size == n + d)
      assert(IndexLifecycle.status(spark, tmp).version == 2, "state must round-trip")
      assert(GraphIndex.readVectors(spark, tmp).count() == n + d)
      // the rebuilt graph links appended nodes among themselves too:
      // every node (old and new) has out-degree k after re-descent
      val rebuilt = adjacency()
      assert(rebuilt.size == n + d, "every node must have adjacency after rebuild")
      rebuilt.foreach { case (src, out) =>
        assert(out.size == k, s"rebuilt node $src out-degree ${out.size} != $k")
      }
      // the persisted tree SERVES: each appended node's duplicate
      // source (identical vector content re-keyed) is its nearest
      // neighbor at distance ~0, and the coarse entry lands it in the
      // same list — rank 1 for every probe query
      import spark.implicits._
      val probeQueries = Tables.embeddings(spark, sf)
        .filter(col("vec_id") < d)
        .select((col("vec_id") + 2 * n + d).as("id"), col("embedding").as("vec"))
      val served = GraphIndex.queryGraphBatch(spark, tmp, probeQueries, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val hits = (0L until d).count { i =>
        // twins of source vector i: i itself and the appended i+n —
        // one of them must sit at rank 1
        served.exists(t => t._1 == i + 2 * n + d &&
          (t._2 == i || t._2 == i + n) && t._3 == 1)
      }
      assert(hits == d,
        s"persisted graph serving found only $hits/$d duplicate twins at rank 1")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("filtered graph serving: selector-only results, recall floor, starved path exact") {
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val selector = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    val got = GraphIndex.graphTopkFiltered(spark, sf, k, selector)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (_, nb) => allowed(nb) },
      "a non-selector neighbor reached the filtered results")
    assert(got.groupBy(_._1).forall(_._2.length == k), "k rows per query")
    // recall vs filtered-exact cosine on 5 probe queries
    val all = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], bv: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * bv(i); na += a(i).toDouble * a(i); nb += bv(i).toDouble * bv(i); i += 1 }
      if (na == 0 || nb == 0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.filter(t => allowed(t._1) && t._1 != qid)
        .map { case (id, v) => (cos(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact & byQ(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"filtered graph recall $mean < 0.8 (widened beam)")
    // starved selector: the policy serves the exact cosine pre-filter
    import spark.implicits._
    val tiny = (100L until 110L).toDF("id")
    val starved = GraphIndex.graphTopkFiltered(spark, sf, k, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val tinyIds = (100L until 110L).toSet
    assert(starved.forall { case (_, nb, _) => tinyIds(nb) })
    val q0 = all.find(_._1 == 0L).get._2
    val want = all.filter(t => tinyIds(t._1))
      .map { case (id, v) => (cos(q0, v), id) }
      .sortBy(identity).take(k).map(_._2).toSeq
    val got0 = starved.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    assert(got0 == want, s"starved filtered graph must rank exactly: $got0 != $want")
  }

  /** Mean served recall of graphTopk vs the exact contract under one
    * metric — the ONE recall definition every floor test in this spec
    * pins against (a second hand-rolled copy could drift silently).
    */
  private def servedRecall(dir: String, metric: Int): Double = {
    val got = GraphIndex.graphTopk(spark, dir, k, metric).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = operators.Ivf.exactEdges(spark, dir, k, metric)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rs = exact.map { case (q, ex) =>
      (ex & got.getOrElse(q, Set.empty)).size.toDouble / k }
    rs.sum / rs.size
  }

  test("sf0.1 graph serving holds the measured floor (the hard near-uniform regime)") {
    // the bare-descent substrate saturates at 0.742 there (5 iters on
    // 2,000 near-uniform vectors; 12 iters = 2.4x build -> 0.899
    // served, a measured negative); the round-14 two-phase builder
    // exact-refines the worst-kNN-radius fraction and lifts the
    // substrate to 0.824 / served to 0.936 (tools/RefineProbe at commit 3ba9126) — this
    // pins that measurement against regression
    val mean = servedRecall("/root/testdata/sf0.1",
      graft.functions.VectorMetric.Cosine)
    assert(mean >= 0.9, s"sf0.1 graph serving recall $mean < 0.9 (measured 0.936)")
  }

  test("l2 graph serving: k rows per query, recall floor vs the l2 exact contract") {
    val got = GraphIndex.graphTopk(spark, sf, k, graft.functions.VectorMetric.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = Tables.embeddingsCount(spark, sf)
    assert(got.length == n * k, s"${got.length} rows != n*k")
    val gotByQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = operators.Ivf
      .exactEdges(spark, sf, k, graft.functions.VectorMetric.L2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      (ex & gotByQ.getOrElse(q, Set.empty)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"l2 graph serving recall $mean < 0.95 (measured 0.989)")
  }

  test("sf0.1 dot and l2 graph serving hold measured floors") {
    // measured 0.935 / 0.938 under the round-14 two-phase builder
    // (was 0.876 / 0.879 on the bare descent); floors pin the
    // measurement against regression at the cosine test's 0.9
    // convention, not a tuned target
    val big = "/root/testdata/sf0.1"
    val dotR = servedRecall(big, graft.functions.VectorMetric.Dot)
    val l2R = servedRecall(big, graft.functions.VectorMetric.L2)
    assert(dotR >= 0.9, s"sf0.1 dot served recall $dotR < 0.9 (measured 0.935)")
    assert(l2R >= 0.9, s"sf0.1 l2 served recall $l2R < 0.9 (measured 0.938)")
  }

  test("dot graph serving: k rows per query, recall floor vs the dot exact contract") {
    val dot = graft.functions.VectorMetric.Dot
    val got = GraphIndex.graphTopk(spark, sf, k, dot)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = Tables.embeddingsCount(spark, sf)
    assert(got.length == n * k, s"${got.length} rows != n*k")
    val gotByQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = operators.Ivf
      .exactEdges(spark, sf, k, dot)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      (ex & gotByQ.getOrElse(q, Set.empty)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"dot graph serving recall $mean < 0.95 (measured 0.986)")
  }

  test("two-phase builder: monotone refinement, untouched nodes verbatim, degree k") {
    val (g, _) = operators.Dedup.descentGraph(spark, sf, k)
    val rg = GraphIndex.refinedGraph(spark, sf, k)
    def radii(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => (r.getLong(0), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val before = radii(g)
    val after = radii(rg)
    assert(after.keySet == before.keySet, "refinement must not drop nodes")
    // the merge is monotone: no node's kNN radius worsens, and the
    // refined fraction genuinely improves somewhere
    before.foreach { case (src, r0) =>
      assert(after(src) <= r0, s"node $src radius worsened: ${after(src)} > $r0")
    }
    assert(before.exists { case (src, r0) => after(src) < r0 },
      "phase 2 changed nothing — the refinement is vacuous on this corpus")
    // every node still carries exactly k out-edges
    val deg = rg.groupBy("src").count().collect().map(_.getLong(1))
    assert(deg.forall(_ == k), "refined out-degree must stay k")
    // nodes OUTSIDE the worst set keep their descent edges verbatim
    val n = Tables.embeddingsCount(spark, sf)
    val w = (n * GraphIndex.RefinePermille / 1000).toInt
    val worst = before.toSeq.sortBy { case (src, r0) => (-r0, src) }
      .take(w).map(_._1).toSet
    def adj(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ga = adj(g); val rga = adj(rg)
    before.keySet.filterNot(worst).foreach { src =>
      assert(rga(src) == ga(src), s"untouched node $src adjacency changed")
    }
  }

  test("graph_stats: exact symmetrized-degree histogram") {
    val got = GraphIndex.graphStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the stats face reports on the SERVING graph (the refined
    // builder's output), not the bare descent substrate
    val edges = GraphIndex.refinedGraph(spark, sf, k)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges.flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
    val want = sym.groupBy(_._1).values.map(_.length.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want, s"degree histogram diverged: $got != $want")
    val n = Tables.embeddingsCount(spark, sf)
    assert(got.values.sum == n, "every node appears exactly once")
    assert(got.map { case (d, c) => d * c }.sum == sym.length.toLong,
      "weighted degrees = symmetrized edge count")
  }

  test("persisted filtered serving: selector-only results; starved = exact filtered ranking") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec_qf")
    val tmp = s"$tmpDir/g"
    try {
      import spark.implicits._
      GraphIndex.build(spark, sf, tmp, k)
      val n = Tables.embeddingsCount(spark, sf)
      val queries = Tables.embeddings(spark, sf)
        .filter(col("vec_id") < 10)
        .select((col("vec_id") + 2 * n).as("id"), col("embedding").as("vec"))
      // mid-selectivity selector (even ids): k selector-only rows/query
      val even = Tables.embeddings(spark, sf)
        .filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("id"))
      val served = GraphIndex.queryGraphBatchFiltered(spark, tmp, queries, k, even)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(served.forall(_._2 % 2 == 0), "every served id obeys the selector")
      assert(served.groupBy(_._1).forall(_._2.length == k),
        "k rows per query at mid selectivity")
      val corpus = Tables.embeddings(spark, sf)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .toMap
      def cosDist(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          acc += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        val norms = math.sqrt(na) * math.sqrt(nb)
        if (norms == 0.0) 1.0 else 1.0 - acc / norms
      }
      // recall floor at mid selectivity vs the exact filtered top-k
      // (the widened-from-serving-base probe budget must actually find
      // the survivors — selector obedience alone can't catch a probe
      // budget collapse)
      val evenIds = corpus.keys.filter(_ % 2 == 0).toSeq
      val recalls = (0L until 10L).map { q =>
        val exact = evenIds.map(id => (id, cosDist(corpus(q), corpus(id))))
          .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
        val mine = served.filter(_._1 == q + 2 * n).map(_._2).toSet
        (exact & mine).size.toDouble / k
      }
      val meanRecall = recalls.sum / recalls.size
      assert(meanRecall >= 0.8,
        s"persisted filtered serving recall $meanRecall < 0.8")
      // starved selector: the scan IS the exact filtered ranking
      val ids = Seq(3L, 7L, 11L)
      val got = GraphIndex.queryGraphBatchFiltered(
          spark, tmp, queries, k, ids.toDF("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3))
      val want = (0L until 10L).flatMap { q =>
        ids.map(id => (id, cosDist(corpus(q), corpus(id))))
          .sortBy { case (id, d) => (d, id) }.zipWithIndex
          .map { case ((id, _), i) => (q + 2 * n, id, i + 1) }
      }
      assert(got.toSeq == want,
        s"starved filtered serving must rank exactly: $got != $want")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("l2 graph lifecycle: metric persists in _meta, serving runs the tree's own metric") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec_l2")
    val tmp = s"$tmpDir/g"
    try {
      val l2 = graft.functions.VectorMetric.L2
      val n = Tables.embeddingsCount(spark, sf)
      val d = 10L
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      GraphIndex.build(spark, sf, tmp, k, metric = l2)
      assert(GraphIndex.readMeta(spark, tmp) == ((k, l2)),
        "the tree must carry its metric")
      // append re-keyed duplicates, then serve: each probe query's
      // duplicate twin is its l2-nearest at distance 0, rank 1
      GraphIndex.append(
        vecs.filter(col("id") < d).select((col("id") + n).as("id"), col("vec")), tmp)
      import spark.implicits._
      val probeQueries = Tables.embeddings(spark, sf)
        .filter(col("vec_id") < d)
        .select((col("vec_id") + 2 * n).as("id"), col("embedding").as("vec"))
      val served = GraphIndex.queryGraphBatch(spark, tmp, probeQueries, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val hits = (0L until d).count { i =>
        served.exists(t => t._1 == i + 2 * n &&
          (t._2 == i || t._2 == i + n) && t._3 == 1)
      }
      assert(hits == d,
        s"l2 persisted serving found only $hits/$d duplicate twins at rank 1")
      // a legacy metric-less _meta reads as cosine (what it was built as)
      spark.createDataFrame(Seq((k, GraphIndex.GraphBuckets))).toDF("k", "buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_meta")
      assert(GraphIndex.readMeta(spark, tmp) ==
        ((k, graft.functions.VectorMetric.Cosine)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("mid-selectivity filtered serving: selector-only, near-exact vs the filtered contract") {
    import org.apache.spark.sql.functions.{lit, pmod}
    // vec_id ≡ 1 mod 17 (~6%): past the ×16 widening cap, far from
    // starved — the regime the round-12 verdict flagged, now served by
    // the compressed filtered batch (exact refine of the k·4 shortlist)
    val selector = Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(17L)) === 1)
      .select(col("vec_id").as("id"))
    val allowed = selector.collect().map(_.getLong(0)).toSet
    assert(allowed.size > 20, "the spec selector must not be starved")
    val got = GraphIndex.graphTopkFiltered(spark, sf, k, selector)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (_, nb) => allowed(nb) },
      "a non-selector neighbor reached the mid-selectivity results")
    assert(got.groupBy(_._1).forall(_._2.length == k), "k rows per query")
    // vs the filtered-exact cosine contract over ALL queries: the
    // routed branch re-ranks its compressed shortlist exactly, so the
    // only loss is a true neighbor pushed below the k·4 shortlist —
    // measured 0.999 here (0.90 at sf0.1's 2000-row corpus)
    val all = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], bv: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * bv(i); na += a(i).toDouble * a(i); nb += bv(i).toDouble * bv(i); i += 1 }
      if (na == 0 || nb == 0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = all.map { case (qid, q) =>
      val exact = all.filter(t => allowed(t._1) && t._1 != qid)
        .map { case (id, v) => (cos(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact & byQ(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"mid-selectivity filtered recall $mean < 0.95")
  }

  test("streamed graph appends: dirt accumulates across batches, a replayed batch no-ops") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec3")
    val tmp = s"$tmpDir/g"
    try {
      val n = Tables.embeddingsCount(spark, sf)
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      GraphIndex.build(spark, sf, tmp, k)
      val a1 = vecs.filter(col("id") < 5).select((col("id") + n).as("id"), col("vec"))
      val a2 = vecs.filter(col("id") >= 5 && col("id") < 10)
        .select((col("id") + n).as("id"), col("vec"))
      val s1 = GraphIndex.append(a1, tmp, Some(0L), Some("stream-a"))
      assert(s1.dirtyCount == 5 && s1.size == n + 5)
      val s2 = GraphIndex.append(a2, tmp, Some(1L), Some("stream-a"))
      assert(s2.dirtyCount == 10 && s2.size == n + 10)
      val before = GraphIndex.readVectors(spark, tmp).count()
      // a sink retry replaying an applied batch must change NOTHING
      val s3 = GraphIndex.append(a2, tmp, Some(1L), Some("stream-a"))
      assert(s3.dirtyCount == s2.dirtyCount && s3.size == s2.size)
      assert(GraphIndex.readVectors(spark, tmp).count() == before,
        "a replayed batch landed duplicate vectors")
      // a DIFFERENT stream's batch 1 applies under its own watermark
      val b1 = vecs.filter(col("id") >= 10 && col("id") < 12)
        .select((col("id") + n).as("id"), col("vec"))
      val s4 = GraphIndex.append(b1, tmp, Some(1L), Some("stream-b"))
      assert(s4.size == n + 12,
        "a fresh stream's batches must not be swallowed by another's watermark")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("graph compact: accreted vbuckets collapse, content neutral, serving unchanged") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec_cp")
    val tmp = s"$tmpDir/g"
    try {
      val n = Tables.embeddingsCount(spark, sf)
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      GraphIndex.build(spark, sf, tmp, k)
      // two appends: each lands one extra part-file in its touched
      // vbuckets (the accretive moveInFiles path)
      GraphIndex.append(vecs.filter(col("id") < 4)
        .select((col("id") + n).as("id"), col("vec")), tmp)
      GraphIndex.append(vecs.filter(col("id") >= 4 && col("id") < 8)
        .select((col("id") + n).as("id"), col("vec")), tmp)
      val fsys = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def vbucketFiles(): Map[String, Int] = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$tmp/_vectors")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("vbucket="))
        .map(d => d.getPath.getName -> fsys.listStatus(d.getPath)
          .count(_.getPath.getName.startsWith("part-"))).toMap
      assert(vbucketFiles().values.exists(_ > 1),
        "appends must have accreted part-files in some vbucket")
      val idsBefore = GraphIndex.readVectors(spark, tmp)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val sBefore = graft.operators.IndexLifecycle.status(spark, tmp)
      val rewrote = GraphIndex.compact(spark, tmp, maxFiles = 1)
      assert(rewrote > 0, "the accreted vbuckets must be rewritten")
      assert(vbucketFiles().values.forall(_ == 1),
        "every vbucket must collapse to one file at maxFiles=1")
      val idsAfter = GraphIndex.readVectors(spark, tmp)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(idsAfter == idsBefore, "compaction must be content-neutral")
      val sAfter = graft.operators.IndexLifecycle.status(spark, tmp)
      assert(sAfter == sBefore, "compaction must not touch lifecycle state")
      // the compacted tree still serves (no marker left behind)
      assert(GraphIndex.queryGraphBatch(spark, tmp,
        vecs.filter(col("id") === 0L), k).count() == k)
      // idempotent
      assert(GraphIndex.compact(spark, tmp, maxFiles = 1) == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("graph delete: repair-link rewires in-edges, untouched stable, deleted never served") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec_del")
    val tmp = s"$tmpDir/g"
    try {
      import org.apache.spark.sql.functions.lit
      import spark.implicits._
      val n = Tables.embeddingsCount(spark, sf)
      GraphIndex.build(spark, sf, tmp, k)
      val s1 = IndexLifecycle.status(spark, tmp)
      def adjacency(): Map[Long, Seq[(Long, Double)]] =
        GraphIndex.readEdges(spark, tmp).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      val before = adjacency()
      // a purely-missing batch is a NO-OP (the reference's return False)
      val s2 = GraphIndex.delete((10000L until 10005L).toDF("id"), tmp)
      assert(s2 == s1, "missing ids must be a state no-op")
      assert(adjacency() == before, "missing ids must not touch the tree")
      // real delete: every 11th id (+ one missing id in the same batch)
      val delIds = (0L until n).filter(_ % 11 == 0)
      val s3 = GraphIndex.delete(
        (delIds :+ 20000L).toDF("id"), tmp)
      assert(s3.dirtyCount == delIds.length && s3.size == n - delIds.length,
        "dirt/size must count only ids actually present")
      val delSet = delIds.toSet
      assert(GraphIndex.readVectors(spark, tmp).collect()
        .forall(r => !delSet(r.getLong(0))), "deleted rows left in _vectors")
      val after = adjacency()
      after.foreach { case (src, out) =>
        assert(!delSet(src), s"deleted $src still has out-edges")
        assert(out.forall(e => !delSet(e._1)), s"$src still links a deleted id")
        assert(out.size <= GraphIndex.reverseCap(k),
          s"$src degree ${out.size} exceeds the R cap after repair")
      }
      // repair contract: each touched node's adjacency is EXACTLY the
      // top-R of (its surviving edges ∪ the deleted hops' surviving
      // out-neighbors), ties (dist, id) — replicating the engine fold
      val all = Tables.embeddings(spark, sf).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0 || nb == 0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
      }
      val touched = before.filter { case (src, out) =>
        !delSet(src) && out.exists(e => delSet(e._1)) }.keySet
      touched.foreach { u =>
        val kept = before(u).filter(e => !delSet(e._1))
        val inherited = before(u).map(_._1).filter(delSet).flatMap(v =>
          before.getOrElse(v, Seq.empty).map(_._1)
            .filter(w => !delSet(w) && w != u)
            .map(w => (w, cos(all(u), all(w)))))
        val expected = (kept ++ inherited).distinct
          .groupBy(_._1).map { case (id, ds) => (id, ds.map(_._2).min) }.toSeq
          .sortBy { case (id, dist) => (dist, id) }
          .take(GraphIndex.reverseCap(k)).map(_._1).toSet
        val got = after(u).map(_._1).toSet
        assert(got == expected, s"repair of $u: $got != $expected")
      }
      // untouched nodes keep their very adjacency
      before.foreach { case (src, out) =>
        if (!delSet(src) && !touched(src))
          assert(after(src).toSet == out.toSet, s"untouched $src changed")
      }
      // serving never returns a deleted id
      val probes = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 3 * n).as("id"), col("embedding").as("vec"))
      val served = GraphIndex.queryGraphBatch(spark, tmp, probes, k)
        .collect().map(_.getLong(1))
      assert(served.forall(!delSet(_)), "a deleted id was served")
      // retry is idempotent: the ids are gone, so the batch no-ops
      val s4 = GraphIndex.delete(delIds.toDF("id"), tmp)
      assert(s4 == s3, "re-deleting removed ids must be a no-op")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("graph delete reads and rewrites only the deleted ids' buckets: bounded jobs") {
    withBuiltTree("graft_gspec_deljobs") { tmp =>
      // every 5th id: a 100-id delete on the 500-vector tree
      val ids = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("id"))
      val jobs = TestSession.jobsOf { GraphIndex.delete(ids, tmp); () }
      info(s"100-id delete on a 500-vector tree: $jobs jobs")
      assert(jobs <= 28, s"graph delete ran $jobs jobs")
      assert(GraphIndex.readVectors(spark, tmp).count() == 400)
    }
  }

  test("graph delete on an l2 tree: repair scores with the tree's own metric") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec_dl2")
    val tmp = s"$tmpDir/g"
    try {
      import spark.implicits._
      val l2m = graft.functions.VectorMetric.L2
      val n = Tables.embeddingsCount(spark, sf)
      GraphIndex.build(spark, sf, tmp, k, metric = l2m)
      def adjacency(): Map[Long, Seq[(Long, Double)]] =
        GraphIndex.readEdges(spark, tmp).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      val before = adjacency()
      val delIds = (0L until n).filter(_ % 17 == 0)
      val s = GraphIndex.delete(delIds.toDF("id"), tmp)
      assert(s.size == n - delIds.length)
      val delSet = delIds.toSet
      val after = adjacency()
      val all = Tables.embeddings(spark, sf).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
      def l2d(a: Array[Float], b: Array[Float]): Double = {
        var s2 = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i); s2 += d * d; i += 1
        }
        math.sqrt(s2)
      }
      // the repair merge must rank inherited hops by L2, not cosine
      val touched = before.filter { case (src, out) =>
        !delSet(src) && out.exists(e => delSet(e._1)) }.keySet
      touched.foreach { u =>
        val kept = before(u).filter(e => !delSet(e._1))
        val inherited = before(u).map(_._1).filter(delSet).flatMap(v =>
          before.getOrElse(v, Seq.empty).map(_._1)
            .filter(w => !delSet(w) && w != u)
            .map(w => (w, l2d(all(u), all(w)))))
        val expected = (kept ++ inherited).distinct
          .groupBy(_._1).map { case (id, ds) => (id, ds.map(_._2).min) }.toSeq
          .sortBy { case (id, dist) => (dist, id) }
          .take(GraphIndex.reverseCap(k)).map(_._1).toSet
        assert(after(u).map(_._1).toSet == expected,
          s"l2 repair of $u diverged from the l2 top-R merge")
      }
      // serving after delete stays l2 and never returns a deleted id
      val probes = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 3 * n).as("id"), col("embedding").as("vec"))
      val served = GraphIndex.queryGraphBatch(spark, tmp, probes, k)
        .collect().map(_.getLong(1))
      assert(served.forall(!delSet(_)), "a deleted id was served from the l2 tree")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("rebuild restores a crashed delete's vector-bucket aside (no bucket loss)") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec5")
    val tmp = s"$tmpDir/g"
    try {
      val n = Tables.embeddingsCount(spark, sf)
      GraphIndex.build(spark, sf, tmp, k)
      val s = IndexLifecycle.status(spark, tmp)
      // simulate delete crashing between its two vbucket renames: state
      // already written (size − d), one live bucket sitting at the
      // underscore-prefixed aside (invisible to parquet reads), the
      // replacement still in staging
      val fsys = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(s"$tmp/_vectors/vbucket=3")
      val aside = new org.apache.hadoop.fs.Path(s"$tmp/_vectors/_old_vbucket=3")
      assert(fsys.exists(live), "probe bucket must exist")
      val bucketRows = spark.read.parquet(s"$tmp/_vectors/vbucket=3").count()
      assert(fsys.rename(live, aside))
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/_graph_tmp/vectors_rw"))
      IndexLifecycle.writeState(spark, tmp,
        s.copy(isDirty = true, dirtyCount = 3L, size = s.size - 3))
      // without the restore, the re-descent would read n − |bucket 3|
      // vectors and the bucket would be silently gone forever
      val s2 = GraphIndex.rebuild(spark, tmp)
      assert(s2.size == n,
        s"rebuild lost the aside bucket ($bucketRows rows): size ${s2.size} != $n")
      assert(GraphIndex.readVectors(spark, tmp).count() == n)
      // and a stale aside (replacement already live) is dropped, not
      // restored over the new content
      GraphIndex.build(spark, sf, tmp, k)
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/_vectors/_old_vbucket=5"))
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/_graph_tmp"))
      val s3 = GraphIndex.rebuild(spark, tmp)
      assert(s3.size == n)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$tmp/_vectors/_old_vbucket=5")))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("rebuild reconciles a crash between append's state write and vector move-in") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec4")
    val tmp = s"$tmpDir/g"
    try {
      import org.apache.spark.sql.functions.{lit, pmod}
      val n = Tables.embeddingsCount(spark, sf)
      val d = 7L
      GraphIndex.build(spark, sf, tmp, k)
      val s = IndexLifecycle.status(spark, tmp)
      // simulate append's crash window: the batch FULLY staged under
      // _graph_tmp/vectors and the state written (size + watermark
      // account for it), but the move-in never ran
      Tables.embeddings(spark, sf).filter(col("vec_id") < d)
        .select((col("vec_id") + n).as("id"), col("embedding").as("vec"),
          lit(0).as("cluster_id"))
        .withColumn("vbucket",
          pmod(col("id"), lit(GraphIndex.GraphBuckets.toLong)).cast("int"))
        .repartition(col("vbucket"))
        .write.partitionBy("vbucket").parquet(s"$tmp/_graph_tmp/vectors")
      val crashed = s.copy(isDirty = true, dirtyCount = s.dirtyCount + d,
        size = s.size + d).withAppliedBatch("stream-x", 0L)
      IndexLifecycle.writeState(spark, tmp, crashed)
      // rebuild must MOVE THE STAGED BATCH IN, not discard it: the
      // watermark says batch 0 applied, so the stream never replays it
      val s2 = GraphIndex.rebuild(spark, tmp)
      assert(s2.size == n + d, "reconciled rebuild must carry the staged batch")
      assert(GraphIndex.readVectors(spark, tmp).count() == n + d,
        "staged vectors lost — the crash window dropped an accounted batch")
      assert(s2.appliedBatchFor("stream-x") == 0L, "watermark must carry forward")
      // and the reconciled rows are LINKED: every node has k out-edges
      val deg = GraphIndex.readEdges(spark, tmp).select("src").distinct().count()
      assert(deg == n + d, "reconciled rows must be re-descended into the graph")
      // the discard case still holds: staging the state does NOT
      // account for (crash before the state write) is dropped
      Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
        .select((col("vec_id") + 2 * n).as("id"), col("embedding").as("vec"),
          lit(0).as("cluster_id"))
        .withColumn("vbucket",
          pmod(col("id"), lit(GraphIndex.GraphBuckets.toLong)).cast("int"))
        .repartition(col("vbucket"))
        .write.partitionBy("vbucket").parquet(s"$tmp/_graph_tmp/vectors")
      val s3 = GraphIndex.rebuild(spark, tmp)
      assert(s3.size == n + d && GraphIndex.readVectors(spark, tmp).count() == n + d,
        "unaccounted staging must be discarded, not resurrected")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("append refuses a half-applied mutation marker") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_gspec2")
    val tmp = s"$tmpDir/g"
    try {
      GraphIndex.build(spark, sf, tmp, k)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/_graph_tmp"))
      val vecs = Tables.embeddings(spark, sf)
        .select((col("vec_id") + 10000L).as("id"), col("embedding").as("vec"))
        .limit(5)
      val e = intercept[RuntimeException] { GraphIndex.append(vecs, tmp) }
      assert(e.getMessage.contains("half-applied"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** A fresh tree at `tmp/g` over sf0.001, removed after `f`. */
  private def withBuiltTree(prefix: String)(f: String => Unit): Unit = {
    val tmpDir = java.nio.file.Files.createTempDirectory(prefix)
    try {
      GraphIndex.build(spark, sf, s"$tmpDir/g", k)
      f(s"$tmpDir/g")
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(c => String.valueOf(c.getMessage)).toSeq

  test("a failed append or rebuild leaves nothing cached and the state unmoved") {
    withBuiltTree("graft_gspec_leak") { tmp =>
      import spark.implicits._
      val s0 = IndexLifecycle.status(spark, tmp)
      val cached = spark.sparkContext.getPersistentRDDs.size
      // a 3-dim batch against 64-dim buckets fails the linking kernel
      val e = intercept[Exception] {
        GraphIndex.append(Seq((99999L, Seq(1f, 2f, 3f))).toDF("id", "vec"), tmp)
      }
      assert(causes(e).exists(_.contains("embedding dimension mismatch")),
        s"a wrong-dim append must fail the dimension check, got ${causes(e)}")
      assert(spark.sparkContext.getPersistentRDDs.size == cached,
        "a failed append left its batch cached")
      assert(IndexLifecycle.status(spark, tmp) == s0, "a failed append moved the state")
      // rebuilding a tree whose every vector was deleted fails the
      // quantizer trainer's own precondition
      GraphIndex.delete(GraphIndex.readVectors(spark, tmp).select("id"), tmp)
      val s1 = IndexLifecycle.status(spark, tmp)
      val cached1 = spark.sparkContext.getPersistentRDDs.size
      val e2 = intercept[Exception](GraphIndex.rebuild(spark, tmp))
      assert(causes(e2).exists(_.contains("empty corpus")),
        s"a rebuild over no contents must say so, got ${causes(e2)}")
      assert(spark.sparkContext.getPersistentRDDs.size == cached1,
        "a failed rebuild left its contents cached")
      assert(IndexLifecycle.status(spark, tmp) == s1, "a failed rebuild moved the state")
    }
  }

  test("a tree of the pre-partition-local layout is refused until a rebuild converts it") {
    withBuiltTree("graft_gspec_old") { tmp =>
      import spark.implicits._
      val n = Tables.embeddingsCount(spark, sf)
      val nb = GraphIndex.readTreeMeta(spark, tmp).buckets
      assert(GraphIndex.readTreeMeta(spark, tmp).layout == GraphIndex.LocalLayout)
      // the old writer's `_meta` has no layout, and its edges may cross
      // buckets: add one such edge
      Seq((k, nb, GraphIndex.DefaultMetric)).toDF("k", "buckets", "metric")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_meta")
      Seq((0L, 1L, 0.5)).toDF("src", "dst", "dist")
        .coalesce(1).write.mode("append").parquet(s"$tmp/src_bucket=0")
      val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
        .select((col("vec_id") + 2 * n).as("id"), col("embedding").as("vec"))
      def refused(what: String)(call: => Any): Unit = {
        val e = intercept[Exception](call)
        assert(causes(e).exists(_.contains("predates the partition-local layout")),
          s"$what must refuse an old-layout tree, got ${causes(e)}")
      }
      refused("queryGraphBatch")(GraphIndex.queryGraphBatch(spark, tmp, queries, k).collect())
      refused("queryGraphBatchFiltered")(GraphIndex.queryGraphBatchFiltered(
        spark, tmp, queries, k, queries.select("id")).collect())
      refused("append")(GraphIndex.append(queries, tmp))
      refused("delete")(GraphIndex.delete(Seq(5L).toDF("id"), tmp))
      refused("compact")(GraphIndex.compact(spark, tmp, maxFiles = 1))
      // rebuild converts it: the layout recorded, every edge in-bucket
      val s = GraphIndex.rebuild(spark, tmp)
      assert(s.size == n)
      val meta = GraphIndex.readTreeMeta(spark, tmp)
      assert(meta.layout == GraphIndex.LocalLayout && meta.buckets == GraphIndex.bucketCount(n))
      val edges = GraphIndex.readEdges(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(edges.nonEmpty && edges.forall { case (a, b) =>
        java.lang.Math.floorMod(a, meta.buckets.toLong) ==
          java.lang.Math.floorMod(b, meta.buckets.toLong) }, "an edge crosses buckets")
      assert(GraphIndex.queryGraphBatch(spark, tmp, queries, k).count() == 3L * k)
    }
  }
}
