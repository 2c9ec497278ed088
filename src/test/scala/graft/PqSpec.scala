package graft

import graft.operators.Pq
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization contracts: encoding shape, train determinism,
  * and ADC recall vs exact k-NN (the approximate path's quality pin).
  */
class PqSpec extends AnyFunSuite {
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

  test("encoding: M binary codes per vector (the real 32x budget in memory)") {
    val model = Pq.train(spark, sf)
    assert(model.m == Pq.SubspaceCount && model.subDim * model.m == model.dim)
    val rows = Pq.encode(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]](1)
      assert(codes.length == model.m) // 8 bytes vs 256 raw float bytes = 32x
    }
  }

  test("ADC shortlist + exact refine recalls the exact neighbors (32x compression)") {
    val k = 10
    def recallOf(refine: Int): Double = {
      val recalls = (0L until 5L).map { qid =>
        val q = all.find(_._1 == qid).get._2
        val exact = exactTopK(q, k).toSet
        val pq = Pq.topK(spark, sf, q, k, refine = refine)
          .collect().map(_.getLong(0)).toSet
        (exact & pq).size.toDouble / k
      }
      recalls.sum / recalls.length
    }
    // pure ADC: compressed-domain quality floor (quantization error only)
    assert(recallOf(1) >= 0.4, "pure-ADC recall collapsed")
    // shortlist 4k + exact re-rank: the production configuration
    val refined = recallOf(4)
    assert(refined >= 0.8, s"refined recall $refined < 0.8")
  }

  test("IVF-PQ probing all lists reproduces flat PQ; nprobe<k keeps useful recall") {
    val k = 10
    val q = all.find(_._1 == 0L).get._2
    // the RAW-code variant shares codes and tables with flat PQ, so
    // probe-all is exactly the flat scan (the residual layout has its
    // own per-cluster tables — pinned in the residual test below)
    val flat = Pq.topK(spark, sf, q, k).collect().map(_.getLong(0)).toSeq
    val probeAll = Pq.ivfPqTopK(spark, sf, q, k, nprobe = Int.MaxValue,
      residual = false).collect().map(_.getLong(0)).toSeq
    assert(probeAll == flat,
      "probe-all raw IVF-PQ must equal flat PQ (same codes, same ADC, same refine)")
    // a quarter of the lists: k results, meaningful overlap with exact
    val recalls = (0L until 5L).map { qid =>
      val qv = all.find(_._1 == qid).get._2
      val exact = exactTopK(qv, k).toSet
      val got = Pq.ivfPqTopK(spark, sf, qv, k, nprobe = 4)
        .collect().map(_.getLong(0))
      assert(got.length == k)
      (exact & got.toSet).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.3, s"IVF-PQ nprobe recall $mean unreasonably low")
  }

  test("residual IVF-PQ: pure-ADC recall at nprobe=nClusters/4 >= the raw layout's") {
    // the FAISS-standard claim, measured on this corpus: residual codes
    // buy recall at the SAME M-byte budget. refine=1 isolates the
    // quantization axis (no exact re-rank to mask it); nprobe = 16/4
    // is the serving configuration ivfpq_topk runs.
    val k = 10
    def hitsOf(residual: Boolean): Int =
      (0L until 10L).map { qid =>
        val qv = all.find(_._1 == qid).get._2
        val exact = exactTopK(qv, k).toSet
        val got = Pq.ivfPqTopK(spark, sf, qv, k, nprobe = 4, refine = 1,
          residual = residual).collect().map(_.getLong(0)).toSet
        (exact & got).size
      }.sum
    val res = hitsOf(residual = true)
    val raw = hitsOf(residual = false)
    assert(res >= raw,
      s"residual IVF-PQ recall ($res/100 hits) fell below raw ($raw/100)")
  }

  test("persisted IVF-PQ index: pruned probe reads, session-equivalent results") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Pq.writeIvfPq(spark, sf, path)
    val q = all.find(_._1 == 0L).get._2
    val nprobe = 4
    // pure compressed-domain (refine off) equals the in-session path
    // with the same probes and refine=1 — same codes, same ADC
    val inSession = Pq.ivfPqTopK(spark, sf, q, 10, nprobe, refine = 1)
      .collect().map(_.getLong(0)).toSeq
    val persisted = Pq.queryIvfPq(spark, path, q, 10, nprobe, refineWith = None)
      .collect().map(_.getLong(0)).toSeq
    assert(persisted == inSession)
    // refine via the vector table re-ranks exactly
    val refined = Pq.queryIvfPq(spark, path, q, 10, nprobe,
      refineWith = Some(Tables.embeddings(spark, sf)))
      .collect().map(_.getLong(0)).toSeq
    assert(refined.length == 10)
    // the probe scan is partition-pruned to the probed cluster dirs
    // (traverse AQE wrappers, should a plan turn adaptive: they hide
    // the scan from a plain executedPlan.collect)
    val res = Pq.queryIvfPq(spark, path, q, 10, nprobe, refineWith = None)
    res.collect()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qse.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(res.queryExecution.executedPlan)
    assert(scans.exists(_.metadata.get("PartitionFilters")
      .exists(_.contains("cluster_id"))),
      "no cluster_id partition filter in the persisted IVF-PQ probe scan")
  }

  test("residual batch ANN: recall >= the SDC batch at the same bytes and nprobe") {
    // the A24 pqr-tier claim, served in BATCH: asymmetric ranking over
    // residual codes (exact query side) beats symmetric code-to-code at
    // the SAME M-byte candidate budget. refine=1 on both — pure
    // compressed-domain, nothing masked by a re-rank.
    val k = 5
    val np = Some(4)
    def hitsOf(df: org.apache.spark.sql.DataFrame): Int = {
      val by = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      (0L until 20L).map { qid =>
        val q = all.find(_._1 == qid).get._2
        val exact = exactTopK(q, k + 1).filter(_ != qid).take(k).toSet
        (exact & by(qid)).size
      }.sum
    }
    val res = hitsOf(Pq.resBatch(spark, sf, k, nprobeOpt = np))
    val sdc = hitsOf(Pq.sdcBatch(spark, sf, k, nprobeOpt = np))
    assert(res >= sdc,
      s"residual ADC batch recall ($res/100 hits) fell below SDC ($sdc/100)")
    // and every query still gets k rows
    val counts = Pq.resBatch(spark, sf, k, nprobeOpt = np)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == k))
  }

  test("filtered IVF-PQ: selector-only results, recall floor vs filtered-exact") {
    val k = 10
    val labels = Set(2, 5, 7)
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("label").isin(labels.toSeq.map(Integer.valueOf): _*))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val selector = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    def filteredExact(q: Array[Float]): Seq[Long] =
      all.filter(t => allowed(t._1)).map { case (id, v) =>
        var acc = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - q(i); acc += d * d; i += 1 }
        (acc, id)
      }.sortBy(identity).take(k).map(_._2).toSeq
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val got = Pq.ivfPqTopKFiltered(spark, sf, q, k, nprobe = 4, selector)
        .collect().map(_.getLong(0))
      assert(got.length == k, s"filtered serving returned ${got.length} < k")
      assert(got.forall(allowed), "a non-selector row reached the results")
      (filteredExact(q).toSet & got.toSet).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"filtered recall $mean < 0.8 (widened probes + refine 4)")
  }

  test("filtered IVF-PQ: starved selector falls back to the exact pre-filter path") {
    val k = 10
    // f = 25 <= k·refine = 40: the compressed scan could not fill its
    // own shortlist — the policy serves exact, so the result EQUALS
    // the filtered exact top-k, not approximately
    val ids = (100L until 125L)
    import spark.implicits._
    val selector = ids.toDF("id")
    val q = all.find(_._1 == 0L).get._2
    val exact = all.filter(t => ids.contains(t._1)).map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - q(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(identity).take(k).map(_._2).toSeq
    val got = Pq.ivfPqTopKFiltered(spark, sf, q, k, nprobe = 4, selector)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"starved-filter fallback must be exact: $got != $exact")
  }

  test("filtered residual batch: selector-only results, recall floor, starved batch exact") {
    val k = 5
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val selector = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    val res = Pq.resBatchFiltered(spark, sf, k, nprobe = 4, selector)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.forall { case (_, nb) => allowed(nb) },
      "a non-selector neighbor reached the filtered batch results")
    assert(res.groupBy(_._1).forall(_._2.length == k), "every query must emit k rows")
    // recall vs the filtered-exact batch on 5 probe queries
    def filteredExact(q: Array[Float], self: Long): Set[Long] =
      all.filter(t => allowed(t._1) && t._1 != self).map { case (id, v) =>
        var acc = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - q(i); acc += d * d; i += 1 }
        (acc, id)
      }.sortBy(identity).take(k).map(_._2).toSet
    val byQuery = res.groupBy(_._1)
    val recalls = (0L until 5L).map { qid =>
      val got = byQuery(qid).map(_._2).toSet
      (filteredExact(all.find(_._1 == qid).get._2, qid) & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.6, s"filtered batch recall $mean < 0.6 (widened probes)")
    // starved selector (f <= k): the batch serves the exact pre-filter
    import spark.implicits._
    val tiny = (100L until 104L).toDF("id")
    val starved = Pq.resBatchFiltered(spark, sf, k, nprobe = 4, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val tinyIds = (100L until 104L).toSet
    assert(starved.forall { case (_, nb, _) => tinyIds(nb) })
    // exact by construction: for query 0, ranks match the true ordering
    val q0 = all.find(_._1 == 0L).get._2
    val want = all.filter(t => tinyIds(t._1)).map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - q0(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(identity).map(_._2).toSeq
    val got0 = starved.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    assert(got0 == want, s"starved filtered batch must rank exactly: $got0 != $want")
  }

  test("filtered query on the persisted tree: pruned probe scan, selector honored") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_f").toString
    Pq.writeIvfPq(spark, sf, path)
    val q = all.find(_._1 == 0L).get._2
    val selector = Tables.embeddings(spark, sf)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    val allowed = selector.collect().map(_.getLong(0)).toSet
    val res = Pq.queryIvfPqFiltered(spark, path, q, 10, nprobe = 4, selector,
      refineWith = Some(Tables.embeddings(spark, sf)))
    val got = res.collect().map(_.getLong(0))
    assert(got.length == 10 && got.forall(allowed))
    // in-session equivalence at the same configuration (same model
    // memo feeds both layouts)
    val inSession = Pq.ivfPqTopKFiltered(spark, sf, q, 10, nprobe = 4, selector)
      .collect().map(_.getLong(0)).toSeq
    assert(got.toSeq == inSession)
    // the selector must NARROW candidates, never break partition
    // pruning: the probed code scan still carries the cluster_id filter.
    // A refined call collects its shortlist before it returns, so the
    // scan is read from the same call unrefined, whose result frame is
    // that shortlist query (same selector, probes and scan); the
    // refined frame reads only the shortlist's ids
    val shortlistPlan = Pq.queryIvfPqFiltered(spark, path, q, 10, nprobe = 4, selector)
    assert(shortlistPlan.collect().map(_.getLong(0)).toSet.subsetOf(allowed))
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qse.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(shortlistPlan.queryExecution.executedPlan)
    assert(scans.exists(_.metadata.get("PartitionFilters")
      .exists(_.contains("cluster_id"))),
      "no cluster_id partition filter in the FILTERED persisted probe scan")
    assert(allScans(res.queryExecution.executedPlan)
      .exists(_.metadata.get("PushedFilters").exists(_.contains("In(vec_id"))),
      "the refine scan must read the shortlist's ids only")
  }

  test("refineTail equals the shortlist join it replaced, bit for bit: every caller and metric, ties at the cut") {
    import graft.functions.{VectorFunctions, VectorMetric}
    import org.apache.spark.sql.DataFrame
    // sf0.001's first 150 vectors, each stored three times (ids 3i,
    // 3i+1, 3i+2): copies share their codes, so compressed distances tie
    // in blocks of a multiple of 3 rows and the k·refine = 40 cut (not
    // a multiple of 3) always splits a tied block
    val root = java.nio.file.Files.createTempDirectory("graft_pq_ties")
    val dir = root.resolve("corpus").toString
    try {
      import spark.implicits._
      all.take(150).toSeq.zipWithIndex
        .flatMap { case ((_, v), i) => (0 until 3).map(c => (3L * i + c, v.toSeq)) }
        .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      val (k, refine, nprobe) = (10, 4, 8)
      val kr = k * refine
      val q = all(300)._2
      val src = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("vec"))
      // whole groups only, so the selector keeps the ties
      val sel = src.filter((col("neighbor_id") / 3).cast("long") % 2 === 0)
        .select(col("neighbor_id").as("id"))
      def bits(df: DataFrame): Seq[(Long, Long)] = df.collect().toSeq
        .map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      def exact(metric: Int) = {
        val qv = org.apache.spark.sql.functions.typedlit(q.toSeq)
        metric match {
          case VectorMetric.L2 => VectorFunctions.l2Distance(col("vec"), qv)
          case VectorMetric.Cosine => VectorFunctions.cosineDistance(col("vec"), qv)
          case VectorMetric.Dot => -VectorFunctions.dotProduct(col("vec"), qv)
        }
      }
      // the formulation refineTail replaced: the shortlist shuffle-
      // joined with the whole refine source, re-ranked exactly
      def joinRefined(shortlist: DataFrame, metric: Int): Seq[(Long, Long)] = bits(
        shortlist.select(col("neighbor_id")).join(src, "neighbor_id")
          .select(col("neighbor_id"), exact(metric).as("dist"))
          .orderBy(col("dist"), col("neighbor_id")).limit(k))
      val emb = Some(Tables.embeddings(spark, dir))
      for (metric <- Seq(VectorMetric.L2, VectorMetric.Cosine, VectorMetric.Dot)) {
        val tree = root.resolve(s"tree-$metric").toString
        Pq.writeIvfPq(spark, dir, tree, metric = metric)
        // (caller, its refined answer, its compressed ranking at width w
        // — at w = k·refine exactly the shortlist the refine reads)
        val callers: Seq[(String, () => DataFrame, Int => DataFrame, Boolean)] = Seq(
          ("flat", () => Pq.topK(spark, dir, q, k, refine = refine, metric = metric),
            w => Pq.topK(spark, dir, q, w, refine = 1, metric = metric), true),
          ("flat OPQ", () => Pq.topK(spark, dir, q, k, refine = refine, metric = metric, opq = true),
            w => Pq.topK(spark, dir, q, w, refine = 1, metric = metric, opq = true), true),
          ("IVF-PQ residual", () => Pq.ivfPqTopK(spark, dir, q, k, nprobe, refine = refine,
            metric = metric),
            w => Pq.ivfPqTopK(spark, dir, q, w, nprobe, refine = 1, metric = metric), true),
          ("IVF-PQ raw", () => Pq.ivfPqTopK(spark, dir, q, k, nprobe, refine = refine,
            metric = metric, residual = false),
            w => Pq.ivfPqTopK(spark, dir, q, w, nprobe, refine = 1, metric = metric,
              residual = false), true),
          ("persisted", () => Pq.queryIvfPq(spark, tree, q, k, nprobe, emb, refine),
            w => Pq.queryIvfPq(spark, tree, q, w, nprobe, None, 1), true),
          // the filtered policy depends on k·refine, so only w = kr
          // replays the refined call's probes
          ("in-session filtered", () => Pq.ivfPqTopKFiltered(spark, dir, q, k, nprobe, sel,
            refine = refine, metric = metric),
            w => Pq.ivfPqTopKFiltered(spark, dir, q, w, nprobe, sel, refine = 1,
              metric = metric), false),
          ("persisted filtered", () => Pq.queryIvfPqFiltered(spark, tree, q, k, nprobe, sel,
            emb, refine),
            w => Pq.queryIvfPqFiltered(spark, tree, q, w, nprobe, sel, None, 1), false))
        for ((name, refined, ranking, wide) <- callers) {
          val got = bits(refined())
          assert(got.size == k, s"$name, metric $metric")
          assert(got == joinRefined(ranking(kr), metric), s"$name, metric $metric")
          if (wide) {
            val d = bits(ranking(kr + 1)).map(_._2)
            assert(d.size == kr + 1 && d(kr - 1) == d(kr),
              s"$name, metric $metric: no compressed-distance tie at the k·refine cut")
          }
        }
      }
      // the refine scan reads the source through an id-set filter the
      // Parquet scan carries
      val res = Pq.queryIvfPq(spark, root.resolve(s"tree-${VectorMetric.L2}").toString,
        q, k, nprobe, emb, refine)
      res.collect()
      val pushed = res.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("embeddings")) =>
          s.metadata.getOrElse("PushedFilters", "")
      }
      assert(pushed.size == 1 && pushed.head.contains("In(vec_id"),
        s"the refine scan must push the shortlist's id set: $pushed")
    } finally {
      Memo.invalidate(dir)
      graft.streaming.Streams.deleteTree(root)
    }
  }

  test("SDC batch ANN: k rows per query, compressed-domain recall floor vs exact") {
    val k = 10
    val batch = Pq.sdcBatch(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(batch.size == 500 && batch.values.forall(_.size == k))
    val recalls = (0L until 10L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = exactTopK(q, k + 1).filter(_ != qid).take(k).toSet
      (exact & batch(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.3, s"SDC recall $mean collapsed (per-query $recalls)")
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y }.sum

  test("cosine SDC batch over the normalized-corpus index: recall floor vs exact cosine") {
    val k = 10
    val batch = Pq.sdcBatch(spark, sf, k, metric = graft.functions.VectorMetric.Cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(batch.size == 500 && batch.values.forall(_.size == k))
    val recalls = (0L until 10L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.filter(_._1 != qid)
        .map { case (id, v) => (1.0 - cos(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact & batch(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.3, s"cosine SDC recall $mean collapsed (per-query $recalls)")
  }

  test("OPQ SDC batch: rotated codes on both sides, recall floor holds") {
    val k = 10
    val batch = Pq.sdcBatch(spark, sf, k, opq = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(batch.size == 500 && batch.values.forall(_.size == k))
    val recalls = (0L until 10L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.filter(_._1 != qid)
        .map { case (id, v) =>
          (v.zip(q).map { case (x, y) => (x - y).toDouble * (x - y) }.sum, id)
        }.sortBy(identity).take(k).map(_._2).toSet
      (exact & batch(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.3, s"OPQ SDC recall $mean collapsed (per-query $recalls)")
  }

  test("dot SDC batch rides the shared raw-corpus model: recall floor vs exact dot") {
    val k = 10
    val batch = Pq.sdcBatch(spark, sf, k, metric = graft.functions.VectorMetric.Dot,
      refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(batch.size == 500 && batch.values.forall(_.size == k))
    val recalls = (0L until 10L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.filter(_._1 != qid)
        .map { case (id, v) => (-dot(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact & batch(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"refined dot SDC recall $mean < 0.8 (per-query $recalls)")
  }

  test("refined SDC batch: exact re-rank of k*4 survivors lifts recall above pure SDC") {
    val k = 10
    def recallOf(refine: Int): Double = {
      val batch = Pq.sdcBatch(spark, sf, k, refine = refine).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      assert(batch.size == 500 && batch.values.forall(_.size == k))
      val recalls = (0L until 10L).map { qid =>
        val q = all.find(_._1 == qid).get._2
        val exact = exactTopK(q, k + 1).filter(_ != qid).take(k).toSet
        (exact & batch(qid)).size.toDouble / k
      }
      recalls.sum / recalls.length
    }
    val pure = recallOf(1)
    val refined = recallOf(4)
    assert(refined >= pure, s"refine must not lose recall: $refined < $pure")
    assert(refined >= 0.8, s"refined SDC recall $refined < 0.8")
  }

  test("dot-product PQ: inner-product ADC tables rank by descending dot") {
    val k = 10
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.map { case (id, v) => (-dot(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      val got = Pq.topK(spark, sf, q, k,
        metric = graft.functions.VectorMetric.Dot)
        .collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"dot PQ recall $mean < 0.8 (per-query $recalls)")
  }

  test("persisted IVF-PQ carries its own metric (cosine round-trip, no caller flag)") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_cos").toString
    val metric = graft.functions.VectorMetric.Cosine
    Pq.writeIvfPq(spark, sf, path, metric = metric)
    val q = all.find(_._1 == 3L).get._2
    val inSession = Pq.ivfPqTopK(spark, sf, q, 10, nprobe = 4, refine = 1,
      metric = metric).collect().map(_.getLong(0)).toSeq
    // queryIvfPq reads the metric from _meta — the caller passes nothing
    val persisted = Pq.queryIvfPq(spark, path, q, 10, nprobe = 4,
      refineWith = None).collect().map(_.getLong(0)).toSeq
    assert(persisted == inSession,
      "persisted cosine index must probe and rank like the in-session cosine path")
  }

  test("persisted IVF-PQ dot round-trip: _meta metric drives negated-dot ADC, no caller flag") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_dot").toString
    val metric = graft.functions.VectorMetric.Dot
    Pq.writeIvfPq(spark, sf, path, metric = metric)
    val q = all.find(_._1 == 3L).get._2
    val inSession = Pq.ivfPqTopK(spark, sf, q, 10, nprobe = 4, refine = 1,
      metric = metric).collect().map(_.getLong(0)).toSeq
    val persisted = Pq.queryIvfPq(spark, path, q, 10, nprobe = 4,
      refineWith = None).collect().map(_.getLong(0)).toSeq
    assert(persisted == inSession,
      "persisted dot index must probe and rank like the in-session dot path")
  }

  test("cosine PQ via normalize-then-L2: refined recall vs exact cosine >= 0.8") {
    val k = 10
    val recalls = (0L until 5L).map { qid =>
      val q = all.find(_._1 == qid).get._2
      val exact = all.map { case (id, v) => (1.0 - cos(q, v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
      val got = Pq.topK(spark, sf, q, k,
        metric = graft.functions.VectorMetric.Cosine)
        .collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"cosine PQ recall $mean < 0.8 (per-query $recalls)")
  }

  test("training is deterministic across memo invalidation") {
    val a = Pq.train(spark, sf).codebooks.map(_.map(_.toSeq).toSeq).toSeq
    Memo.invalidate(sf)
    val b = Pq.train(spark, sf).codebooks.map(_.map(_.toSeq).toSeq).toSeq
    assert(a == b)
  }

  test("a corpus-dir rebuild drops every module's memos (stale-code guard)") {
    import graft.operators._
    // a copy of the corpus: a memo dir of its own, so the drop costs
    // the other suites' memos nothing
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_corpus")
    val src = new java.io.File(sf)
    src.listFiles().foreach(f => java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    val d = dir.toString
    val path = java.nio.file.Files.createTempDirectory("graft_pq_inval").toString
    val sc = spark.sparkContext
    // RDD ids only grow: every RDD the warmers persist is newer than this
    val mark = sc.emptyRDD[Int].id
    def pinnedSinceWarm(): Seq[Int] = {
      // frames a build checkpointed are released once collected; the
      // cached memo frames must already be unpersisted
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def pinned = sc.getPersistentRDDs.keys.filter(_ > mark).toSeq.sorted
      while (pinned.nonEmpty && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
      pinned
    }
    try {
      // one memo per module, by the name it is kept under
      val rows: Seq[(String, () => Any)] = Seq(
        "ivf.built" -> (() => Ivf.warmIndex(spark, d, graft.functions.VectorMetric.Cosine)),
        "dedup.shingleSets" -> (() => Dedup.warmShingles(spark, d)),
        "dedup.jaccardPairs" -> (() => Dedup.ngramJaccardPairs(spark, d)),
        "pq.codes" -> (() => Pq.encode(spark, d)),
        "sq8.codes" -> (() => Sq8.encode(spark, d)),
        "bq.codes" -> (() => Bq.encode(spark, d)),
        "pca.reduced" -> (() => Pca.reduce(spark, d)),
        "bpe.model" -> (() => Bpe.train(spark, d)),
        "tables.embeddingsCount" -> (() => Tables.embeddingsCount(spark, d)),
        "autotune.sweepGrid" -> (() => Autotune.sweepGrid(spark, d)),
        "coreset.thresholdPicks" -> (() => Coreset.kcenterThresholdPicks(spark, d)),
        "graph.tunedTree" -> (() => GraphIndex.tunedGraphTree(spark, d)))
      rows.foreach { case (name, warm) =>
        warm()
        assert(Memo.entries(d).exists(_._1 == name), s"$name is not kept under its dir")
      }
      val tree = new java.io.File(GraphIndex.tunedGraphTree(spark, d)).getParentFile
      assert(tree.exists())
      IndexLifecycle.build(
        Tables.embeddings(spark, d).select(col("vec_id").as("id"), col("embedding").as("vec")),
        path, corpusDir = Some(d), kOpt = Some(4))
      assert(Memo.entries(d).isEmpty, s"memos survived the rebuild: ${Memo.entries(d)}")
      val pinned = pinnedSinceWarm()
      assert(pinned.isEmpty, s"the dropped memos still pin persisted RDDs $pinned: " +
        pinned.map(sc.getPersistentRDDs(_).toDebugString.linesIterator.next()).mkString("; "))
      assert(!tree.exists(), "the tuned graph tree survived the rebuild")
      // memos rebuilt on next use, identical content (data unchanged)
      assert(Pq.encode(spark, d).count() == 500)
      assert(Sq8.encode(spark, d).count() == 500)
    } finally {
      Memo.invalidate(d)
      graft.streaming.Streams.deleteTree(dir)
      graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(path))
    }
  }

  test("driver query returns k ranked rows with the compression columns") {
    val rows = Pq.pqTopk(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(1)).toSeq == (1 to 10))
    assert(rows.head.getInt(2) == 256 && rows.head.getInt(3) == 8)
    // the query IS corpus vector 0: ADC should still rank it first
    // (quantization error is small relative to inter-vector distances)
    assert(rows.head.getLong(0) == 0L)
  }
}
