package graft.operators

import graft.Tables
import graft.functions.{PqFunctions, RotateFunctions, VectorFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A24: `quant_tier_report` — the TIER-selection dashboard that
  * completes the serving-parameter story: E50 (`ann_param_sweep`)
  * answers "which nprobe for the coarse index"; this key answers
  * "which QUANTIZATION tier at which refine depth" — per
  * (tier ∈ {sq8, pq, opq, pqr, bq, pca}, refine ∈ {1,4,8,16}), the
  * engine-measured recall@k of the compressed-domain shortlist +
  * exact-re-rank stack against the exact contract, with the shortlist
  * cost (candidates per query) alongside. This is the table an
  * operator reads before picking the ladder rung for a corpus: SQ8
  * sits near-exact at 4× (refine barely matters), PQ/OPQ trade recall
  * for 32×, PQR (the residual IVF-PQ codes, measured in their ADC
  * serving mode — symmetric distance does not exist for residual
  * codes) shows what centroid-offset encoding buys at the same 32×,
  * BQ/PCA leans on the refine tier (the measured floors are
  * pinned in QuantReportSpec), and refine depth is the knob that buys
  * recall back at k·refine exact distance evaluations per query.
  *
  * Measurement shape: a deterministic query SAMPLE (id % [[QueryStride]]
  * = 0 — measuring a tuning curve needs an unbiased sample, never every
  * query; same argument as E50), each tier's FLAT compressed scan over
  * its memoized codes (no coarse probing — the point is to isolate
  * quantization quality; coarse-probe loss is E50's axis), shortlist =
  * top k·16 by compressed distance with the engine's (dist, id)
  * tie-break, then ONE candidate table per tier carries the compressed
  * rank AND the exact distance, pinned with localCheckpoint so all four
  * refine depths ride the same materialization (the E50 lesson applied
  * from day one: refine r just filters crank ≤ k·r and re-ranks — the
  * compressed pass is paid once per tier, not once per grid point).
  * refine = 1 re-ranks the top-k compressed candidates, which is
  * SET-identical to pure compressed ranking, so one formulation serves
  * the whole grid. All outputs are exact integers (hit counts,
  * permille by integer division) — oracle-checked, not a float
  * summary: the dynamic oracle replays every tier's encode + shortlist
  * + re-rank over the session models' literals (SQ8/BQ re-derive
  * inline; PQ/OPQ codebooks, the OPQ rotation, and the PCA basis
  * inline as literals — the established trained-literal pattern).
  *
  * At 100 TB: the compressed scans are the brute-force-over-codes
  * kernels (8-64 B/candidate), the candidate table is O(queries·k·16)
  * skinny rows, and the exact re-rank touches only shortlisted pairs —
  * the report costs what one batch ANN pass costs, on a sample.
  */
object QuantReport {

  /** Refine depths swept (shortlist = k·refine). */
  val Refines: Seq[Int] = Seq(1, 4, 8, 16)

  /** Query-sample stride (id % stride = 0 → ~n/17 unbiased queries). */
  val QueryStride = 17

  /** `stride` overrides the query-sample density — the at-scale knob
    * the scaladoc prescribes (a 100 TB corpus measures its tuning
    * curve on a thinner deterministic sample, not on every vector);
    * the driver key and its oracle stay at [[QueryStride]].
    */
  def quantTierReport(spark: SparkSession, dir: String, k: Int = 10,
                      stride: Int = QueryStride): DataFrame = {
    val corpus = Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val queries = corpus.filter(pmod(col("id"), lit(stride.toLong)) === 0)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val nq = queries.count()
    val maxR = Refines.max

    // query-side codes come from the MEMOIZED corpus encodes (queries
    // are corpus vectors), so the two sides of every compressed
    // distance share one encode pass and cannot drift
    def sampleOf(codes: DataFrame, valueCol: String, as: String): DataFrame =
      broadcast(codes.filter(pmod(col("id"), lit(stride.toLong)) === 0)
        .select(col("id").as("query_id"), col(valueCol).as(as)))

    // (query_id, neighbor_id, cdist) per tier — flat compressed scans
    val m8 = Sq8.train(spark, dir)
    val sq8Pairs = Sq8.encode(spark, dir)
      .crossJoin(sampleOf(Sq8.encode(spark, dir), "codes", "qcodes"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.functions.Sq8Functions
          .sq8Distance(col("qcodes"), col("codes"), m8.scales).as("cdist"))
    val mb = Bq.train(spark, dir)
    val bqPairs = Bq.encode(spark, dir)
      .crossJoin(sampleOf(Bq.encode(spark, dir), "codes", "qcodes"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.functions.BqFunctions
          .hammingDistance(col("qcodes"), col("codes"), mb.nBytes)
          .cast("double").as("cdist"))
    val d = Pca.ReducedDim
    val pcaPairs = Pca.reduce(spark, dir, d)
      .crossJoin(sampleOf(Pca.reduce(spark, dir, d), "rvec", "rq"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        VectorFunctions.l2Distance(col("rvec"), col("rq")).as("cdist"))
    def sdcPairs(opq: Boolean): DataFrame = {
      val model = if (opq) Pq.trainOpq(spark, dir) else Pq.train(spark, dir)
      val codes = Pq.encode(spark, dir, opq = opq)
      codes.crossJoin(sampleOf(codes, "codes", "qcodes"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          PqFunctions.sdcDistance(col("qcodes"), col("codes"),
            Pq.sdcTable(model, VectorMetric.L2), takeSqrt = true).as("cdist"))
    }
    // residual tier: same M-byte budget as `pq`, but codes are
    // x − coarse_centroid(x) (the persisted IVF-PQ layout). Measured in
    // its SERVING mode — ADC, i.e. the exact query against the
    // reconstruction centroid + decode(codes); a symmetric (SDC)
    // formulation does not exist for residual codes (cross terms
    // between centroids and codebooks are not M independent lookups)
    val pqrPairs: DataFrame = {
      val (_, rcents) = Ivf.indexFor(spark, dir)
      val rModel = Pq.trainResidual(spark, dir)
      val rcdf = Pq.centroidDoubleDf(spark, rcents)
      val recon = VectorFunctions.vectorAdd(col("cvec"),
        PqFunctions.pqDecode(col("codes"), rModel.codebooks))
      Pq.encodeResidual(spark, dir).join(broadcast(rcdf), "cluster_id")
        .select(col("id"), recon.as("rvec"))
        .crossJoin(broadcast(queries))
        .select(col("query_id"), col("id").as("neighbor_id"),
          VectorFunctions.l2Distance(col("rvec"), col("qvec")).as("cdist"))
    }

    // shortlist top k·16 by (cdist, id), attach the exact distance —
    // one skinny candidate table per tier
    def candOf(tier: String, pairs: DataFrame): DataFrame =
      pairs
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy(col("query_id"))
        .agg(VectorFunctions
          .topKByDistance(col("cdist"), col("neighbor_id"), k * maxR).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("long").as("crank"))
        .join(broadcast(queries), "query_id")
        .join(corpus.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .select(lit(tier).as("tier"), col("query_id"), col("neighbor_id"),
          col("crank"),
          VectorFunctions.l2Distance(col("vec"), col("qvec")).as("edist"))

    val cand = Seq(
      "sq8" -> sq8Pairs, "pq" -> sdcPairs(false), "opq" -> sdcPairs(true),
      "pqr" -> pqrPairs, "bq" -> bqPairs, "pca" -> pcaPairs)
      .map { case (t, p) => candOf(t, p) }
      .reduce(_.unionAll(_))
      .localCheckpoint() // one compressed pass per tier; 4 refines ride it
    val exact = Knn.knn(queries, corpus.withColumnRenamed("id", "neighbor_id"), k,
        VectorMetric.L2, excludeSelf = true)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      .localCheckpoint()

    Refines.map { r =>
      cand.filter(col("crank") <= (k * r).toLong)
        .groupBy(col("tier"), col("query_id"))
        .agg(VectorFunctions
          .topKByDistance(col("edist"), col("neighbor_id"), k).as("nn"))
        .select(col("tier"), col("query_id"), explode(col("nn")).as("nn"))
        .select(col("tier"), col("query_id"), col("nn.id").as("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("tier"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("tier"), lit(r.toLong).as("refine"),
          lit((k * r).toLong).as("cand_per_query"),
          lit(nq).as("n_queries"), col("n_hits"),
          expr(s"n_hits * 1000 div ($nq * $k)").as("recall_permille"))
    }.reduce(_.unionAll(_)).orderBy("tier", "refine")
  }

  /** Dynamic oracle: every tier's encode + shortlist + exact re-rank
    * replayed end-to-end in DuckDB over the SAME session models —
    * SQ8's min/scale model and BQ's mean thresholds re-derive inline
    * (one aggregation each); the PQ and OPQ codebooks (and the OPQ
    * rotation) and the PCA basis inline as literals via the
    * established generators (Pq.corpCte/codesCte with CTE prefixes so
    * the two PQ models coexist in one query). Tie-breaks mirror the
    * engine column-for-column: compressed rank by (cdist, vec_id),
    * re-rank by (edist, neighbor_id).
    */
  def quantTierReportOracleSql(spark: SparkSession, dir: String,
                               k: Int = 10): String = {
    val kR = k * Refines.max
    val st = QueryStride
    val pqModel = Pq.train(spark, dir)
    val opqModel = Pq.trainOpq(spark, dir)
    val resModel = Pq.trainResidual(spark, dir)
    val (_, rcents) = Ivf.indexFor(spark, dir)
    val sd = pqModel.subDim
    val dim = pqModel.dim
    val mp = Pca.train(spark, dir)
    val d = Pca.ReducedDim
    val basisLit = (0 until d)
      .map(i => mp.basis(i).mkString("[", ",", "]")).mkString("[", ",", "]")
    def cell(p: String) =
      s"""list_sum(list_transform(range(1, ${sd + 1}),
         |      i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i])))""".stripMargin
    // shortlist + exact-distance tail for a pair-dist CTE `dn`
    def tailCtes(p: String, dn: String, tier: String): String =
      s"""${p}s AS (SELECT query_id, vec_id, crank FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cdist, vec_id) AS crank
         |    FROM $dn WHERE vec_id <> query_id) t
         |  WHERE crank <= $kR),
         |${p}c AS (
         |  SELECT '$tier' AS tier, s.query_id, s.vec_id AS neighbor_id,
         |    CAST(s.crank AS BIGINT) AS crank,
         |    list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS edist
         |  FROM ${p}s s
         |  JOIN embeddings e ON e.vec_id = s.vec_id
         |  JOIN qs q ON q.query_id = s.query_id)""".stripMargin
    // SDC pair distances for a prefixed codes replay
    def sdcD(p: String): String =
      s"""${p}sdct AS (
         |  SELECT a.mi, a.code AS ca, b.code AS cb2, ${cell(p)} AS v
         |  FROM ${p}cbt a JOIN ${p}cbt b USING (mi)),
         |${p}d AS (
         |  SELECT qc.vec_id AS query_id, nc2.vec_id,
         |    sqrt(list_sum(list(sdt.v ORDER BY qc.mi))) AS cdist
         |  FROM ${p}codes qc
         |  JOIN ${p}codes nc2 ON nc2.mi = qc.mi
         |  JOIN ${p}sdct sdt ON sdt.mi = qc.mi AND sdt.ca = qc.code
         |    AND sdt.cb2 = nc2.code
         |  WHERE qc.vec_id % $st = 0
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % $st = 0),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), q.qv),
       |        e.vec_id) AS rn
       |    FROM qs q, embeddings e WHERE e.vec_id <> q.query_id) t
       |  WHERE rn <= $k),
       |model8 AS (
       |  SELECT i AS pos,
       |    CAST(min(e.embedding[i+1]) AS DOUBLE) AS lo,
       |    CASE WHEN CAST(max(e.embedding[i+1]) AS DOUBLE)
       |           - CAST(min(e.embedding[i+1]) AS DOUBLE) <= 0 THEN 1.0
       |      ELSE 255.0 / (CAST(max(e.embedding[i+1]) AS DOUBLE)
       |           - CAST(min(e.embedding[i+1]) AS DOUBLE)) END AS scale
       |  FROM embeddings e, UNNEST(range(0, len(e.embedding))) t(i)
       |  GROUP BY 1),
       |cc8 AS (
       |  SELECT e.vec_id, m.pos, m.scale,
       |    greatest(0, least(255, CAST(round(
       |      (CAST(e.embedding[m.pos+1] AS DOUBLE) - m.lo) * m.scale) AS INTEGER))) AS code
       |  FROM embeddings e, model8 m),
       |d8 AS (
       |  SELECT qc.vec_id AS query_id, cc.vec_id,
       |    sqrt(list_sum(list(
       |      ((cc.code - qc.code) / qc.scale) * ((cc.code - qc.code) / qc.scale)
       |      ORDER BY cc.pos))) AS cdist
       |  FROM cc8 cc JOIN cc8 qc USING (pos)
       |  WHERE qc.vec_id % $st = 0
       |  GROUP BY 1, 2),
       |${tailCtes("q8", "d8", "sq8")},
       |modelb AS (
       |  SELECT i AS pos, avg(CAST(e.embedding[i+1] AS DOUBLE)) AS mu
       |  FROM embeddings e, UNNEST(range(0, len(e.embedding))) t(i)
       |  GROUP BY 1),
       |db AS (
       |  SELECT q.query_id, e.vec_id,
       |    CAST(sum(CASE WHEN (CAST(e.embedding[m.pos+1] AS DOUBLE) > m.mu)
       |          <> (q.qv[m.pos+1] > m.mu) THEN 1 ELSE 0 END) AS DOUBLE) AS cdist
       |  FROM embeddings e, modelb m, qs q
       |  GROUP BY 1, 2),
       |${tailCtes("qb", "db", "bq")},
       |pbasis AS (SELECT CAST($basisLit AS DOUBLE[][]) AS b),
       |prc AS (
       |  SELECT e.vec_id, i AS comp,
       |    CAST(sum(b.b[i+1][j+1] * CAST(e.embedding[j+1] AS DOUBLE)) AS FLOAT) AS x
       |  FROM pbasis b, embeddings e,
       |    UNNEST(range(0, $d)) t(i), UNNEST(range(0, len(e.embedding))) u(j)
       |  GROUP BY 1, 2),
       |dp AS (
       |  SELECT qr.vec_id AS query_id, cr.vec_id,
       |    sqrt(list_sum(list(
       |      (CAST(cr.x AS DOUBLE) - CAST(qr.x AS DOUBLE))
       |      * (CAST(cr.x AS DOUBLE) - CAST(qr.x AS DOUBLE))
       |      ORDER BY cr.comp))) AS cdist
       |  FROM prc cr JOIN prc qr USING (comp)
       |  WHERE qr.vec_id % $st = 0
       |  GROUP BY 1, 2),
       |${tailCtes("qp", "dp", "pca")},
       |p_cb AS (SELECT CAST(${Pq.cbLiteral(pqModel.codebooks)} AS DOUBLE[][][]) AS c),
       |${Pq.corpCte(VectorMetric.L2, None, "p_")},
       |${Pq.codesCte(pqModel, "p_")},
       |${sdcD("p_")},
       |${tailCtes("qq", "p_d", "pq")},
       |o_cb AS (SELECT CAST(${Pq.cbLiteral(opqModel.codebooks)} AS DOUBLE[][][]) AS c),
       |${Pq.corpCte(VectorMetric.L2, opqModel.rotation, "o_")},
       |${Pq.codesCte(opqModel, "o_")},
       |${sdcD("o_")},
       |${tailCtes("qo", "o_d", "opq")},
       |${graft.operators.Ivf.assignCtes(rcents)},
       |r_cb AS (SELECT CAST(${Pq.cbLiteral(resModel.codebooks)} AS DOUBLE[][][]) AS c),
       |r_corp AS (
       |  SELECT c0.vec_id,
       |    list_transform(range(1, ${dim + 1}), i -> c0.v[i] - cents.cv[a.cid + 1][i]) AS v
       |  FROM p_corp c0 JOIN asg a ON a.vec_id = c0.vec_id, cents),
       |${Pq.codesCte(resModel, "r_")},
       |r_recon AS (
       |  SELECT rc.vec_id,
       |    list(cents.cv[a.cid + 1][t.i]
       |      + r_cb.c[rc.mi + 1][rc.code + 1][((t.i - 1) % $sd) + 1]
       |      ORDER BY t.i) AS rv
       |  FROM r_codes rc
       |  JOIN asg a ON a.vec_id = rc.vec_id, cents, r_cb,
       |    UNNEST(range(1, ${dim + 1})) t(i)
       |  WHERE (t.i - 1) // $sd = rc.mi
       |  GROUP BY rc.vec_id),
       |dr AS (
       |  SELECT q.query_id, r.vec_id,
       |    sqrt(list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> (r.rv[i] - q.qv[i]) * (r.rv[i] - q.qv[i])))) AS cdist
       |  FROM r_recon r, qs q),
       |${tailCtes("qr", "dr", "pqr")},
       |refs AS (SELECT UNNEST([${Refines.mkString(", ")}]) AS refine),
       |allc AS (
       |  SELECT * FROM q8c UNION ALL SELECT * FROM qbc
       |  UNION ALL SELECT * FROM qpc UNION ALL SELECT * FROM qqc
       |  UNION ALL SELECT * FROM qoc UNION ALL SELECT * FROM qrc),
       |rr AS (
       |  SELECT a.tier, f.refine, a.query_id, a.neighbor_id,
       |    row_number() OVER (PARTITION BY a.tier, f.refine, a.query_id
       |      ORDER BY a.edist, a.neighbor_id) AS erank
       |  FROM allc a JOIN refs f ON a.crank <= f.refine * $k),
       |kept AS (SELECT tier, refine, query_id, neighbor_id FROM rr WHERE erank <= $k),
       |nqc AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM qs)
       |SELECT kept.tier,
       |  CAST(kept.refine AS BIGINT) AS refine,
       |  CAST(kept.refine * $k AS BIGINT) AS cand_per_query,
       |  (SELECT nq FROM nqc) AS n_queries,
       |  CAST(count(e.query_id) AS BIGINT) AS n_hits,
       |  CAST(count(e.query_id) * 1000 // ((SELECT nq FROM nqc) * $k) AS BIGINT)
       |    AS recall_permille
       |FROM kept LEFT JOIN ex e
       |  ON e.query_id = kept.query_id AND e.neighbor_id = kept.neighbor_id
       |GROUP BY kept.tier, kept.refine
       |ORDER BY tier, refine""".stripMargin
  }
}
