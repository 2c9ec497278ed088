package graft.operators

import graft.Tables
import graft.functions.{VectorFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E56: `ann_topk_mmr` — Maximal Marginal Relevance over the exact
  * top-C cosine shortlist: for every corpus vector (the E6 batch
  * shape), greedily pick k of its C=20 nearest neighbors maximizing
  *   λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s)
  * (Carbonell & Goldstein 1998; λ = 0.7) — the diversified-retrieval
  * fold every RAG/context-window pipeline runs between ANN and the
  * prompt: near-duplicate neighbors waste shortlist slots, and MMR
  * trades a controlled amount of relevance for coverage.
  *
  * Reference tie-in: stackai-vector-db's search surface returns the
  * raw metric top-k (app/services/search_service.py); MMR is the
  * post-ranking stage the reference leaves to the caller, built here
  * as a first-class batch operator on the same embedding model.
  *
  * Scale shape (100 TB): everything after the shortlist is bounded by
  * C per query — the candidate-pair sim table is O(N·C²) rows keyed
  * by query_id (never a corpus×corpus product), and the k−1 greedy
  * rounds run INSIDE one bounded aggregate (MmrFold: cv ∪ ps shuffle
  * once by query_id, the fold is a ≤C-candidate local loop at eval
  * time — map-side combinable, never a window sort and never a
  * per-round shuffle).
  * The shortlist itself rides the session exact-edge memo (probe-all
  * = the oracle contract; an nprobe shortlist composes identically).
  * Measured at 25× (tools/MmrProbe at commit 3ba9126, 50k×64 clustered): the fold costs
  * 19.8 s on top of an 82.4 s nprobe shortlist build — the diversity
  * rerank is ~24% overhead on the scan that feeds it, not a second
  * index pass.
  *
  * Deterministic end to end: scores are the same doubles in both
  * engines (`1.0 − (1.0 − list_cosine_similarity)` — the established
  * cross-engine cosine identity), ties break by candidate id, so the
  * key is oracle-checked exactly (the generator unrolls the k−1
  * greedy rounds as CTE blocks over the nested exact-shortlist
  * replay).
  */
object Mmr {

  /** Shortlist width the greedy fold diversifies over. */
  val Candidates = 20

  /** Selected diversified neighbors per query. */
  val DefaultK = 5

  /** λ numerator/denominator kept as exact doubles shared with the
    * oracle text (0.7 relevance / 0.3 diversity).
    */
  val Lambda = 0.7

  def annTopkMmr(spark: SparkSession, dir: String, k: Int = DefaultK,
                 c: Int = Candidates): DataFrame =
    mmrOverShortlist(spark, dir,
      Ivf.exactEdges(spark, dir, c, VectorMetric.Cosine), k)

  /** E56b: the SERVING twin — the same greedy fold over the nprobe
    * shortlist (E6b's engine at nprobe = nClusters/4, width C). The
    * fold is shortlist-source-agnostic, so this is the composition
    * that runs at 100 TB: an approximate shortlist per query, then
    * the bounded diversity rerank. Oracle-exact like E6b (the nprobe
    * replay is deterministic given the trained centroids).
    */
  def annTopkMmrNprobe(spark: SparkSession, dir: String, k: Int = DefaultK,
                       c: Int = Candidates): DataFrame = {
    val n = Tables.embeddingsCount(spark, dir)
    val np = math.max(1, Ivf.defaultK(n) / 4)
    mmrOverShortlist(spark, dir,
      Ivf.annBatch(spark, dir, c, VectorMetric.Cosine, nprobeOpt = Some(np)), k)
  }

  /** The pinned (cv, ps) pair tables over a (query_id, neighbor_id)
    * shortlist — built ONCE and shared by however many folds run over
    * them (one for the serving keys, the whole λ grid for E58's
    * sweep: the E49 one-materialization shape). Caller unpersists.
    */
  private def pairTables(spark: SparkSession, dir: String,
                         shortlist: DataFrame): (DataFrame, DataFrame) = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cands = shortlist
      .select(col("query_id"), col("neighbor_id").as("cand"))
    // (query_id, cand, simq): relevance of each shortlist member
    val cv = cands
      .join(vecs.select(col("id").as("query_id"), col("vec").as("qv")), "query_id")
      .join(vecs.select(col("id").as("cand"), col("vec").as("cv")), "cand")
      .select(col("query_id"), col("cand"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("qv"), col("cv")))
          .as("simq"))
      .localCheckpoint(true)
    // (query_id, a, b, simab): sims among shortlist members, O(N·C²)
    val ps = cands.select(col("query_id"), col("cand").as("a"))
      .join(cands.select(col("query_id"), col("cand").as("b")), "query_id")
      .filter(col("a") =!= col("b"))
      .join(vecs.select(col("id").as("a"), col("vec").as("va")), "a")
      .join(vecs.select(col("id").as("b"), col("vec").as("vb")), "b")
      .select(col("query_id"), col("a"), col("b"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("va"), col("vb")))
          .as("simab"))
      .localCheckpoint(true)
    (cv, ps)
  }

  /** The greedy MMR fold over a given (query_id, neighbor_id) shortlist
    * frame — shared by the exact contract and the nprobe serving twin.
    */
  private def mmrOverShortlist(spark: SparkSession, dir: String,
                               shortlist: DataFrame, k: Int): DataFrame = {
    val (cv, ps) = pairTables(spark, dir, shortlist)
    try {
      val sel = greedyFold(cv, ps, k, Lambda)
      val out = sel
        .select(col("query_id"), col("cand").as("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
        .localCheckpoint(true)
      sel.unpersist()
      out
    } finally {
      cv.unpersist(); ps.unpersist()
    }
  }

  /** The k−1 greedy rounds at a given λ over (cv, ps): the EAGER
    * (query_id, cand, rank) selection.
    *
    * Execution (round-16 optimization): the rounds used to run as a
    * distributed loop — per round a join against the latest pick, an
    * eager localCheckpoint and a bounded top-1 aggregate, ~2(k−1)
    * shuffling jobs per fold. Per query the whole problem is ≤C
    * candidates and ≤C·(C−1) pair sims, so the fold now runs inside
    * ONE bounded aggregate ([[graft.functions.MmrFold]]): cv ∪ ps rows
    * shuffle once by query_id and the greedy rounds are a local loop
    * at eval time with IDENTICAL arithmetic and tie-breaking (the
    * aggregate's scaladoc states the parity argument; MmrSpec pins
    * equality against an independent reference fold, and the oracle
    * generators are unchanged). Returns a localCheckpointed frame the
    * caller unpersists — the prior contract.
    */
  private def greedyFold(cv: DataFrame, ps: DataFrame, k: Int,
                         lambda: Double): DataFrame =
    cv.select(col("query_id"), col("cand"), col("simq"),
        lit(null).cast("bigint").as("b"), lit(null).cast("double").as("simab"))
      .unionAll(ps.select(col("query_id"), col("a").as("cand"),
        lit(null).cast("double").as("simq"), col("b"), col("simab")))
      .groupBy("query_id")
      .agg(graft.functions.MmrFoldAgg.mmrFold(
        col("cand"), col("simq"), col("b"), col("simab"), k, lambda).as("sel"))
      .select(col("query_id"), explode(col("sel")).as("p"))
      .select(col("query_id"), col("p.cand").as("cand"), col("p.rank").as("rank"))
      .localCheckpoint(true)

  /** The exact replay: nested exact-shortlist CTE (the E6 oracle at
    * width C), the same relevance/pair-sim doubles, and k−1 unrolled
    * greedy rounds (GREATEST penalty fold against the latest pick +
    * the (score DESC, cand) argmax via QUALIFY).
    */
  def annTopkMmrOracleSql(k: Int = DefaultK, c: Int = Candidates): String =
    mmrOracleSql(Dedup.annTopkBatchOracleSql(c), k)

  /** E56b oracle: the SAME fold generator over the nested nprobe
    * shortlist replay (E6b's centroid-literal oracle at width C) —
    * one generator, two shortlist sources, the oracles cannot drift.
    */
  def annTopkMmrNprobeOracleSql(spark: SparkSession, dir: String,
                                k: Int = DefaultK,
                                c: Int = Candidates): String = {
    val n = Tables.embeddingsCount(spark, dir)
    val np = math.max(1, Ivf.defaultK(n) / 4)
    mmrOracleSql(Ivf.annBatchNprobeOracleSql(spark, dir, c,
      nprobeOpt = Some(np), metric = VectorMetric.Cosine), k)
  }

  /** The shared cands/cv/ps pair-table CTE block over a nested
    * shortlist replay — the SQL twin of [[pairTables]].
    */
  private def pairCtes(candsSql: String): String = {
    val simExpr = (x: String, y: String) =>
      s"1.0 - (1.0 - list_cosine_similarity(CAST($x.embedding AS DOUBLE[]), CAST($y.embedding AS DOUBLE[])))"
    s"""cands AS MATERIALIZED (
       |  SELECT query_id, neighbor_id AS cand FROM (
       |    ${candsSql.replace("ORDER BY query_id, rank", "")}) z),
       |cv AS MATERIALIZED (
       |  SELECT t.query_id, t.cand, ${simExpr("q", "e")} AS simq
       |  FROM cands t
       |  JOIN embeddings q ON q.vec_id = t.query_id
       |  JOIN embeddings e ON e.vec_id = t.cand),
       |ps AS MATERIALIZED (
       |  SELECT x.query_id, x.cand AS a, y.cand AS b, ${simExpr("ea", "eb")} AS simab
       |  FROM cands x
       |  JOIN cands y ON y.query_id = x.query_id AND y.cand <> x.cand
       |  JOIN embeddings ea ON ea.vec_id = x.cand
       |  JOIN embeddings eb ON eb.vec_id = y.cand)""".stripMargin
  }

  /** The k−1 unrolled greedy rounds at a given λ — CTE names carry
    * `sfx` so the λ-sweep oracle can run the whole grid over ONE
    * cv/ps materialization (the same one-generator rule as the
    * serving keys: the fold SQL cannot drift between λ values).
    */
  private def foldCtes(k: Int, lam: Double, sfx: String): String = {
    val oneMinus = 1.0 - lam
    val rounds = (2 to k).map { r =>
      val remPrev = if (r == 2) "cv" else s"rem${r - 1}$sfx"
      val penExpr =
        if (r == 2) "p.simab"
        else s"GREATEST(m.pen, p.simab)"
      s"""rem$r$sfx AS MATERIALIZED (
         |  SELECT m.query_id, m.cand, m.simq, $penExpr AS pen
         |  FROM $remPrev m
         |  JOIN s${r - 1}$sfx s ON s.query_id = m.query_id AND m.cand <> s.cand
         |  JOIN ps p ON p.query_id = m.query_id AND p.a = m.cand AND p.b = s.cand),
         |s$r$sfx AS (
         |  SELECT query_id, cand FROM rem$r$sfx
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY CAST($lam AS DOUBLE)*simq - CAST($oneMinus AS DOUBLE)*pen DESC, cand) = 1)""".stripMargin
    }.mkString(",\n")
    s"""s1$sfx AS (
       |  SELECT query_id, cand FROM cv
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY simq DESC, cand) = 1),
       |$rounds""".stripMargin
  }

  private def mmrOracleSql(candsSql: String, k: Int): String = {
    val unions = (2 to k)
      .map(r => s"UNION ALL SELECT query_id, cand, $r FROM s$r")
      .mkString("\n")
    s"""WITH ${pairCtes(candsSql)},
       |${foldCtes(k, Lambda, "")}
       |SELECT query_id, cand AS neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, cand, 1 AS rank FROM s1
       |  $unions) u(query_id, cand, rank)
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------- E58 sweep

  /** λ grid (permille) the sweep measures — brackets the serving
    * default (0.7) on both sides.
    */
  val SweepLambdas: Seq[Int] = Seq(300, 500, 700, 900)

  /** E58: `mmr_lambda_sweep` — the tuning report that completes the
    * rerank family (E45 thresholds / E49 bands / E50 nprobe / A24
    * tiers / E54+A26 graph): per λ on the grid, what the greedy fold
    * TRADES — relevance retained (Σ sim(q, selected) vs the pure
    * top-k's Σ) against diversity bought (Σ pairwise sim among the
    * selected — lower = more diverse). ONE shortlist and ONE pair
    * table serve the whole grid (the E49 one-materialization shape);
    * each λ re-runs only the bounded k−1 greedy rounds.
    *
    * Determinism: every sum is a NESTED ORDERED FOLD — per query the
    * doubles accumulate in (rank) / (a, b) order, across queries in
    * query_id order (`list(v ORDER BY …) → list_sum`, the ADC-oracle
    * device) — so the output doubles are a function of the selection,
    * not of shuffle order, and the key is oracle-checked exactly.
    * MmrSpec pins the trade's monotonicity on the sf corpora: BOTH
    * rel_sum and div_sum non-decreasing in λ (higher λ = closer to
    * the plain top-k = more relevant AND more self-similar — the
    * operator buys diversity by turning λ DOWN and this grid prices
    * the relevance it costs).
    */
  def mmrLambdaSweep(spark: SparkSession, dir: String, k: Int = DefaultK,
                     c: Int = Candidates): DataFrame = {
    import spark.implicits._
    val (cv, ps) = pairTables(spark, dir,
      Ivf.exactEdges(spark, dir, c, VectorMetric.Cosine))
    try {
      // the λ-independent pure-relevance baseline: top-k by (simq DESC, cand)
      val topk = cv.groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(-col("simq"), col("cand"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("cand"),
          (col("pos") + 1).cast("int").as("rank"))
      val baseRel = orderedSum(topk.join(cv, Seq("query_id", "cand")),
        Seq("rank"), "simq")
      // the λ blocks are independent folds + metric sums over the SAME
      // pinned cv/ps — run them concurrently (round-17, guide §2.6):
      // each block's doubles are ordered folds of its own selection, so
      // concurrency cannot change a value, and Overlap.all returns them
      // in grid order
      val rows = Overlap.all(SweepLambdas.map { lp => () =>
        val sel = greedyFold(cv, ps, k, lp / 1000.0)
        val rel = orderedSum(sel.join(cv, Seq("query_id", "cand")),
          Seq("rank"), "simq")
        val pairsSel = sel.select(col("query_id"), col("cand").as("a"))
          .join(sel.select(col("query_id"), col("cand").as("b")), "query_id")
          .filter(col("a") < col("b"))
          .join(ps, Seq("query_id", "a", "b"))
        val div = orderedSum(pairsSel, Seq("a", "b"), "simab")
        sel.unpersist()
        (lp.toLong, rel, baseRel, div)
      })
      rows.toDF("lambda_permille", "rel_sum", "rel_topk_sum", "div_sum")
        .orderBy("lambda_permille")
    } finally {
      cv.unpersist(); ps.unpersist()
    }
  }

  /** Deterministic nested fold: per query, `valCol` doubles summed in
    * `innerOrd` order (array_sort + sequential `aggregate` — the same
    * left-to-right accumulation DuckDB's `list_sum(list(v ORDER BY …))`
    * runs), then the per-query sums summed in query_id order. Both
    * engines fold the SAME doubles in the SAME order, so the report's
    * doubles hash-match instead of being a shuffle-order accident.
    */
  private def orderedSum(df: DataFrame, innerOrd: Seq[String],
                         valCol: String): Double =
    df.groupBy("query_id")
      .agg(aggregate(
        array_sort(collect_list(struct((innerOrd :+ valCol).map(col): _*))),
        lit(0.0), (acc, x) => acc + x(valCol)).as("s"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("query_id"), col("s")))),
        lit(0.0), (acc, x) => acc + x("s")))
      .head().getDouble(0)

  /** E58 oracle: ONE cv/ps materialization, the λ grid's folds unrolled
    * with suffixed CTE names from the SAME generator as the serving
    * keys, metrics as the identical nested ordered folds.
    */
  def mmrLambdaSweepOracleSql(k: Int = DefaultK, c: Int = Candidates): String = {
    val folds = SweepLambdas.map(lp => foldCtes(k, lp / 1000.0, s"_$lp"))
      .mkString(",\n")
    val metricBlocks = SweepLambdas.map { lp =>
      val unions = (2 to k)
        .map(r => s"UNION ALL SELECT query_id, cand, $r AS rank FROM s${r}_$lp")
        .mkString("\n  ")
      s"""sel_$lp AS MATERIALIZED (
         |  SELECT query_id, cand, 1 AS rank FROM s1_$lp
         |  $unions),
         |rel_$lp AS (
         |  SELECT list_sum(list(rel ORDER BY query_id)) AS v FROM (
         |    SELECT t.query_id, list_sum(list(c.simq ORDER BY t.rank)) AS rel
         |    FROM sel_$lp t
         |    JOIN cv c ON c.query_id = t.query_id AND c.cand = t.cand
         |    GROUP BY t.query_id) z),
         |div_$lp AS (
         |  SELECT list_sum(list(d ORDER BY query_id)) AS v FROM (
         |    SELECT x.query_id, list_sum(list(p.simab ORDER BY x.cand, y.cand)) AS d
         |    FROM sel_$lp x
         |    JOIN sel_$lp y ON y.query_id = x.query_id AND x.cand < y.cand
         |    JOIN ps p ON p.query_id = x.query_id AND p.a = x.cand AND p.b = y.cand
         |    GROUP BY x.query_id) z)""".stripMargin
    }.mkString(",\n")
    val rows = SweepLambdas.map(lp =>
      s"""SELECT CAST($lp AS BIGINT) AS lambda_permille,
         |  (SELECT v FROM rel_$lp) AS rel_sum,
         |  (SELECT v FROM base) AS rel_topk_sum,
         |  (SELECT v FROM div_$lp) AS div_sum""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH ${pairCtes(Dedup.annTopkBatchOracleSql(c))},
       |topk AS (
       |  SELECT query_id, cand,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY simq DESC, cand) AS INTEGER) AS rank
       |  FROM cv QUALIFY rank <= $k),
       |base AS (
       |  SELECT list_sum(list(rel ORDER BY query_id)) AS v FROM (
       |    SELECT t.query_id, list_sum(list(c.simq ORDER BY t.rank)) AS rel
       |    FROM topk t
       |    JOIN cv c ON c.query_id = t.query_id AND c.cand = t.cand
       |    GROUP BY t.query_id) z),
       |$folds,
       |$metricBlocks
       |$rows
       |ORDER BY lambda_permille""".stripMargin
  }
}
