package graft.operators

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E53: `ann_autotune` — the FAISS-autotune recipe closing the tuning
  * loop the dashboards opened: E50 (`ann_param_sweep`) measures the
  * recall-vs-nprobe curve and A24 (`quant_tier_report`) the
  * recall-vs-(tier, refine) surface, but nothing PICKED an operating
  * point. For each COMPOSED recall floor on a fixed permille grid,
  * this key selects
  *   - the SMALLEST nprobe whose measured sweep recall meets the
  *     floor's AXIS requirement (fewest probed lists = cheapest
  *     coarse scan), and
  *   - the CHEAPEST (tier, refine) meeting the axis requirement,
  *     ordered by (cand_per_query, bytes_per_vec, tier) — exact
  *     re-rank work first (the per-query cost that scales with
  *     traffic), then the tier's storage footprint, then the name as
  *     the deterministic tiebreak.
  * The two grids measure MARGINAL curves (E50 with exact vectors, A24
  * probe-all over codes) while composed serving (queryIvfPqTuned:
  * that nprobe AND that refine) multiplies both losses — so each axis
  * qualifies at ⌈√floor⌉ permille (the independence approximation:
  * axis² ≈ composed), computed once in Scala and inlined into the
  * oracle as integers so no cross-engine float boundary exists.
  * Correlation between coarse loss and quantization loss is
  * corpus-dependent — E43/A24 re-measure the SERVED config; the tuner
  * records both the composed target and the axis bar it enforced.
  * A floor no measured config meets reports the -1/'none' sentinels —
  * the honest "this corpus needs a bigger grid" signal, never a
  * silent clamp. Both grids are exact-integer engine measurements and
  * the argmin is pure arithmetic over them, so the key is
  * oracle-checked end-to-end (the generator nests the two grid
  * replays and applies the same selection SQL).
  *
  * The grids are memoized per (dir, k): the dashboard keys and this
  * key share one measurement pass per session (the memo_* discipline).
  * [[writeAutotune]] persists the chosen row into an `_autotune`
  * sidecar beside a persisted IVF-PQ tree and [[Pq.queryIvfPqTuned]]
  * serves with those defaults — the tuner's output is config, not
  * prose (AutotuneSpec pins the round trip).
  *
  * The GRAPH tier (A26) is deliberately NOT a row on the tier grid:
  * the argmin composes two MARGINAL axes (coarse nprobe × code
  * quality at a shared probe-all scan) whose losses multiply, while
  * graph serving has no independent coarse axis — its entry IS the
  * coarse quantizer at a constant nprobe=1 and its recall knob is
  * (rounds, beam), a different operating curve that a
  * (cand_per_query, bytes_per_vec) ordering cannot price against
  * code tiers. The graph tier is graded against the SAME exact
  * contract by its own E43-shaped dashboard (`graph_recall_report`,
  * GraphIndex.graphRecallReport); an operator choosing an index
  * reads the three reports (E43 nprobe / A24 codes / E54 graph)
  * against the same floors.
  */
object Autotune {

  /** Composed recall floors (permille) the tuner answers for. */
  val Floors: Seq[Int] = Seq(500, 700, 900)

  /** Per-axis qualification bar for a composed floor: ⌈√(f/1000)·1000⌉
    * (independence approximation — axis² ≈ composed). Computed in
    * Scala ONLY and inlined into the oracle as integers: a cross-engine
    * sqrt/ceil could differ by one on an exact-root boundary.
    */
  def axisFloor(composedPermille: Int): Int =
    math.ceil(math.sqrt(composedPermille / 1000.0) * 1000.0).toInt

  /** The E50 sweep, measured once per (dir, k) and pinned (4 rows). */
  def sweepGrid(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Memo(dir, "autotune.sweepGrid", k)(
      Dedup.annParamSweep(spark, dir, k).localCheckpoint(true))

  /** The A24 tier surface, measured once per (dir, k) (24 rows). */
  def tierGrid(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Memo(dir, "autotune.tierGrid", k)(
      QuantReport.quantTierReport(spark, dir, k).localCheckpoint(true))

  /** Storage bytes per vector of each measured tier — the secondary
    * cost axis (sq8 = dim bytes, the PQ family = M bytes, bq =
    * ⌈dim/8⌉, pca = reduced dims × 4 raw floats).
    */
  private[operators] def tierBytesOf(dim: Int): Seq[(String, Long)] = Seq(
    "sq8" -> dim.toLong,
    "pq"  -> Pq.SubspaceCount.toLong,
    "opq" -> Pq.SubspaceCount.toLong,
    "pqr" -> Pq.SubspaceCount.toLong,
    "bq"  -> ((dim + 7) / 8).toLong,
    "pca" -> (Pca.ReducedDim * 4).toLong)

  def annAutotune(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    annAutotuneTiers(spark, dir, k, tierSet = None)

  /** [[annAutotune]] with the tier argmin restricted to `tierSet` —
    * the pick a SPECIFIC serving path consults must come from the
    * codes that path can actually serve (queryIvfPqTuned's gate:
    * an sq8/bq/pca refine was measured against different codes), so
    * the PQ-family consumer asks the tuner the PQ-family question
    * instead of discarding a global pick it cannot honor.
    */
  def annAutotuneTiers(spark: SparkSession, dir: String, k: Int,
                       tierSet: Option[Set[String]]): DataFrame = {
    import spark.implicits._
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0)
    val sweep = sweepGrid(spark, dir, k)
      .select(col("nprobe"), col("recall_permille").as("np_recall"))
    val tiersAll = tierGrid(spark, dir)
      .join(broadcast(tierBytesOf(dim).toDF("tier", "bytes_per_vec")), "tier")
      .select(col("tier"), col("refine"), col("cand_per_query"),
        col("bytes_per_vec"), col("recall_permille").as("t_recall"))
    val tiers = tierSet match {
      case Some(ts) => tiersAll.filter(col("tier").isInCollection(ts.toSeq))
      case None => tiersAll
    }
    val floors = Floors.map(f => (f.toLong, axisFloor(f).toLong))
      .toDF("floor_permille", "axis_floor_permille")
    val npPick = floors
      .join(sweep, col("np_recall") >= col("axis_floor_permille"), "left")
      .groupBy("floor_permille", "axis_floor_permille")
      .agg(min(col("nprobe")).as("np_min"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("floor_permille")
      .orderBy(col("cand_per_query"), col("bytes_per_vec"), col("tier"))
    val tierPick = floors
      .join(tiers, col("t_recall") >= col("axis_floor_permille"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("floor_permille"), col("tier"), col("refine"),
        col("cand_per_query"), col("bytes_per_vec"))
    npPick.join(tierPick, "floor_permille")
      .select(col("floor_permille"), col("axis_floor_permille"),
        coalesce(col("np_min"), lit(-1L)).as("nprobe"),
        coalesce(col("tier"), lit("none")).as("tier"),
        coalesce(col("refine"), lit(-1L)).as("refine"),
        coalesce(col("cand_per_query"), lit(-1L)).as("cand_per_query"),
        coalesce(col("bytes_per_vec"), lit(-1L)).as("bytes_per_vec"))
      .orderBy("floor_permille")
  }

  /** E53 oracle: the two grid replays nested verbatim (both already
    * oracle SQL for their own keys — nothing re-derived), the same
    * per-floor argmin: smallest qualifying nprobe; first qualifying
    * (tier, refine) by (cand_per_query, bytes_per_vec, tier).
    */
  def annAutotuneOracleSql(spark: SparkSession, dir: String,
                           k: Int = 5): String = {
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0)
    val bytesRows = tierBytesOf(dim)
      .map { case (t, b) => s"('$t', CAST($b AS BIGINT))" }.mkString(", ")
    // (composed, axis) pairs as Scala-computed integer literals
    val floorsRows = Floors
      .map(f => s"(CAST($f AS BIGINT), CAST(${axisFloor(f)} AS BIGINT))")
      .mkString(", ")
    s"""WITH sweep AS MATERIALIZED (
       |  SELECT nprobe, recall_permille AS np_recall FROM (
       |${Dedup.annParamSweepOracleSql(spark, dir, k)}
       |  ) t),
       |tierb(tier, bytes_per_vec) AS (VALUES $bytesRows),
       |tiers AS MATERIALIZED (
       |  SELECT g.tier, g.refine, g.cand_per_query, b.bytes_per_vec,
       |    g.recall_permille AS t_recall
       |  FROM (
       |${QuantReport.quantTierReportOracleSql(spark, dir)}
       |  ) g JOIN tierb b ON b.tier = g.tier),
       |floors(floor_permille, axis_floor_permille) AS (VALUES $floorsRows),
       |np AS (
       |  SELECT f.floor_permille, f.axis_floor_permille, min(s.nprobe) AS np_min
       |  FROM floors f LEFT JOIN sweep s ON s.np_recall >= f.axis_floor_permille
       |  GROUP BY 1, 2),
       |tp AS (
       |  SELECT floor_permille, tier, refine, cand_per_query, bytes_per_vec FROM (
       |    SELECT f.floor_permille, t.tier, t.refine, t.cand_per_query,
       |      t.bytes_per_vec,
       |      row_number() OVER (PARTITION BY f.floor_permille
       |        ORDER BY t.cand_per_query, t.bytes_per_vec, t.tier) AS rn
       |    FROM floors f LEFT JOIN tiers t ON t.t_recall >= f.axis_floor_permille) z
       |  WHERE rn = 1)
       |SELECT n.floor_permille, n.axis_floor_permille,
       |  coalesce(n.np_min, CAST(-1 AS BIGINT)) AS nprobe,
       |  coalesce(t.tier, 'none') AS tier,
       |  coalesce(t.refine, CAST(-1 AS BIGINT)) AS refine,
       |  coalesce(t.cand_per_query, CAST(-1 AS BIGINT)) AS cand_per_query,
       |  coalesce(t.bytes_per_vec, CAST(-1 AS BIGINT)) AS bytes_per_vec
       |FROM np n JOIN tp t USING (floor_permille)
       |ORDER BY floor_permille""".stripMargin
  }

  /** A27: `index_select` — the MEASURED family-level selection the
    * round-14 verdict asked for: A9's `index_recommend` replays the
    * reference's size/dim heuristic (app/indexes/manager.py:40-64),
    * but the engine measures everything a real pick needs, so this
    * key derives a per-floor family recommendation (linear / ivf /
    * ivfpq / graph + operating config) from the MEMOIZED grids by
    * replayable argmin — the A26i pattern at the family level.
    *
    * Stated objective, per composed recall floor: among the families'
    * cheapest qualifying operating points, minimize ESTIMATED SCORED
    * CANDIDATES PER QUERY (the cost that scales with traffic), then
    * bytes per vector (the memory footprint), then the family name as
    * the deterministic tiebreak. Family rows:
    *   - linear: qualifies everywhere (recall 1000 by construction);
    *     cand = n, bytes = 4·dim.
    *   - ivf (raw-vector nprobe serving): smallest nprobe whose E50
    *     sweep recall meets the floor DIRECTLY (no second loss axis —
    *     the re-rank is exact); cand = n·nprobe/nc (the expected
    *     probed-list mass, integer division), bytes = 4·dim.
    *   - ivfpq: the E53 composed pick at the floor (axis-bar
    *     qualification, measured cand_per_query = the exact-refine
    *     work, tier bytes) — qualifying iff both axes found a config.
    *   - graph: the A26i cheapest qualifying (rounds, beam); cand =
    *     rounds·beam·2k (each beam slot scores ~deg = 2k expansion
    *     neighbors), bytes = 4·dim + 20·k (vectors + the (src, dst,
    *     dist) adjacency rows).
    * The candidate estimates price DIFFERENT per-candidate work (an
    * ADC lookup is cheaper than a raw-float distance) — the objective
    * deliberately counts candidates, not cycles, and says so; the
    * dashboards (E43/A24/E54) stay the place to read the raw curves.
    * Every input is an exact-integer engine measurement or a session
    * constant, so the key is oracle-checked end-to-end: the generator
    * nests the E50/E53/A26i replays verbatim and applies the same
    * arithmetic and argmin in SQL.
    */
  def indexSelect(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val n = Tables.embeddingsCount(spark, dir)
    val nc = Ivf.defaultK(n).toLong
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0).toLong
    val sweep = sweepGrid(spark, dir, k)
      .select("nprobe", "recall_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val e53 = annAutotune(spark, dir, k).collect()
      .map(r => r.getAs[Long]("floor_permille") ->
        (r.getAs[Long]("nprobe"), r.getAs[String]("tier"),
          r.getAs[Long]("refine"), r.getAs[Long]("cand_per_query"),
          r.getAs[Long]("bytes_per_vec"))).toMap
    val graph = GraphIndex.graphTuneGrid(spark, dir, k)
    // (family, nprobe, tier, refine, rounds, beam, cand, bytes)
    type Fam = (String, Long, String, Long, Long, Long, Long, Long)
    val rows = Floors.map { f =>
      val cands = scala.collection.mutable.ArrayBuffer[Fam](
        ("linear", -1L, "none", -1L, -1L, -1L, n, 4L * dim))
      sweep.filter(_._2 >= f).map(_._1).sorted.headOption.foreach { np =>
        cands += (("ivf", np, "none", -1L, -1L, -1L, n * np / nc, 4L * dim))
      }
      e53.get(f.toLong).foreach { case (np, tier, refine, cand, bytes) =>
        if (np > 0 && tier != "none")
          cands += (("ivfpq", np, tier, refine, -1L, -1L, cand, bytes))
      }
      graph.filter(_._3 >= f)
        .sortBy { case (r, b, _) => (r.toLong * b, r, b) }.headOption
        .foreach { case (r, b, _) =>
          cands += (("graph", -1L, "none", -1L, r.toLong, b.toLong,
            r.toLong * b * 2 * k, 4L * dim + 20L * k))
        }
      val best = cands.minBy { case (fam, _, _, _, _, _, cand, bytes) =>
        (cand, bytes, fam) }
      (f.toLong, best._1, best._2, best._3, best._4, best._5, best._6,
        best._7, best._8)
    }
    rows.toDF("floor_permille", "family", "nprobe", "tier", "refine",
        "rounds", "beam", "cand_per_query", "bytes_per_vec")
      .orderBy("floor_permille")
  }

  /** A27 oracle: the three grid replays nested VERBATIM (each already
    * its own key's oracle — nothing re-derived), the same family cost
    * arithmetic with (n, nc, dim, k) inlined as session-constant
    * integers, the same (cand, bytes, family) argmin.
    */
  def indexSelectOracleSql(spark: SparkSession, dir: String,
                           k: Int = 5): String = {
    val n = Tables.embeddingsCount(spark, dir)
    val nc = Ivf.defaultK(n).toLong
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0).toLong
    val floorsRows = Floors.map(f => s"(CAST($f AS BIGINT))").mkString(", ")
    s"""WITH floors(floor_permille) AS (VALUES $floorsRows),
       |sw0 AS MATERIALIZED (
       |  SELECT nprobe, recall_permille AS np_recall FROM (
       |${Dedup.annParamSweepOracleSql(spark, dir, k)}
       |  ) t),
       |e53 AS MATERIALIZED (
       |  SELECT * FROM (
       |${annAutotuneOracleSql(spark, dir, k)}
       |  ) t),
       |gsel AS MATERIALIZED (
       |  SELECT * FROM (
       |${GraphIndex.graphAutotuneOracleSql(spark, dir, k)}
       |  ) t),
       |fam AS (
       |  SELECT f.floor_permille, 'linear' AS family,
       |    CAST(-1 AS BIGINT) AS nprobe, 'none' AS tier,
       |    CAST(-1 AS BIGINT) AS refine, CAST(-1 AS BIGINT) AS rounds,
       |    CAST(-1 AS BIGINT) AS beam, CAST($n AS BIGINT) AS cand_per_query,
       |    CAST(${4L * dim} AS BIGINT) AS bytes_per_vec
       |  FROM floors f
       |  UNION ALL
       |  SELECT floor_permille, 'ivf', np, 'none', CAST(-1 AS BIGINT),
       |    CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |    CAST($n * np // $nc AS BIGINT), CAST(${4L * dim} AS BIGINT)
       |  FROM (
       |    SELECT f.floor_permille, CAST(min(s.nprobe) AS BIGINT) AS np
       |    FROM floors f JOIN sw0 s ON s.np_recall >= f.floor_permille
       |    GROUP BY 1) q
       |  UNION ALL
       |  SELECT floor_permille, 'ivfpq', nprobe, tier, refine,
       |    CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), cand_per_query,
       |    bytes_per_vec
       |  FROM e53 WHERE nprobe > 0 AND tier <> 'none'
       |  UNION ALL
       |  SELECT floor_permille, 'graph', CAST(-1 AS BIGINT), 'none',
       |    CAST(-1 AS BIGINT), rounds, beam,
       |    CAST(rounds * beam * 2 * $k AS BIGINT),
       |    CAST(${4L * dim + 20L * k} AS BIGINT)
       |  FROM gsel WHERE rounds > 0)
       |SELECT floor_permille, family, nprobe, tier, refine, rounds, beam,
       |  cand_per_query, bytes_per_vec
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY floor_permille
       |    ORDER BY cand_per_query, bytes_per_vec, family) AS rn
       |  FROM fam) z
       |WHERE rn = 1
       |ORDER BY floor_permille""".stripMargin
  }

  /** The recall floor [[knnAuto]] routes at (the writeAutotune
    * default — the operating point a deployment states once).
    */
  val AutoFloor = 700

  /** A28: `knn_auto` — the DISPATCH role of the reference's
    * IndexManager (app/indexes/manager.py:40-64: the manager doesn't
    * just recommend an index, it ROUTES queries to it), driven by the
    * MEASURED family pick instead of the size heuristic: read A27's
    * argmin at the stated [[AutoFloor]] and serve through that
    * family's existing tuned face —
    *   - linear → the exact batch scan (E6's contract);
    *   - ivf    → the probed batch at the PICK's nprobe (E6b's face,
    *     the smallest measured-qualifying probe count);
    *   - ivfpq  → the persisted tuned tree served at the PICK's OWN
    *     (nprobe, refine) when the picked tier is PQ-family (the
    *     operating point the argmin was won on — Pq.queryIvfPq with
    *     explicit overrides), falling back to A18e's sidecar point
    *     when the pick's tier is sq8/bq/pca (codes the persisted
    *     IVF-PQ face cannot serve — queryIvfPqTuned's own gate); both
    *     lifted to the batch shape with query_id 0, the family's
    *     single-query convention;
    *   - graph  → the beam at the PICK's (rounds, beam) (A26j's
    *     serving kernel).
    * The family argmin always exists (linear qualifies at every floor
    * by construction — recall 1000), so there is no unroutable case;
    * the oracle generator replays the SAME argmin over the memoized
    * grids and emits the routed family's own serving oracle verbatim.
    * AutotuneSpec pins serving ≡ the picked family's own key.
    */
  def knnAuto(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val pick = indexSelect(spark, dir, k)
      .filter(col("floor_permille") === AutoFloor.toLong).head()
    pick.getAs[String]("family") match {
      case "linear" => Dedup.annTopkBatch(spark, dir, k)
      case "ivf" =>
        Ivf.annBatch(spark, dir, k, graft.functions.VectorMetric.Cosine,
            nprobeOpt = Some(pick.getAs[Long]("nprobe").toInt))
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      case "ivfpq" =>
        val np = pick.getAs[Long]("nprobe")
        val rf = pick.getAs[Long]("refine")
        val tier = pick.getAs[String]("tier")
        val served =
          if (np > 0 && rf > 0 && PqFamilyTiers.contains(tier))
            // serve at the pick's OWN measured operating point — the
            // (nprobe, refine) the family argmin priced
            Pq.ivfpqTopkAt(spark, dir, k, np.toInt, rf.toInt)
          else Pq.ivfpqTopkTuned(spark, dir, k)
        served.select(lit(0L).as("query_id"), col("neighbor_id"), col("rank"))
      case "graph" =>
        GraphIndex.graphTopkAt(spark, dir, k,
          graft.functions.VectorMetric.Cosine,
          pick.getAs[Long]("rounds").toInt, pick.getAs[Long]("beam").toInt)
      case other => sys.error(s"unroutable family pick '$other'") // unreachable: linear always qualifies
    }
  }

  /** A28 oracle: the same family argmin (replayed over the memoized
    * grids in Scala — the graphTopkTuned operating-point pattern),
    * then the routed family's own serving oracle verbatim.
    */
  def knnAutoOracleSql(spark: SparkSession, dir: String, k: Int = 5): String = {
    val pick = indexSelect(spark, dir, k)
      .filter(col("floor_permille") === AutoFloor.toLong).head()
    pick.getAs[String]("family") match {
      case "linear" => Dedup.annTopkBatchOracleSql(k)
      case "ivf" =>
        Ivf.annBatchNprobeOracleSql(spark, dir, k,
          nprobeOpt = Some(pick.getAs[Long]("nprobe").toInt))
      case "ivfpq" =>
        val np = pick.getAs[Long]("nprobe")
        val rf = pick.getAs[Long]("refine")
        val tier = pick.getAs[String]("tier")
        val inner =
          if (np > 0 && rf > 0 && PqFamilyTiers.contains(tier))
            // the pick's own operating point, replayed verbatim
            Pq.ivfpqTopkOracleSqlImpl(spark, dir, k, opq = false,
              npOverride = Some(np.toInt), refine = rf.toInt)
          else Pq.ivfpqTopkTunedOracleSql(spark, dir, k)
        s"""SELECT CAST(0 AS BIGINT) AS query_id, neighbor_id, rank FROM (
           |$inner
           |) t ORDER BY rank""".stripMargin
      case "graph" =>
        GraphIndex.graphTopkAtOracleSql(spark, dir, k,
          pick.getAs[Long]("rounds").toInt, pick.getAs[Long]("beam").toInt)
      case other => sys.error(s"unroutable family pick '$other'")
    }
  }

  /** Persist the tuner's pick for `floor` into an `_autotune` sidecar
    * beside a persisted index tree — config the serving defaults read
    * ([[Pq.queryIvfPqTuned]]), not a report a human transcribes.
    */
  def writeAutotune(spark: SparkSession, dir: String, indexPath: String,
                    floor: Int = AutoFloor, k: Int = 5,
                    tierSet: Option[Set[String]] = None): Unit = {
    // fail at WRITE time, not as an empty sidecar that crashes serving
    require(Floors.contains(floor),
      s"floor $floor is not on the tuned grid ${Floors.mkString("/")}")
    annAutotuneTiers(spark, dir, k, tierSet)
      .filter(col("floor_permille") === floor.toLong)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_autotune")
  }

  /** Tiers whose (refine) operating point the IVF-PQ serving path can
    * honor — the grid measured refine against THESE codes; an sq8/bq/
    * pca pick's refine was measured against different codes and does
    * not transfer.
    */
  private[graft] val PqFamilyTiers = Set("pq", "opq", "pqr")

  /** The persisted pick ((nprobe, refine, tier); -1 sentinels mean
    * "grid had no qualifying config" and the caller's own defaults
    * stand).
    */
  private[graft] def loadAutotune(spark: SparkSession,
                                      indexPath: String): Option[(Long, Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_autotune")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else spark.read.parquet(s"$indexPath/_autotune")
      .select("nprobe", "refine", "tier").head(1).headOption
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }
}
