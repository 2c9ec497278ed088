package graft.operators

import graft.{Memo, Tables}
import graft.functions.VectorMetric
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** E55: `sample_kcenter` — greedy k-center coreset selection over the
  * embedding corpus (Gonzalez' farthest-point traversal, the standard
  * 2-approximation): seed with the smallest vec_id, then T−1 rounds of
  * "pick the vector farthest from everything selected so far". The
  * output is the selected centers in pick order with each center's
  * min-distance to the prior set at selection time — a non-increasing
  * sequence whose row r is the exact covering radius of the first r−1
  * centers, so the key doubles as the coreset-quality curve (the
  * "how many diverse exemplars until the corpus is covered at radius
  * ε" read every annotation-budget / eval-set-seeding pass wants).
  *
  * Reference tie-in: stackai-vector-db exposes flat/IVF indexes over
  * the same embedding model (app/indexes/ivf.py builds on k-means
  * cluster structure); k-center is the DIVERSITY-side complement the
  * training-data pipeline needs (semantic_prune/E33 removes near-dups,
  * this SELECTS a maximally-spread exemplar set). Deterministic end to
  * end (seed = min id, ties by id), so unlike k-means it is
  * oracle-checkable exactly.
  *
  * Scale shape (100 TB): each round is ONE corpus scan — the newly
  * picked center rides into the plan as a LITERAL float array (no
  * join, no shuffle), the running min-distance column updates with
  * `least`, and the argmax is a TakeOrdered(1). Total work O(T·N)
  * with O(T·dim) driver state; the per-round frame is
  * localCheckpoint-pinned so round r never recomputes rounds < r.
  * T is a knob (default 8) — production coreset sizes (10³-10⁴) pay
  * the same per-round scan; for T beyond ~10² the BATCHED variant
  * below ([[sampleKcenterBatch]], E55b) amortizes: p picks per scan,
  * the standard batch-farthest-point trade (within-batch picks don't
  * see each other, so a tight far-away cluster can absorb a whole
  * batch where sequential greedy would take one — the coverage bound
  * loosens from 2-approx toward 2·(1+ε) as p grows; both variants are
  * shipped so the trade is a measured choice, not a default).
  * Measured at 25× (tools/CoresetProbe at commit 3ba9126, 50k×64 clustered, 33-center
  * budget): sequential 32 scans 15.0 s vs batched 4 scans 4.6 s
  * (3.3×), covering radius 6.37 vs 7.18 (1.127×).
  */
object Coreset {

  /** Default number of selected centers (driver-key configuration). */
  val DefaultT = 8

  /** Greedy k-center: (rank, vec_id, dist) — dist is the pick's
    * min-distance to the previously selected set (0.0 for the seed),
    * i.e. the covering radius of the prefix before it. L2 domain (the
    * classic k-center objective; the embedding model is unnormalized
    * here, matching A1/A8's l2 contract).
    */
  def sampleKcenter(spark: SparkSession, dir: String,
                    t: Int = DefaultT): DataFrame =
    sampleKcenterMetric(spark, dir, t, VectorMetric.L2)

  /** E55c: the same traversal under COSINE distance — the coreset for
    * normalized-embedding corpora where angular spread, not magnitude,
    * is the diversity that matters. Cosine distance is a proper
    * dissimilarity on the (near-)unit sphere so farthest-point keeps
    * its meaning; DOT is refused loudly (not a metric — "farthest
    * under inner product" just chases the largest-norm vector and the
    * greedy bound has no interpretation).
    */
  def sampleKcenterCos(spark: SparkSession, dir: String,
                       t: Int = DefaultT): DataFrame =
    sampleKcenterMetric(spark, dir, t, VectorMetric.Cosine)

  private def sampleKcenterMetric(spark: SparkSession, dir: String,
                                  t: Int, metric: Int): DataFrame = {
    require(metric != VectorMetric.Dot,
      "k-center is undefined under dot: inner product is not a metric")
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val seed = vecs.orderBy(col("id").asc).limit(1)
      .select(col("id"), col("vec")).head()
    val seedId = seed.getLong(0)
    var centerVec: Seq[Float] = seed.getSeq[Float](1)
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (1, seedId, 0.0))
    // (id, vec, md): running min-distance to the selected set. The new
    // center enters as a literal array — a narrow projection, no join.
    var md: DataFrame = null
    var pickedId = seedId
    var exhausted = false
    // finally releases the round frame even when a round throws — a
    // leaked eager checkpoint in this long-lived session only goes
    // with GC
    try {
      (2 to t).foreach { r =>
        if (!exhausted) {
          val centerLit = array(centerVec.map(lit): _*)
          val dist = Ivf.distCol(metric, col("vec"), centerLit)
          val next = (if (md == null) {
            vecs.filter(col("id") =!= seedId)
              .select(col("id"), col("vec"), dist.as("md"))
          } else {
            md.filter(col("id") =!= pickedId)
              .select(col("id"), col("vec"), least(col("md"), dist).as("md"))
          }).localCheckpoint(true)
          if (md != null) md.unpersist()
          md = next
          // t beyond the corpus: return the centers that exist (the
          // driver-side greedy fold's behavior), never throw
          val rows = md.orderBy(col("md").desc, col("id").asc).limit(1).collect()
          if (rows.isEmpty) exhausted = true
          else {
            val pick = rows(0)
            pickedId = pick.getLong(0)
            centerVec = pick.getSeq[Float](1)
            picked += ((r, pickedId, pick.getDouble(2)))
          }
        }
      }
    } finally {
      if (md != null) md.unpersist()
    }
    picked.toSeq.toDF("rank", "vec_id", "dist").orderBy("rank")
  }

  // ---------------------------------------------- threshold (D16 core)

  /** The rank of the E55 pick whose admission distance becomes the
    * STREAMING threshold radius: r = the covering radius of the first
    * [[RadiusRank]]−1 greedy centers. The doubling-algorithm family
    * (Charikar et al.) maintains a k-center under insertions with a
    * fixed admission radius; deriving r FROM the batch k-center keeps
    * it corpus-calibrated and fully replayable (the oracle re-derives
    * it from the same E55 chain) instead of a magic constant. Measured
    * (tools/KcProbe at commit 3ba9126): the sf corpora's distances concentrate, so the
    * admitted count stays in single digits across ranks 3-5 — the
    * packing number at any covering-radius-derived r is small there;
    * rank 5 gives the richest non-degenerate coreset (4 / 6 centers at
    * sf0.001 / sf0.1).
    */
  val RadiusRank = 5

  /** The admission radius for `dir` (loud when the corpus is smaller
    * than the rank — the threshold rule has no calibration there).
    * Metric-parametric since round 15 (the D16 parity task): a
    * normalized-embedding pipeline maintains an ANGULAR coreset, so
    * the radius calibrates through the cosine k-center chain when the
    * stream admits under cosine (dot refuses at the shared E55 seam).
    */
  private[graft] def thresholdRadius(spark: SparkSession, dir: String,
                                     metric: Int = VectorMetric.L2): Double = {
    val rows = sampleKcenterMetric(spark, dir, RadiusRank, metric)
      .filter(col("rank") === RadiusRank).select("dist").collect()
    require(rows.nonEmpty,
      s"kcenter threshold: corpus at $dir has fewer than $RadiusRank points")
    rows(0).getDouble(0)
  }

  /** Threshold admission over an (id, vec) frame in ascending id order
    * against `centers0`: a point joins the coreset iff its distance to
    * every current center EXCEEDS r (strict — both engines). Returns
    * the newly admitted (id, vec, md-at-admission) in admission order;
    * when `centers0` is empty the min-id point seeds with dist 0.0
    * (the E55 seed convention). The running min-distance updates with
    * the same literal-center `least` folds as E55, so every double is
    * the shared kernel's; each round is one bounded job over the
    * SHRINKING candidate frame (points already within r of a center
    * drop before the loop — at a calibrated r the candidates are the
    * uncovered minority, and the admitted count is bounded by the
    * corpus' packing number at r, never batch-sized).
    */
  private[graft] def thresholdAdmit(vecs: DataFrame,
                                    centers0: Seq[(Long, Seq[Float])],
                                    r: Double,
                                    metric: Int = VectorMetric.L2)
      : Seq[(Long, Seq[Float], Double)] = {
    val admitted = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float], Double)]()
    var seedFilter: Option[Long] = None
    var cents = centers0
    if (cents.isEmpty) {
      val seed = vecs.orderBy(col("id").asc).limit(1)
        .select(col("id"), col("vec")).collect()
      if (seed.isEmpty) return Seq.empty
      val (sid, sv) = (seed(0).getLong(0), seed(0).getSeq[Float](1))
      admitted += ((sid, sv, 0.0))
      cents = Seq((sid, sv))
      seedFilter = Some(sid)
    }
    val md0 = cents.map { case (_, v) =>
      Ivf.distCol(metric, col("vec"), array(v.map(lit): _*))
    }.reduce(least(_, _))
    var cur = seedFilter.fold(vecs)(sid => vecs.filter(col("id") =!= sid))
      .select(col("id"), col("vec"), md0.as("md"))
      .filter(col("md") > r)
      .localCheckpoint(true)
    try {
      var done = false
      while (!done) {
        val rows = cur.orderBy(col("id").asc).limit(1).collect()
        if (rows.isEmpty) done = true
        else {
          val (id, v, d) =
            (rows(0).getLong(0), rows(0).getSeq[Float](1), rows(0).getDouble(2))
          admitted += ((id, v, d))
          val dist = Ivf.distCol(metric, col("vec"), array(v.map(lit): _*))
          val next = cur.filter(col("id") =!= id)
            .select(col("id"), col("vec"), least(col("md"), dist).as("md"))
            .filter(col("md") > r)
            .localCheckpoint(true)
          cur.unpersist()
          cur = next
        }
      }
    } finally cur.unpersist()
    admitted.toSeq
  }

  /** The full-corpus sequential threshold scan (id order) — the batch
    * twin D16's streamed drain must equal (StreamsSpec pins it) and
    * the source of the oracle's unroll count. Memoized per
    * (dir, metric).
    */
  private[graft] def kcenterThresholdPicks(spark: SparkSession, dir: String,
                                           metric: Int = VectorMetric.L2)
      : Seq[(Long, Double)] =
    Memo(dir, "coreset.thresholdPicks", metric) {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val r = thresholdRadius(spark, dir, metric)
      thresholdAdmit(vecs, Seq.empty, r, metric).map(t => (t._1, t._3))
    }

  /** D16 oracle: the threshold chain unrolled — the E55 replay (nested
    * once, MATERIALIZED) yields the radius; then J blocks of "least-
    * update by the last admitted center, admit the min-id point whose
    * running min-distance exceeds r" (admitted ids are strictly
    * increasing BY THEOREM: a point with md > r against a LARGER
    * center set had md > r at its own scan position and would already
    * be a center — so min-id admission needs no id lower bound, and
    * rank = row_number by vec_id is the admission order). J comes from
    * the session's memoized sequential scan, exactly like the descent
    * replay's iteration count.
    */
  def streamKcenterOracleSql(spark: SparkSession, dir: String,
                             metric: Int = VectorMetric.L2): String = {
    val j = kcenterThresholdPicks(spark, dir, metric).size - 1
    val d = Ivf.pairDistSqlTemplate(metric)
    val blocks = (2 to j + 1).map { i =>
      val prev = if (i == 2) "" else s"""tm${i - 1} AS MATERIALIZED (
         |  SELECT m.vec_id, m.embedding,
         |    LEAST(m.md, ${d.format("m", "c")}) AS md
         |  FROM tm${i - 2} m, tc${i - 1} c
         |  WHERE m.vec_id <> c.vec_id),
         |""".stripMargin
      s"""${prev}tc$i AS (
         |  SELECT vec_id, embedding, md FROM tm${i - 1}
         |  WHERE md > (SELECT r FROM rr)
         |  ORDER BY vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to j + 1)
      .map(i => s"UNION ALL SELECT vec_id, md FROM tc$i")
      .mkString("\n")
    val blockSep = if (j == 0) "" else ",\n"
    s"""WITH rr AS MATERIALIZED (
       |  SELECT dist AS r FROM (
       |${sampleKcenterOracleSql(RadiusRank, metric)}
       |  ) kcr WHERE rank = $RadiusRank),
       |tc1 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
       |tm1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, ${d.format("e", "s")} AS md
       |  FROM embeddings e, tc1 s WHERE e.vec_id <> s.vec_id)$blockSep$blocks
       |SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS rank,
       |  vec_id, dist FROM (
       |  SELECT vec_id, CAST(0.0 AS DOUBLE) AS dist FROM tc1
       |  $rows) x(vec_id, dist)
       |ORDER BY rank""".stripMargin
  }

  /** Batched rounds and picks-per-round (E55b: 1 + R·p centers). */
  val BatchRounds = 4
  val BatchP = 8

  /** E55b: BATCHED greedy k-center — p farthest points per corpus
    * scan instead of one (1 + R·p centers in R scans): each round
    * takes the top-p by current min-distance (md DESC, id), then ONE
    * update pass folds all p new centers into the running md
    * (`least(md, min over the p literal centers)` — still a single
    * narrow projection, no join). This is the production-coreset
    * shape: 10⁴ centers = 10⁴/p scans. Output carries (rank, round,
    * vec_id, dist) — dist is the pick's md BEFORE its round's update,
    * so within a round the p dists are the honest "what the batch
    * looked like when chosen" reads (within-batch picks don't see
    * each other; see the class note on the coverage trade).
    */
  def sampleKcenterBatch(spark: SparkSession, dir: String,
                         rounds: Int = BatchRounds,
                         p: Int = BatchP): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val seed = vecs.orderBy(col("id").asc).limit(1)
      .select(col("id"), col("vec")).head()
    val seedId = seed.getLong(0)
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Double)](
      (1, 0, seedId, 0.0))
    var rank = 1
    val seedLit = array(seed.getSeq[Float](1).map(lit): _*)
    var md = vecs.filter(col("id") =!= seedId)
      .select(col("id"), col("vec"),
        Ivf.distCol(VectorMetric.L2, col("vec"), seedLit).as("md"))
      .localCheckpoint(true)
    var exhausted = false
    // finally releases the round frame even when a round throws (the
    // sequential fold's hygiene)
    try {
      (1 to rounds).foreach { r =>
        val picks =
          if (exhausted) Array.empty[org.apache.spark.sql.Row]
          else md.orderBy(col("md").desc, col("id").asc).limit(p)
            .select(col("id"), col("vec"), col("md")).collect()
        if (picks.isEmpty) exhausted = true
        picks.foreach { row =>
          rank += 1
          picked += ((rank, r, row.getLong(0), row.getDouble(2)))
        }
        // corpus exhausted before the configured rounds: return what
        // exists (the oracle's UNION of empty blocks does the same)
        if (picks.nonEmpty) {
          val minToNew = picks.map { row =>
            Ivf.distCol(VectorMetric.L2, col("vec"),
              array(row.getSeq[Float](1).map(lit): _*))
          }.reduce(least(_, _))
          val ids = picks.map(_.getLong(0))
          val next = md.filter(!col("id").isin(ids: _*))
            .select(col("id"), col("vec"), least(col("md"), minToNew).as("md"))
            .localCheckpoint(true)
          md.unpersist()
          md = next
        }
      }
    } finally {
      md.unpersist()
    }
    picked.toSeq.toDF("rank", "round", "vec_id", "dist").orderBy("rank")
  }

  /** E55b oracle: R unrolled blocks — top-p by (md DESC, id) per
    * round, then the min-over-batch LEAST update as a grouped
    * cross-join against the p-row center CTE (MIN over the batch is
    * order-independent, so it equals the engine's chained `least`
    * fold exactly); global rank re-derived by the same (round,
    * dist DESC, vec_id) order the engine appends in.
    */
  def sampleKcenterBatchOracleSql(rounds: Int = BatchRounds,
                                  p: Int = BatchP): String = {
    val d = Ivf.pairDistSqlTemplate(VectorMetric.L2)
    val blocks = (1 to rounds).map { r =>
      // any_value is safe ONLY because m_r carries exactly one row per
      // vec_id (m1 is keyed by embeddings.vec_id and every later block
      // groups by it), so embedding is functionally dependent on the
      // group key — stated here so the arbitrary-value aggregate reads
      // as the invariant it relies on, not a lucky first()
      val prev = if (r == 1) "" else s"""m$r AS MATERIALIZED (
         |  SELECT m.vec_id, any_value(m.embedding) AS embedding,
         |    LEAST(m.md, MIN(${d.format("m", "c")})) AS md
         |  FROM m${r - 1} m, c${r - 1} c
         |  WHERE m.vec_id NOT IN (SELECT vec_id FROM c${r - 1})
         |  GROUP BY m.vec_id, m.md),
         |""".stripMargin
      s"""${prev}c$r AS MATERIALIZED (
         |  SELECT vec_id, embedding, md FROM m$r
         |  ORDER BY md DESC, vec_id LIMIT $p)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to rounds)
      .map(r => s"UNION ALL SELECT $r, vec_id, md FROM c$r")
      .mkString("\n")
    s"""WITH s1 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
       |m1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, ${d.format("e", "s")} AS md
       |  FROM embeddings e, s1 s WHERE e.vec_id <> s.vec_id),
       |$blocks
       |SELECT CAST(row_number() OVER (ORDER BY round, dist DESC, vec_id) AS INTEGER) AS rank,
       |  CAST(round AS INTEGER) AS round, vec_id, dist FROM (
       |  SELECT 0 AS round, vec_id, CAST(0.0 AS DOUBLE) AS dist FROM s1
       |  $rows) x(round, vec_id, dist)
       |ORDER BY rank""".stripMargin
  }

  /** The exact replay: T−1 unrolled CTE blocks, each the incremental
    * `least(md, dist-to-new-center)` update plus the (md DESC, id)
    * argmax — the literally identical double fold (list_distance on
    * DOUBLE[] = the l2Distance kernel), so ranks and the dist column
    * hash-match. Static SQL: the seed is `min(vec_id)` in-query.
    */
  def sampleKcenterOracleSql(t: Int = DefaultT,
                             metric: Int = VectorMetric.L2): String = {
    // the same guard as the engine seam: both halves of the contract
    // refuse the undefined objective, not just one
    require(metric != VectorMetric.Dot,
      "k-center is undefined under dot: inner product is not a metric")
    val d = Ivf.pairDistSqlTemplate(metric)
    // chain: m1 = dists to the seed; c_r = argmax of m_{r-1};
    // m_r = least-update of m_{r-1} by c_r (excluding the pick)
    val blocks = (2 to t).map { r =>
      val prev = if (r == 2) "" else s"""m${r - 1} AS MATERIALIZED (
         |  SELECT m.vec_id, m.embedding,
         |    LEAST(m.md, ${d.format("m", "c")}) AS md
         |  FROM m${r - 2} m, c${r - 1} c
         |  WHERE m.vec_id <> c.vec_id),
         |""".stripMargin
      s"""${prev}c$r AS (
         |  SELECT vec_id, embedding, md FROM m${r - 1}
         |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to t)
      .map(r => s"UNION ALL SELECT $r, vec_id, md FROM c$r")
      .mkString("\n")
    s"""WITH s1 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
       |m1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, ${d.format("e", "s")} AS md
       |  FROM embeddings e, s1 s WHERE e.vec_id <> s.vec_id),
       |$blocks
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, dist FROM (
       |  SELECT 1 AS rank, vec_id, CAST(0.0 AS DOUBLE) AS dist FROM s1
       |  $rows) x(rank, vec_id, dist)
       |ORDER BY rank""".stripMargin
  }
}
