package graft.operators

import graft.{Memo, Tables}
import graft.functions.{VectorFunctions, VectorMetric}
import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructType}

/** Graph-based ANN SERVING + lifecycle — the production index family
  * (HNSW / NSG / DiskANN lineage) over the E37c NN-Descent kNN graph:
  * E37c BUILDS the graph; this module SERVES through it and maintains
  * it as a persisted index.
  *
  * Serving (`graph_topk`) is best-first beam search re-expressed as a
  * BATCH operator: instead of a per-query priority queue (which does
  * not distribute), every query advances one bounded expansion round
  * at a time — beam ∪ neighbors(beam) through one join against the
  * SYMMETRIZED edge table (reverse edges double navigability for free;
  * HNSW/NSG graphs are undirected for the same reason), exact
  * re-score, keep top-B per query by the family's (dist, id) tie
  * contract — for a FIXED number of rounds. Fixed rounds + fixed beam
  * make the search fully deterministic and oracle-replayable (the
  * rounds unroll as materialized CTEs, the knnGraphDescentOracleSql
  * pattern); per-query convergence detection would buy little and
  * cost replayability. The beam SEEDS from two places: the coarse
  * quantizer (the session IVF index at a CONSTANT 1-list probe — the
  * DiskANN entry recipe; the coarse index plays the "upper layer"
  * role HNSW builds hierarchically) and, for in-corpus queries, the
  * query node's OWN stored adjacency (searching an already-indexed
  * point starts from its links — the HNSW re-insert convention).
  * Measured on sf0.001 (tools/GraphProbe at commit 3ba9126): the graph's own edges carry
  * 0.92 recall, pure navigation from the coarse entry saturates at
  * 0.55 (this corpus is near-uniform — the adversarial case for graph
  * navigation, same as the E37c uniform finding), and the seeded beam
  * reaches 0.97 — the expansion genuinely recovers neighbors the
  * stored adjacency misses. Cost per round is O(N·B·deg) skinny pair
  * rows through joins keyed on query_id/cand — no broadcast of
  * anything corpus-sized, no per-query driver work.
  *
  * The persisted layout (`writeGraphTree`) is PARTITION-LOCAL, the
  * REPOSE shape (distributed top-k from partition-local indexes plus
  * one global merge): the corpus splits into [[bucketCount]] buckets
  * by id (id mod buckets, recorded in `_meta.buckets`), and each
  * bucket holds its own exact k-NN graph over its own vectors, so an
  * edge never leaves its bucket. On disk: edge lists (src, dst, dist)
  * partitioned by `src_bucket`, the vectors with their coarse
  * assignment (`_vectors` (id, vec, cluster_id) partitioned by
  * `vbucket` — a graph index stores its vectors; HNSW does, DiskANN
  * stores compressed ones), the coarse `_centroids` (the entry
  * structure), `_meta` (k, buckets, metric, layout) and the shared
  * lifecycle `_state`. Serving ([[queryGraphBatch]]) pins one row per
  * bucket and runs [[GraphBeamExec]]: each task beam-searches its
  * bucket in memory for the broadcast query batch, and TopKByDistance
  * merges at most k rows per (query, bucket). Arrivals LINK INSIDE
  * THEIR BUCKET: a new vector's k out-edges are its exact top-k among
  * the bucket's existing vectors, reverse edges land on those members
  * capped at R = 2k by distance, and ONLY the touched buckets rewrite
  * through the rename-aside swap discipline (IndexLifecycle.compact's
  * pattern). Growth is dirt; the dirty-ratio policy (the reference's
  * should_rebuild arithmetic, app/services/index_service.py:88-99)
  * decides when the whole tree rebuilds. A tree written before this
  * layout (no `_meta.layout`) may hold edges across buckets: serving
  * and every mutation refuse it, and [[rebuild]] converts it.
  */
object GraphIndex {

  /** Bounded expansion rounds — with the seeded beam (coarse entry ∪
    * own adjacency) round 2 is measured saturation on the sf corpora
    * (tools/GraphProbe at commit 3ba9126: 0.972 → 0.974 → 0.975 at rounds 1/2/3); GraphSpec
    * pins the recall floor.
    *
    * The sf0.1 ceiling is the SUBSTRATE, and round 13 measured that
    * deeper DESCENT attacks it logarithmically (served 0.879 off the
    * 5-iter substrate's 0.742; 12 iters = 2.4× build → 0.899, still
    * under 0.9 — the near-uniform corpus is structureless by
    * construction, the E37c uniform finding). Round 14's two-phase
    * builder ([[refinedGraph]]) closed it from the other side: the
    * worst-kNN-radius fraction exact-refined at a widened probe
    * budget lifts the substrate 0.742 → 0.824 and served recall to
    * 0.935-0.938 per metric at 1.2× build (tools/RefineProbe at commit 3ba9126), where
    * 2.4× of extra descent could not reach 0.9. GraphSpec pins the
    * sf0.1 served floor at 0.9.
    */
  val BeamRounds = 2

  /** Beam width B = 2k: the shortlist each query carries between
    * rounds (HNSW's efSearch role).
    */
  def beamWidth(k: Int): Int = 2 * k

  /** Entry probe budget: ONE coarse list (constant — the entry scan is
    * O(N·N/nc) total for a corpus-sized batch, the same sub-quadratic
    * argument as the descent init).
    */
  val EntryNprobe = 1

  /** Reverse-edge cap on append: a touched node keeps its best R = 2k
    * edges (the NN-Descent general-neighborhood cap — hub nodes stay
    * bounded no matter how many arrivals link to them).
    */
  def reverseCap(k: Int): Int = 2 * k

  /** Fewest buckets a persisted tree splits into. At 100 TB the count
    * scales like any partition count ([[bucketCount]]) — the invariant
    * that matters is that mutations rewrite O(touched buckets), never
    * the table.
    */
  val GraphBuckets = 16

  /** Most rows a bucket holds: one bucket's exact k-NN build is O(M²)
    * distances and its serving arrays live in one task, so bounding M
    * bounds one task's time and memory and keeps the build linear in N.
    */
  val MaxBucketRows = 2048

  /** Buckets of a tree over `n` vectors: max([[GraphBuckets]],
    * ⌈n / [[MaxBucketRows]]⌉). A build or rebuild derives it; appends
    * and deletes keep the count `_meta` records.
    */
  def bucketCount(n: Long): Int =
    math.max(GraphBuckets.toLong, (n + MaxBucketRows - 1) / MaxBucketRows).toInt

  /** `_meta.layout` of a partition-local tree. Trees without it predate
    * the layout and may hold edges across buckets.
    */
  val LocalLayout = 2

  /** The family's default metric. Since round 13 the metric is a
    * PER-INDEX invariant plumbed through build/serve/lifecycle (the
    * reference's per-index config, indexes/base.py:207-219) exactly
    * like the IVF/PQ families: the l2 family (cosine/l2) shares all
    * machinery — cosine ranks by `1 − cos` over raw vectors, l2 by
    * l2Distance — and a persisted tree carries its metric in `_meta`
    * so a query can never run under a different metric than the one
    * the graph was descended with (legacy metric-less trees read as
    * cosine, what they were built as).
    */
  val DefaultMetric: Int = VectorMetric.Cosine

  // ------------------------------------------------- two-phase builder

  /** Fraction (permille) of nodes phase 2 exact-refines — the WORST
    * nodes by kNN radius (max edge distance: where a node's k-th
    * neighbor is far, the descent's neighbor-of-neighbor proposals had
    * the least to propagate — the sparse-region failure mode; max is
    * also ORDER-INDEPENDENT where an avg would put a float-summation
    * boundary between the engines). The round-13 verdict's task: the
    * sf0.1 served recall sat at the 5-iter descent's 0.742 substrate
    * and DEEPER descent was a measured negative (12 iters = 2.4× build
    * → 0.899 served), so the lever is a better BUILDER, not more beam.
    * Measured on the sf0.1 near-uniform corpus (the adversarial case):
    * refining 20% of nodes at the widened probe budget lifts the
    * substrate 0.742 → 0.824 and served past the 0.9 floor at ≤1.2×
    * build — under the 1.5× budget the verdict set, against the 2.4×
    * the deeper descent wanted. Phase 2 runs under a CONVERGENCE GATE
    * (see [[refinedGraph]]): a descent that converged before its
    * iteration cap skips it — measured at 25× on the clustered corpus
    * (tools/RefineProbe at commit 3ba9126): the converged fixpoint is already the exact
    * graph (substrate 1.000) and an ungated phase 2 spent 0.88× of
    * the build re-confirming it.
    */
  val RefinePermille = 200

  /** Phase-2 probe budget multiplier over the descent init's constant
    * [[Dedup.DescentInitNprobe]]: the refined nodes rank exactly
    * within 4× the lists the init saw (capped at all lists — at the
    * sf corpora nc ≤ 32, so the cap binds and the worst nodes get
    * their true top-k). Total phase-2 cost is
    * O(RefinePermille/1000 · N · np · N/nc) — the same sub-quadratic
    * form as the init, scaled by the refined fraction.
    */
  val RefineNprobeMult = 4

  /** Phase 2 of the two-phase build over a descent graph (the session
    * memo's [[refinedGraph]]): pick the worst
    * ⌊n·[[RefinePermille]]/1000⌋ nodes of the converged descent graph
    * by (max dist DESC, src), rank them EXACTLY within the widened
    * probe budget, and merge per node by the family's (dist, id)
    * top-k — a node's edges only improve (the merge is monotone), and
    * untouched nodes keep their descent edges verbatim.
    */
  private[graft] def refineGraph(g: DataFrame, vecs: DataFrame,
                                 assign: DataFrame,
                                 cents: Array[Array[Float]],
                                 n: Long, k: Int, metric: Int): DataFrame = {
    val w = (n * RefinePermille / 1000).toInt
    if (w == 0) return g
    val worst = g.groupBy("src").agg(max(col("dist")).as("wd"))
      .orderBy(col("wd").desc, col("src").asc).limit(w)
      .select("src")
      .localCheckpoint(true)
    val np = math.min(cents.length, Dedup.DescentInitNprobe * RefineNprobeMult)
    val worstQ = worst
      .join(vecs.select(col("id").as("src"), col("vec")), "src")
      .select(col("src").as("query_id"), col("vec").as("qvec"))
    // the refined fraction is corpus-sized, never a point batch:
    // shuffle-join the probes (probedTopK's broadcast contract).
    // probe selection is FLAT (hier = None) deliberately: the oracle
    // (refinedReplayCtes' rp) replays a flat top-np centroid rank, and
    // the two must agree at ANY nc — a two-level-trained hierarchy's
    // approximate selection diverges from the flat oracle as soon as
    // nc exceeds the np cap (the round-14 ADVICE parity finding).
    // Cost: O(nc) centroid distances per refined node instead of
    // O(√nc) — dominated by the exact ranking inside the probed lists.
    val probes = Ivf.probeSelect(worstQ, cents, np, metric, hier = None)
    val dist = Ivf.distCol(metric, col("vec"), col("qvec"))
    val re = Ivf.invertedLists(vecs, assign)
      .join(probes, col("cluster_id") === col("probe_cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(VectorFunctions.topKByDistance(dist, col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("p"))
      .select(col("query_id").as("src"), col("p.id").as("dst"),
        col("p.dist").as("dist"))
    val kept = g.join(worst, Seq("src"), "left_anti")
    val merged = g.join(worst, Seq("src"), "left_semi")
      .unionByName(re)
      .dropDuplicates("src", "dst") // identical dists either way
      .groupBy("src")
      .agg(VectorFunctions.topKByDistance(col("dist"), col("dst"), k).as("nn"))
      .select(col("src"), explode(col("nn")).as("p"))
      .select(col("src"), col("p.id").as("dst"), col("p.dist").as("dist"))
    val out = kept.unionByName(merged).localCheckpoint(true)
    worst.unpersist()
    out
  }

  /** The SERVING substrate: the converged NN-Descent graph (E37c's
    * memo) with phase 2's exact refinement merged in — memoized per
    * (dir, k, metric) like the descent graph it extends. E37c's
    * `knn_graph_descent` key deliberately stays the pure descent
    * contract; every session graph-SERVING face (topk, filtered,
    * stats) runs through this. A persisted tree builds its own
    * partition-local graphs instead ([[build]]).
    */
  private[graft] def refinedGraph(spark: SparkSession, dir: String,
                                  k: Int = 5,
                                  metric: Int = DefaultMetric): DataFrame =
    Memo(dir, "graph.refined", (k, metric)) {
      val (g, iters) = Dedup.descentGraph(spark, dir, k, metric)
      // the convergence gate (measured at 25×, tools/RefineProbe at commit 3ba9126): a
      // descent that CONVERGED before its iteration cap found a
      // fixpoint even the exploration schedule stopped improving —
      // on the clustered corpus that fixpoint IS the exact graph
      // (substrate 1.000) and phase 2 spent 0.88× of the build
      // re-confirming it. Refine only when the descent hit the cap
      // still improving (the structureless regime where the win
      // lives: sf0.1's 0.742 → 0.824). Deterministic and replayable:
      // the oracle generator reads the same memoized iteration count.
      if (iters < Dedup.DescentMaxIters) g
      else {
        val n = Tables.embeddingsCount(spark, dir)
        val vecs = Tables.rebalanced(Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"), col("embedding").as("vec")))
        // the same L2-representation session index the descent init
        // probed and the oracle's assignCtes replays
        val (assign, cents) = Ivf.indexFor(spark, dir)
        refineGraph(g, vecs, assign.select("id", "cluster_id"), cents,
          n, k, metric)
      }
    }

  /** Materialize the refined-graph memo (Bench line item — the
    * serving keys then measure serving, the two-phase build cost is
    * its own attributable line, after memo_descent_graph*).
    */
  def warmRefinedGraph(spark: SparkSession, dir: String,
                       metric: Int = DefaultMetric): Unit = {
    refinedGraph(spark, dir, metric = metric).count()
    // the symmetrized expansion memo is part of the served substrate
    // (round-17) — warm it on the same attributable line so the serving
    // keys measure serving, not the one-time symmetrize
    symmetrizedGraph(spark, dir, metric = metric)
    ()
  }

  /** The refinement replay appended after the descent CTE chain:
    * wb = the worst-w ranking, rp/re = the widened-probe exact scan
    * (reusing the descent replay's `cents`/`asg`), rg = kept ∪ the
    * per-node (dist, dst) top-k merge — the same arithmetic
    * [[refineGraph]] folds, so the serving oracles nest `rg` where
    * they nested e_t.
    */
  private def refinedReplayCtes(spark: SparkSession, dir: String, k: Int,
                                metric: Int): String = {
    val (ctes, t) = Dedup.descentReplayCtes(spark, dir, k, metric)
    val n = Tables.embeddingsCount(spark, dir)
    // the engine's convergence gate, from the same memoized count
    val w =
      if (t < Dedup.DescentMaxIters) 0
      else (n * RefinePermille / 1000).toInt
    if (w == 0)
      s"""$ctes,
         |rg AS MATERIALIZED (SELECT src, dst, dist FROM e$t)""".stripMargin
    else {
      val (_, cents) = Ivf.indexFor(spark, dir)
      val nc = cents.length
      val np = math.min(nc, Dedup.DescentInitNprobe * RefineNprobeMult)
      val cos = Ivf.pairDistSqlTemplate(metric)
      s"""$ctes,
         |wb AS MATERIALIZED (
         |  SELECT src FROM (
         |    SELECT src, row_number() OVER (ORDER BY wd DESC, src) AS rn
         |    FROM (SELECT src, max(dist) AS wd FROM e$t GROUP BY src) z) y
         |  WHERE rn <= $w),
         |rp AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, t.j AS cid,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${Ivf.probeDistSqlExpr(metric)}, t.j) AS crn
         |    FROM embeddings q, cents, UNNEST(range(0, $nc)) t(j)
         |    WHERE q.vec_id IN (SELECT src FROM wb)) x
         |  WHERE crn <= $np),
         |re AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst, dist FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |      ${cos.format("qe", "ce")} AS dist,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        ${cos.format("qe", "ce")}, a.vec_id) AS rnk
         |    FROM rp p
         |    JOIN asg a ON a.cid = p.cid
         |    JOIN embeddings qe ON qe.vec_id = p.query_id
         |    JOIN embeddings ce ON ce.vec_id = a.vec_id
         |    WHERE a.vec_id <> p.query_id) x
         |  WHERE rnk <= $k),
         |rg AS MATERIALIZED (
         |  SELECT src, dst, dist FROM e$t
         |  WHERE src NOT IN (SELECT src FROM wb)
         |  UNION ALL
         |  SELECT src, dst, dist FROM (
         |    SELECT src, dst, dist,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |    FROM (SELECT DISTINCT src, dst, dist FROM (
         |      SELECT e.src, e.dst, e.dist FROM e$t e
         |      WHERE e.src IN (SELECT src FROM wb)
         |      UNION ALL SELECT src, dst, dist FROM re) u) v) m
         |  WHERE rn <= $k)""".stripMargin
    }
  }

  // ------------------------------------------------------------ serving

  /** (src, dst) → the symmetrized (undirected) expansion table. */
  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select("src", "dst")
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")

  /** Per-(dir, k, metric) session memo of the SYMMETRIZED refined
    * graph (round-17): every serving face expands through this table —
    * the entry seed and each beam round re-paid symmetrize's union +
    * dedup shuffle per job (the eager per-round checkpoints make every
    * round its own job), and the tune grid's four concurrent configs
    * each re-paid it again. It derives deterministically from the
    * refined-graph memo, is warmed by the same memo_refined_graph*
    * bench lines, and drops with the memo it shadows.
    */
  private[graft] def symmetrizedGraph(spark: SparkSession, dir: String,
                                      k: Int = 5,
                                      metric: Int = DefaultMetric): DataFrame =
    Memo(dir, "graph.symmetrized", (k, metric))(Memo.cached(
      symmetrize(refinedGraph(spark, dir, k, metric).select("src", "dst"))))

  /** Batch beam search over an edge frame: every corpus vector's
    * top-k via [[BeamRounds]] bounded expansions of the seeded beam
    * (coarse-probe entry ∪ the query node's own symmetrized
    * adjacency). `edges` is directed (src, dst); scoring is exact
    * under the family metric against the corpus — the graph only
    * PROPOSES candidates, so a stale or approximate edge can cost
    * recall but never a wrong distance.
    */
  private[graft] def beamTopk(spark: SparkSession, dir: String,
                              k: Int,
                              metric: Int = DefaultMetric,
                              rounds: Int = BeamRounds,
                              bOverride: Option[Int] = None): DataFrame = {
    val b = bOverride.getOrElse(beamWidth(k))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("cv"))
    // the memoized symmetrized expansion (round-17): the entry seed and
    // EVERY beam round previously re-evaluated the union + dedup
    // shuffle behind symmetrize because each round's eager checkpoint
    // is its own job — rounds + 1 evaluations of the same O(N·k) skinny
    // table per serving call, times the tune grid's concurrent configs
    val sym = symmetrizedGraph(spark, dir, k, metric)
    // entry: the nearest coarse list's best B per query (exact within
    // the probed list, rides the session IVF memo, excludes self) ∪
    // the query's own stored links
    // no seed dedup (round-16): round 1 of beamRounds dedups the
    // (beam ∪ expansion) union anyway, so a duplicate seed row can
    // never reach scoring — the seed's own dedup paid one extra
    // exchange + aggregate for rows the next job re-deduped
    val entry = Ivf.annBatch(spark, dir, b, metric, nprobeOpt = Some(EntryNprobe))
      .select(col("query_id"), col("neighbor_id").as("cand"))
      .union(sym.select(col("src").as("query_id"), col("dst").as("cand")))
    beamRounds(entry, sym, vecs, k, b, metric = metric, rounds = rounds)
  }

  /** ONE beam round, un-checkpointed — the loop body of [[beamRounds]]
    * (the serving keys return checkpointed frames, which hide the round
    * shape from explain; tools/OptPlanProbe at commit 3ba9126 dumped
    * this frame's physical plan).
    *
    * ONE exchange per round (round-16): hash by query_id BEFORE the
    * dedup — HashPartitioning(query_id) satisfies the dedup's
    * ClusteredDistribution(query_id, cand) AND the top-B aggregate's
    * ClusteredDistribution(query_id), so the round's dedup and ranking
    * share a single shuffle instead of paying one each (plan diff:
    * `plans/r16/beam_round_{before,after}.txt` in git history, at
    * commit 3ba9126 — 2 Exchange → 1). Same rows either way.
    */
  private def beamRoundFrame(beam: DataFrame, e: DataFrame,
                             qvecs: DataFrame, vecs: DataFrame,
                             b: Int, metric: Int): DataFrame = {
    val expand = beam.join(e, "cand")
      .select(col("query_id"), col("dst").as("cand"))
    val cands = beam.select("query_id", "cand").union(expand)
      .filter(col("cand") =!= col("query_id"))
      .repartition(col("query_id"))
      .dropDuplicates("query_id", "cand")
    val scored = cands
      .join(qvecs, "query_id")
      .join(vecs.select(col("id").as("cand"), col("cv")), "cand")
      .select(col("query_id"), col("cand"),
        Ivf.distCol(metric, col("qv"), col("cv")).as("dist"))
    scored.groupBy("query_id")
      .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), b).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("p"))
      .select(col("query_id"), col("p.id").as("cand"), col("p.dist").as("dist"))
  }

  /** The session round loop: `beam0` (query_id, cand) expands through
    * `edges` for [[BeamRounds]] rounds, scored against the corpus
    * `vecs` ((id, cv)) on both sides; returns the final ranked top-k
    * in (query_id, rank) order.
    */
  private[graft] def beamRounds(beam0: DataFrame, edges: DataFrame,
                                vecs: DataFrame, k: Int, b: Int,
                                metric: Int = DefaultMetric,
                                rounds: Int = BeamRounds): DataFrame = {
    require(rounds >= 1, s"beamRounds needs at least one round, got $rounds")
    val qvecs = vecs.select(col("id").as("query_id"), col("cv").as("qv"))
    val e = edges.select(col("src").as("cand"), col("dst"))
    var beam = beam0
    var cur: DataFrame = null
    var r = 0
    while (r < rounds - 1) {
      // eager checkpoint per intermediate round: the loop otherwise
      // re-executes the whole prefix each round (the descentGraph
      // lesson)
      val next = beamRoundFrame(beam, e, qvecs, vecs, b, metric)
        .localCheckpoint(true)
      // superseded rounds release their blocks promptly (the
      // descentRounds hygiene; abandoned checkpoints only go with GC)
      if (cur != null) cur.unpersist()
      cur = next
      beam = cur.select("query_id", "cand")
      r += 1
    }
    // the FINAL round fuses with the ranking aggregate (round-17): its
    // frame ends hash-partitioned by query_id, which the top-k ranking
    // reuses, so checkpointing the B-wide beam only to immediately
    // re-aggregate it was one extra job + one extra wide cache per
    // serving call. Same rows; only the job boundary moves.
    val lastFrame = beamRoundFrame(beam, e, qvecs, vecs, b, metric)
    // pin the SMALL ranked output — per-call storage is O(N·k) rows,
    // not O(N·B·rounds)
    val ranked = lastFrame.groupBy("query_id")
      .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
      .localCheckpoint(true)
    if (cur != null) cur.unpersist()
    ranked
  }

  /** Driver query: `graph_topk` (cosine) / `graph_topk_l2` (l2) —
    * every vector's top-k UNDER THE FAMILY METRIC served through the
    * CONVERGED session descent graph (E37c's memo, built under the
    * same metric) by batch beam search. Oracle-checked end-to-end: the
    * generator nests the descent-graph replay and the entry replay,
    * then unrolls the beam rounds, all under the metric's distance
    * template.
    */
  def graphTopk(spark: SparkSession, dir: String, k: Int = 5,
                metric: Int = DefaultMetric): DataFrame =
    beamTopk(spark, dir, k, metric)

  /** graph_topk oracle: the converged-graph replay (the FULL descent
    * unroll, nested as a derived table — DuckDB allows WITH at any
    * depth), symmetrized into the expansion table; the nprobe=1 entry
    * replay UNIONED with each query's own adjacency as the seed; one
    * CTE block per beam round (candidate union ∪ graph expansion,
    * exact re-score with the SAME `1.0 − list_cosine_similarity`
    * double, top-B by (dist, cand)).
    */
  def graphTopkOracleSql(spark: SparkSession, dir: String, k: Int = 5,
                         metric: Int = DefaultMetric): String =
    s"""WITH ${graphBeamCtes(spark, dir, k, beamWidth(k), metric)}
       |SELECT query_id, cand AS neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cand) AS INTEGER) AS rank
       |FROM b$BeamRounds
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** The refined-builder substrate replay shared by every serving
    * oracle: the refinement chain (rg), the served graph (g), its
    * symmetrization (gs).
    */
  private def graphSubstrateCtes(spark: SparkSession, dir: String, k: Int,
                                 metric: Int): String =
    s"""${refinedReplayCtes(spark, dir, k, metric)},
       |g AS MATERIALIZED (
       |  SELECT src, dst FROM rg),
       |gs AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g
       |    UNION ALL SELECT dst AS src, src AS dst FROM g) z)""".stripMargin

  /** One beam chain over an in-scope `gs` at (rounds, b): the seeded
    * b0 and per round (c/s/b) — the candidate union, the exact
    * re-score, the top-b prune. CTE names carry `sfx` so the autotune
    * oracle can run the whole config grid over ONE substrate replay.
    */
  private def beamChainCtes(spark: SparkSession, dir: String, k: Int,
                            b: Int, metric: Int, rounds: Int,
                            sfx: String): String = {
    val cos = Ivf.pairDistSqlTemplate(metric)
    val entrySql = Ivf.annBatchNprobeOracleSql(spark, dir, b,
      nprobeOpt = Some(EntryNprobe), metric = metric)
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"b${r - 1}$sfx"
      s"""c$r$sfx AS (
         |  SELECT DISTINCT query_id, cand FROM (
         |    SELECT query_id, cand FROM $prev
         |    UNION ALL
         |    SELECT bb.query_id, gs.dst AS cand FROM $prev bb JOIN gs ON gs.src = bb.cand) z
         |  WHERE cand <> query_id),
         |s$r$sfx AS MATERIALIZED (
         |  SELECT c.query_id, c.cand, ${cos.format("qe", "ce")} AS dist
         |  FROM c$r$sfx c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ce ON ce.vec_id = c.cand),
         |b$r$sfx AS MATERIALIZED (
         |  SELECT query_id, cand, dist FROM (
         |    SELECT query_id, cand, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, cand) AS rn
         |    FROM s$r$sfx) z
         |  WHERE rn <= $b)""".stripMargin
    }.mkString(",\n")
    s"""b0$sfx AS MATERIALIZED (
       |  SELECT DISTINCT query_id, cand FROM (
       |    SELECT query_id, neighbor_id AS cand FROM (
       |$entrySql
       |    ) esub
       |    UNION ALL
       |    SELECT src AS query_id, dst AS cand FROM gs) z),
       |$roundCtes""".stripMargin
  }

  /** The default-config chain (substrate + one beam chain, bare CTE
    * names) — the shape the unfiltered and filtered oracles append
    * their final SELECT to.
    */
  private def graphBeamCtes(spark: SparkSession, dir: String, k: Int,
                            b: Int, metric: Int = DefaultMetric,
                            rounds: Int = BeamRounds): String =
    s"""${graphSubstrateCtes(spark, dir, k, metric)},
       |${beamChainCtes(spark, dir, k, b, metric, rounds, "")}""".stripMargin

  /** Driver query: `graph_recall_report` — E43's serving-quality
    * dashboard for the GRAPH tier: the per-query recall@k histogram of
    * seeded-beam serving vs the exact contract, exact integers end to
    * end. This puts the graph family on the SELECTION TABLE next to
    * the quantization tiers (E43 grades nprobe, A24 grades the code
    * tiers, this grades the graph) — an operator choosing an index
    * reads all three against the same exact contract. The graph tier
    * deliberately does NOT join A24's (tier, refine) argmin grid: the
    * tuner's tier axis measures CODE quality at a shared probe-all
    * scan and composes with the nprobe axis multiplicatively, while
    * graph serving has no independent coarse axis to compose with —
    * its entry IS the coarse quantizer at a constant nprobe=1 and its
    * recall knob is (rounds, beam), a different operating curve. The
    * honest comparison is this report against the same floors
    * (Autotune's scaladoc records the same rationale).
    */
  def graphRecallReport(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Dedup.recallHistogram(
      Ivf.exactEdges(spark, dir, k, DefaultMetric),
      graphTopk(spark, dir, k))

  /** graph_recall_report oracle: the exact top-k window ∩ the full
    * graph-serving replay (both already this family's oracles), folded
    * to the SHARED E43 histogram — nothing re-derived, nothing forked.
    */
  def graphRecallReportOracleSql(spark: SparkSession, dir: String,
                                 k: Int = 5): String =
    Dedup.recallHistogramOracleSql(Dedup.annTopkBatchOracleSql(k),
      graphTopkOracleSql(spark, dir, k))

  // ------------------------------------------------------ graph tuner

  /** The (rounds, beam-multiplier) operating grid A26i measures. The
    * graph tier deliberately has NO row on A24's (tier, refine) grid
    * (its recall knob is this curve, not code quality — Autotune's
    * scaladoc records the rationale); this gives it the SAME closed
    * loop the PQ family got in round 12: measure the grid, persist the
    * pick, serve from it.
    */
  val TuneGrid: Seq[(Int, Int)] = Seq((1, 1), (1, 2), (2, 1), (2, 2))

  /** The recall floor `graph_topk_tuned` serves (permille — the A24
    * floor convention; the two-phase builder clears 900 at every sf).
    */
  val GraphTunedFloor = 900

  /** [[graphTopk]] at an explicit (rounds, beam) operating point —
    * the serving face the tuner's pick drives.
    */
  private[graft] def graphTopkAt(spark: SparkSession, dir: String, k: Int,
                                 metric: Int, rounds: Int, b: Int): DataFrame =
    beamTopk(spark, dir, k, metric, rounds = rounds, bOverride = Some(b))

  /** The metrics the graph tier serves (and therefore tunes): the
    * sidecar carries one measured pick per member, so `graph_topk_l2`
    * and `graph_topk_dot` serve a measured operating point exactly
    * like cosine does (the round-14 verdict's asymmetry: only cosine
    * was measured/persisted, and the measured cosine dividend —
    * (rounds=1, beam=2k), HALF the default expansion work at the same
    * floor — was exactly what l2/dot were leaving on the table).
    */
  private[graft] val GraphMetrics: Seq[Int] =
    Seq(VectorMetric.Cosine, VectorMetric.L2, VectorMetric.Dot)

  /** The measured grid: per (rounds, beam) config, the served
    * recall@k permille vs the exact contract (exact integers — hits
    * via a semi join count, permille by integer division). Memoized
    * per (dir, k, metric) so the grid key, the sidecar write, and the
    * oracle generators share one measurement pass.
    */
  private[graft] def graphTuneGrid(spark: SparkSession, dir: String,
                                   k: Int = 5,
                                   metric: Int = DefaultMetric): Seq[(Int, Int, Long)] =
    Memo(dir, "graph.tuneGrid", (k, metric)) {
      val exact = Ivf.exactEdges(spark, dir, k, metric)
        .select("query_id", "neighbor_id")
      val nq = Tables.embeddingsCount(spark, dir)
      // shared substrate once, BEFORE the concurrent configs race its
      // memo (a miss under concurrency would serialize on the build
      // lock anyway — warming it here keeps the measurement honest)
      refinedGraph(spark, dir, k, metric)
      // the four configs are independent measurements over frozen
      // shared inputs (guide §2.6: overlap independent jobs) — each
      // config's beam chain is a sequential round loop whose tiny jobs
      // leave most cores idle, so running the configs concurrently
      // backfills the scheduler without changing any measured count
      // (hits are deterministic counts, not wall-clock)
      Overlap.all(TuneGrid.map { case (rounds, mult) => () =>
        val b = beamWidth(k) * mult
        val hits = graphTopkAt(spark, dir, k, metric, rounds, b)
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .count()
        (rounds, b, hits * 1000L / (k * nq))
      })
    }

  /** Materialize one metric's tune grid (Bench line items — the
    * autotune/tuned keys then measure the argmin/serving, the grid
    * MEASUREMENT is its own attributable line per metric).
    */
  def warmGraphTuneGrid(spark: SparkSession, dir: String,
                        metric: Int = DefaultMetric): Unit = {
    graphTuneGrid(spark, dir, metric = metric)
    ()
  }

  /** A26i: `graph_autotune` — the per-floor argmin over the measured
    * (rounds, beam) grid: the CHEAPEST config meeting the floor,
    * ordered by (rounds·beam — the per-query expansion work is
    * O(rounds·beam·deg), so their product is the cost axis — then
    * rounds, then beam as deterministic tiebreaks); -1 sentinels when
    * no measured config qualifies (the E53 "bigger grid" signal,
    * never a silent clamp). Oracle-checked end-to-end: the generator
    * replays all four serving configs over ONE substrate replay,
    * counts hits against the exact contract, and applies the same
    * argmin SQL.
    */
  def graphAutotune(spark: SparkSession, dir: String, k: Int = 5,
                    metric: Int = DefaultMetric): DataFrame = {
    import spark.implicits._
    val grid = graphTuneGrid(spark, dir, k, metric)
    val rows = Autotune.Floors.map { f =>
      val pick = grid.filter(_._3 >= f)
        .sortBy { case (r, b, _) => (r.toLong * b, r, b) }.headOption
      pick match {
        case Some((r, b, rec)) =>
          (f.toLong, r.toLong, b.toLong, rec, r.toLong * b)
        case None => (f.toLong, -1L, -1L, -1L, -1L)
      }
    }
    rows.toDF("floor_permille", "rounds", "beam", "recall_permille", "cost")
      .orderBy("floor_permille")
  }

  /** A26i oracle: the four beam chains suffixed over one substrate,
    * hit counts vs the nested exact replay, the same integer permille
    * and (cost, rounds, beam) argmin.
    */
  /** The per-metric exact-contract SQL the grid oracles count hits
    * against: cosine keeps the E6 replay VERBATIM (zero drift with
    * the exact keys), l2/dot rank by the family's shared pair-distance
    * template with the same (dist, id) tie-break the engine's
    * exactEdges folds.
    */
  private def exactContractSql(k: Int, metric: Int): String =
    if (metric == VectorMetric.Cosine) Dedup.annTopkBatchOracleSql(k)
    else {
      val d = Ivf.pairDistSqlTemplate(metric)
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${d.format("q", "c")}, c.vec_id) AS rank
         |  FROM embeddings q, embeddings c WHERE q.vec_id <> c.vec_id) t
         |WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin
    }

  def graphAutotuneOracleSql(spark: SparkSession, dir: String,
                             k: Int = 5,
                             metric: Int = DefaultMetric): String = {
    val chains = TuneGrid.map { case (rounds, mult) =>
      val b = beamWidth(k) * mult
      beamChainCtes(spark, dir, k, b, metric, rounds, s"_${rounds}_$b")
    }.mkString(",\n")
    val gridRows = TuneGrid.map { case (rounds, mult) =>
      val b = beamWidth(k) * mult
      val sfx = s"_${rounds}_$b"
      s"""SELECT $rounds AS rounds, $b AS beam,
         |  (SELECT count(*) FROM (
         |     SELECT query_id, cand,
         |       row_number() OVER (PARTITION BY query_id ORDER BY dist, cand) AS rnk
         |     FROM b$rounds$sfx) t
         |   JOIN ex e ON e.query_id = t.query_id AND e.neighbor_id = t.cand
         |   WHERE t.rnk <= $k) AS hits""".stripMargin
    }.mkString("\nUNION ALL ")
    val floors = Autotune.Floors
      .map(f => s"(CAST($f AS BIGINT))").mkString(", ")
    s"""WITH ${graphSubstrateCtes(spark, dir, k, metric)},
       |ex AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |${exactContractSql(k, metric)}
       |  ) exs),
       |$chains,
       |grid AS MATERIALIZED (
       |  SELECT rounds, beam,
       |    hits * 1000 // ($k * (SELECT count(*) FROM embeddings)) AS recall_permille
       |  FROM ($gridRows) gr),
       |floors(floor_permille) AS (VALUES $floors),
       |pick AS (
       |  SELECT floor_permille, rounds, beam, recall_permille FROM (
       |    SELECT f.floor_permille, g.rounds, g.beam, g.recall_permille,
       |      row_number() OVER (PARTITION BY f.floor_permille
       |        ORDER BY g.rounds * g.beam, g.rounds, g.beam) AS rn
       |    FROM floors f
       |    LEFT JOIN grid g ON g.recall_permille >= f.floor_permille) z
       |  WHERE rn = 1)
       |SELECT floor_permille,
       |  CAST(coalesce(rounds, -1) AS BIGINT) AS rounds,
       |  CAST(coalesce(beam, -1) AS BIGINT) AS beam,
       |  CAST(coalesce(recall_permille, -1) AS BIGINT) AS recall_permille,
       |  CAST(coalesce(rounds * beam, -1) AS BIGINT) AS cost
       |FROM pick
       |ORDER BY floor_permille""".stripMargin
  }

  /** Persist the tuner's pick for `floor` into an `_autotune_graph`
    * sidecar beside a persisted graph tree — config the serving
    * defaults read ([[graphTopkTuned]]), not a report a human
    * transcribes (the writeAutotune pattern). Since round 15 the
    * sidecar carries one row PER METRIC (`metric` column): every
    * serving metric reads its OWN measured pick, closing the SURVEY
    * §9 asymmetry where l2/dot served hand-set defaults while cosine
    * served tuned.
    */
  def writeGraphAutotune(spark: SparkSession, dir: String, indexPath: String,
                         floor: Int = GraphTunedFloor, k: Int = 5): Unit = {
    require(Autotune.Floors.contains(floor),
      s"floor $floor is not on the tuned grid ${Autotune.Floors.mkString("/")}")
    GraphMetrics.map { m =>
      graphAutotune(spark, dir, k, m)
        .filter(col("floor_permille") === floor.toLong)
        .withColumn("metric", lit(m))
    }.reduce(_.unionByName(_))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/_autotune_graph")
  }

  /** The persisted pick for `metric` ((rounds, beam); -1 sentinels
    * mean "no qualifying config" and the caller's defaults stand).
    * Legacy metric-less sidecars read as cosine, what they were
    * measured as (the `_meta` metric convention).
    */
  private[graft] def loadGraphAutotune(spark: SparkSession, indexPath: String,
                                       metric: Int = DefaultMetric): Option[(Long, Long)] = {
    val p = new Path(s"$indexPath/_autotune_graph")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else IndexLifecycle.readSidecar(spark, p.toString, AutotuneDdl)
      .find(r => if (r.isNullAt(5)) metric == DefaultMetric else r.getInt(5) == metric)
      .map(r => (r.getLong(1), r.getLong(2)))
  }

  /** The `_autotune_graph` schema [[writeGraphAutotune]] writes. */
  private val AutotuneDdl =
    "floor_permille BIGINT, rounds BIGINT, beam BIGINT, recall_permille BIGINT, " +
      "cost BIGINT, metric INT"

  /** The session's tuned graph tree: one persisted build + the
    * sidecar write per corpus (its own bench warmer line, so the
    * serving key measures tuned SERVING — the Pq.tunedTree pattern).
    */
  private[graft] def tunedGraphTree(spark: SparkSession, dir: String): String =
    Memo.tree(dir, "graph.tunedTree") { p =>
      build(spark, dir, p)
      writeGraphAutotune(spark, dir, p)
    }

  /** Materialize the tuned-tree memo (Bench line item). */
  def warmGraphTunedTree(spark: SparkSession, dir: String): Unit = {
    tunedGraphTree(spark, dir)
    ()
  }

  /** The (rounds, beam) graph_topk_tuned ends up serving: the
    * persisted pick when it qualifies, else the family defaults — THE
    * arithmetic shared by engine (via the sidecar + gate) and oracle
    * generator (via the memoized grid), the queryIvfPqTuned contract.
    */
  private def graphTunedOperatingPoint(spark: SparkSession, dir: String,
                                       k: Int, metric: Int): (Int, Int) =
    graphTuneGrid(spark, dir, k, metric).filter(_._3 >= GraphTunedFloor)
      .sortBy { case (r, b, _) => (r.toLong * b, r, b) }.headOption
      .map { case (r, b, _) => (r, b) }
      .getOrElse((BeamRounds, beamWidth(k)))

  /** A26j: `graph_topk_tuned` — the graph tuner's loop CLOSED on a
    * benched, oracle-checked path: the session graph tree persists
    * with its `_autotune_graph` sidecar (the measured pick for the
    * [[GraphTunedFloor]] floor, one row per metric), and the batch
    * serves at the SIDECAR's (rounds, beam) for ITS metric — config,
    * not prose. Falls back to the family defaults on the -1 sentinels,
    * the same arithmetic the oracle generator replays. The l2/dot
    * faces (A26n/A26o) are the same loop at their metric.
    */
  def graphTopkTuned(spark: SparkSession, dir: String, k: Int = 5,
                     metric: Int = DefaultMetric): DataFrame = {
    val tree = tunedGraphTree(spark, dir)
    val (rounds, b) = loadGraphAutotune(spark, tree, metric) match {
      case Some((r, bw)) if r > 0 && bw > 0 => (r.toInt, bw.toInt)
      case _ => (BeamRounds, beamWidth(k))
    }
    graphTopkAt(spark, dir, k, metric, rounds, b)
  }

  /** A26j oracle: the serving replay at the tuned operating point —
    * the generator re-derives the pick from the same measured-grid
    * argmin (+ the same sentinel fallback), then emits the beam chain
    * at that (rounds, beam).
    */
  def graphTopkTunedOracleSql(spark: SparkSession, dir: String,
                              k: Int = 5,
                              metric: Int = DefaultMetric): String = {
    val (rounds, b) = graphTunedOperatingPoint(spark, dir, k, metric)
    graphTopkAtOracleSql(spark, dir, k, rounds, b, metric)
  }

  /** The serving replay at an EXPLICIT (rounds, beam) operating point —
    * the oracle twin of [[graphTopkAt]], shared by the tuned faces and
    * A28's auto-routed serving.
    */
  private[graft] def graphTopkAtOracleSql(spark: SparkSession, dir: String,
                                          k: Int, rounds: Int, b: Int,
                                          metric: Int = DefaultMetric): String =
    s"""WITH ${graphSubstrateCtes(spark, dir, k, metric)},
       |${beamChainCtes(spark, dir, k, b, metric, rounds, "")}
       |SELECT query_id, cand AS neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cand) AS INTEGER) AS rank
       |FROM b$rounds
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------- filtered serving

  /** Beam-width widening factors above this serve the exact pre-filter
    * instead: at extreme selectivity the graph pool would have to grow
    * past any useful bound to hold k matches, and ranking the f
    * survivors directly is strictly cheaper.
    */
  val MaxBeamWiden = 16L

  /** Filtered graph serving — the A18d contract (search_service.py:
    * 169-197) on the graph path, the HNSW-with-IDSelector design:
    * NAVIGATION stays unfiltered (non-matching nodes still route —
    * filtering the beam itself would sever the paths the search
    * travels), and the RESULT is the top-k of the selector's members
    * among every candidate the beam SCORED across its rounds (the
    * pool). The beam widens by ⌈n/f̂⌉ (capped at [[MaxBeamWiden]]) so
    * the pool's matching mass at selectivity f/n matches the
    * unfiltered pool at the caller's width. Below the beam's regime,
    * the policy splits by survivor count f (the round-12 verdict's
    * scale finding — the old single fallback served an O(N·f)
    * BroadcastNestedLoopJoin for EVERY selector past the cap):
    *   - STARVED (f ≤ k·4, capped count): the exact pre-filter — the
    *     f survivors genuinely broadcast (bounded by construction)
    *     against the query stream, ranked by the family's cosine
    *     metric. The one regime where all-pairs IS the cheapest plan.
    *   - OVER-WIDENED but not starved (widen > [[MaxBeamWiden]],
    *     f > k·4 — e.g. a 1% metadata filter): route through the
    *     compressed filtered batch (E6f's machinery in this family's
    *     cosine domain): probe widening capped at ALL lists, the
    *     selector semi-joined on the CANDIDATE side of the pair
    *     shuffle (M-byte codes, never raw vectors), exact re-rank of
    *     the k·4 shortlist. Candidate mass per query is bounded by
    *     the probed lists' selector members — never N·f pairs.
    * The same no-per-query-count discipline as A18d: memoized corpus
    * n, capped starved check, MINSTD-mixed stride estimate — all
    * through Pq's shared policy helpers, so the filtered families
    * cannot drift on the arithmetic.
    */
  def graphTopkFiltered(spark: SparkSession, dir: String, k: Int,
                        selector: DataFrame,
                        metric: Int = DefaultMetric): DataFrame = {
    val sel = selector.select(col("id"))
    val kr = Pq.filteredExactMax(k, 4)
    lazy val n = Tables.embeddingsCount(spark, dir)
    lazy val fEst = Pq.estimatedSelectorSize(sel, kr)
    lazy val widen = (n + fEst - 1) / fEst
    if (Pq.selectorStarved(sel, kr)) {
      // exact pre-filter: f ≤ k·4 survivors broadcast against every
      // query, ranked by the family's cosine metric
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = vecs.select(col("id").as("query_id"), col("vec").as("qv"))
      val candVecs = vecs.join(sel, "id")
        .select(col("id").as("cand"), col("vec").as("cv"))
      queries.join(broadcast(candVecs), col("cand") =!= col("query_id"))
        .select(col("query_id"), col("cand"),
          Ivf.distCol(metric, col("qv"), col("cv")).as("dist"))
        .groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")
    } else if (widen > MaxBeamWiden) {
      // mid-selectivity: the compressed filtered batch at the capped
      // widening (nprobe already estimated once here — resBatch takes
      // it as given, so the selector is not re-counted)
      val (_, cents) = Ivf.indexFor(spark, dir, metric)
      val npEff = Pq.widenedNprobe(
        math.max(1, Ivf.defaultK(n) / 4), n, fEst, cents.length)
      Pq.resBatch(spark, dir, k, nprobeOpt = Some(npEff), metric = metric,
        refine = 4, selector = Some(sel))
    } else {
      // base width and round count come from the TUNED operating point
      // (the measured argmin at GraphTunedFloor, sentinel fallback to
      // the family defaults — graphTunedOperatingPoint, the SAME
      // arithmetic the oracle generator replays): the tuner's dividend
      // (typically HALF the default expansion work at the same floor)
      // now reaches the filtered contract too, and the widening
      // argument is unchanged — the pool's matching mass at
      // selectivity f/n matches the unfiltered TUNED pool
      val (tRounds, tBeam) = graphTunedOperatingPoint(spark, dir, k, metric)
      val bEff = (tBeam * widen).toInt
      // the memoized symmetrized expansion (round-17, the beamTopk
      // note): the entry seed and every widened round otherwise re-pay
      // symmetrize's union + dedup per job
      val sym = symmetrizedGraph(spark, dir, k, metric)
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("cv"))
      val entry = Ivf.annBatch(spark, dir, bEff, metric,
          nprobeOpt = Some(EntryNprobe))
        .select(col("query_id"), col("neighbor_id").as("cand"))
        .union(sym.select(col("src").as("query_id"), col("dst").as("cand")))
        .dropDuplicates("query_id", "cand")
      val qvecs = vecs.select(col("id").as("query_id"), col("cv").as("qv"))
      val e = sym.select(col("src").as("cand"), col("dst"))
      var beam = entry
      val pools = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      (1 to tRounds).foreach { _ =>
        val expand = beam.join(e, "cand")
          .select(col("query_id"), col("dst").as("cand"))
        val cands = beam.select("query_id", "cand").union(expand)
          .filter(col("cand") =!= col("query_id"))
          // one exchange for the round (round-17, the beamRoundFrame
          // shape): hash by query_id serves the dedup here AND — the
          // checkpoint preserves partitioning — the beam-prune
          // aggregate below
          .repartition(col("query_id"))
          .dropDuplicates("query_id", "cand")
        // the SCORED frame is the round's pool contribution — pinned,
        // the pruned beam derives from it cheaply
        val scored = cands
          .join(qvecs, "query_id")
          .join(vecs.select(col("id").as("cand"), col("cv")), "cand")
          .select(col("query_id"), col("cand"),
            Ivf.distCol(metric, col("qv"), col("cv")).as("dist"))
          .localCheckpoint(true)
        pools += scored
        beam = scored.groupBy("query_id")
          .agg(VectorFunctions
            .topKByDistance(col("dist"), col("cand"), bEff).as("nn"))
          .select(col("query_id"), explode(col("nn")).as("p"))
          .select(col("query_id"), col("p.id").as("cand"))
      }
      val pool = pools.reduce(_.unionAll(_))
        // one exchange (round-17): hash(query_id) serves the dedup and
        // the final ranking aggregate (the broadcast semi-join between
        // them preserves partitioning)
        .repartition(col("query_id"))
        .dropDuplicates("query_id", "cand") // identical dists either way
      val ranked = pool
        .join(sel.withColumnRenamed("id", "cand"), Seq("cand"), "left_semi")
        .groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")
        .localCheckpoint(true)
      pools.foreach(_.unpersist())
      ranked
    }
  }

  /** Driver query: `graph_topk_filtered` — the A4 label predicate
    * (~3/16 selectivity: the widened-beam regime) served through the
    * graph path.
    */
  def graphTopkFilteredQuery(spark: SparkSession, dir: String,
                             k: Int = 5): DataFrame = {
    val selector = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    graphTopkFiltered(spark, dir, k, selector)
  }

  /** Driver query: `graph_topk_filtered_midsel` — a mid-selectivity
    * selector (vec_id ≡ 1 mod 17, ~6%: past the ×16 widening cap but
    * far from starved) through the same key: the regime the round-12
    * verdict flagged, now served by the compressed filtered batch
    * instead of an O(N·f) nested loop, and oracle-checked end-to-end
    * through the cosine residual replay.
    */
  def graphTopkFilteredMidselQuery(spark: SparkSession, dir: String,
                                   k: Int = 5): DataFrame =
    graphTopkFiltered(spark, dir, k, midselSelector(spark, dir))

  private def midselSelector(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(17L)) === 1).select(col("vec_id").as("id"))

  def graphTopkFilteredOracleSql(spark: SparkSession, dir: String,
                                 k: Int = 5): String = {
    val sel = Tables.embeddings(spark, dir)
      .filter(col("label").isin(2, 5, 7)).select(col("vec_id").as("id"))
    filteredOracleSql(spark, dir, k, sel, a => s"$a.label IN (2, 5, 7)")
  }

  def graphTopkFilteredMidselOracleSql(spark: SparkSession, dir: String,
                                       k: Int = 5): String =
    filteredOracleSql(spark, dir, k, midselSelector(spark, dir),
      a => s"$a.vec_id % 17 = 1")

  /** A26k driver query: `graph_topk_filtered_persisted` — the
    * PERSISTED filtered face ([[queryGraphBatchFiltered]]) exercised
    * end-to-end on the driver surface (the round-13 ADVICE item: it
    * was the one face without a key or oracle): the session's tuned
    * graph tree serves the corpus as a query batch under the even-id
    * selector (~50% — the widened-probe regime). This face takes
    * ARBITRARY query batches, so there is no self-exclusion: an even
    * query's rank 1 is itself at distance 0, and the oracle replays
    * exactly that.
    */
  def graphTopkFilteredPersistedQuery(spark: SparkSession, dir: String,
                                      k: Int = 5): DataFrame = {
    val tree = tunedGraphTree(spark, dir)
    val queries = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val sel = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2L)) === 0)
      .select(col("vec_id").as("id"))
    queryGraphBatchFiltered(spark, tree, queries, k, sel)
  }

  /** A26k oracle: the widened-probe IVF-style replay off the stored
    * layout — probe count from the SAME Pq policy helpers the engine
    * calls (estimated selector size, widening from the serving base,
    * capped at all lists), the selector semi-joined on the stored
    * side, exact (dist, id) top-k, self included.
    */
  def graphTopkFilteredPersistedOracleSql(spark: SparkSession, dir: String,
                                          k: Int = 5): String = {
    val (_, cents) = Ivf.indexFor(spark, dir)
    val nc = cents.length
    val n = Tables.embeddingsCount(spark, dir)
    val sel = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2L)) === 0)
      .select(col("vec_id").as("id"))
    val fEst = Pq.estimatedSelectorSize(sel, k.toLong)
    val np = Pq.widenedNprobe(math.max(1, nc / 4), n, fEst, nc)
    val cos = Ivf.pairDistSqlTemplate(DefaultMetric)
    s"""WITH ${Ivf.assignCtes(cents)},
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, t.j AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${Ivf.probeDistSqlExpr(DefaultMetric)}, t.j) AS crn
       |    FROM embeddings q, cents, UNNEST(range(0, $nc)) t(j)) x
       |  WHERE crn <= $np),
       |surv AS (
       |  SELECT a.vec_id AS neighbor_id, a.cid FROM asg a
       |  WHERE a.vec_id % 2 = 0),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, s.neighbor_id, ${cos.format("qe", "ce")} AS dist
       |  FROM probes p
       |  JOIN surv s ON s.cid = p.cid
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN embeddings ce ON ce.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
       |  FROM cand) x
       |WHERE rnk <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** graph_topk_filtered* oracle: branch + widening arithmetic from
    * Pq's shared policy helpers (the SAME calls the engine makes), so
    * engine and generator cannot diverge on which regime ran. Starved
    * → the exact cosine pre-filter replay; over-widened → the cosine
    * residual-batch replay at the capped widened probe count with the
    * selector joined into the candidate side and the exact-refine
    * tail; otherwise → the shared beam CTE chain at the WIDENED
    * width, pooled (s1 ∪ … ∪ sR, distinct), selector semi-joined,
    * top-k.
    */
  private def filteredOracleSql(spark: SparkSession, dir: String, k: Int,
                                sel: DataFrame,
                                pred: String => String): String = {
    val kr = Pq.filteredExactMax(k, 4)
    lazy val n = Tables.embeddingsCount(spark, dir)
    lazy val fEst = Pq.estimatedSelectorSize(sel, kr)
    lazy val widen = (n + fEst - 1) / fEst
    if (Pq.selectorStarved(sel, kr))
      s"""SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
         |FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    1.0 - list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS dist
         |  FROM embeddings q JOIN embeddings c
         |    ON ${pred("c")} AND c.vec_id <> q.vec_id) t
         |QUALIFY rank <= $k
         |ORDER BY query_id, rank""".stripMargin
    else if (widen > MaxBeamWiden) {
      val (_, cents) = Ivf.indexFor(spark, dir, DefaultMetric)
      val npEff = Pq.widenedNprobe(
        math.max(1, Ivf.defaultK(n) / 4), n, fEst, cents.length)
      Pq.resBatchOracleSqlImpl(spark, dir, k, npOverride = Some(npEff),
        candJoin = s"\n  JOIN embeddings fe ON fe.vec_id = a.vec_id AND ${pred("fe")}",
        metric = DefaultMetric, refine = 4)
    } else {
      // the engine's tuned base (rounds, beam) — the same derivation,
      // so the replay widens from the identical operating point
      val (tRounds, tBeam) = graphTunedOperatingPoint(spark, dir, k, DefaultMetric)
      val bEff = (tBeam * widen).toInt
      val poolUnion = (1 to tRounds)
        .map(r => s"SELECT query_id, cand, dist FROM s$r")
        .mkString("\n    UNION ALL ")
      s"""WITH ${graphBeamCtes(spark, dir, k, bEff, DefaultMetric, tRounds)},
         |pool AS MATERIALIZED (
         |  SELECT DISTINCT query_id, cand, dist FROM (
         |    $poolUnion) z),
         |fsel AS (SELECT vec_id AS cand FROM embeddings WHERE ${pred("embeddings")})
         |SELECT query_id, cand AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cand) AS INTEGER) AS rank
         |FROM pool
         |WHERE cand IN (SELECT cand FROM fsel)
         |QUALIFY rank <= $k
         |ORDER BY query_id, rank""".stripMargin
    }
  }

  // -------------------------------------------------------- persistence

  /** Independent staging jobs run concurrently — [[Overlap.unitAll]]
    * (guide §2.6; settle-all failure contract).
    */
  private def overlapJobs(work: (() => Unit)*): Unit =
    Overlap.unitAll(work: _*)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(c: org.apache.spark.sql.Column, nb: Int) =
    pmod(c, lit(nb.toLong)).cast("int")

  /** The bucket of `id` among `nb`: [[bucketOf]] on the driver and in tasks. */
  private def bucketOf(id: Long, nb: Int): Int = java.lang.Math.floorMod(id, nb.toLong).toInt

  /** Persist a partition-local graph tree over `vecs` (id, vec) with
    * the coarse assignment `assign` (id, cluster_id) in `nb` buckets:
    * each bucket's exact k-NN graph ([[bucketGraphs]]) as the edge
    * buckets at the root, then the `_vectors`, `_centroids` and `_meta`
    * sidecars. Content only — the lifecycle state is the caller's
    * (build/rebuild write it).
    */
  private def writeGraphTree(spark: SparkSession, vecs: DataFrame,
                             assign: DataFrame,
                             centroids: Array[Array[Float]],
                             outPath: String, k: Int, metric: Int,
                             nb: Int): Unit = {
    // the edge write overwrite-wipes the ROOT, so it must complete
    // before anything lands in the `_` subdirs; the three subdir
    // writes after it are independent and overlap (round-17, §2.6).
    // Each bucket is one task, so each edge bucket is one file.
    bucketGraphs(spark, vecs, nb, k, metric, outPath)
      .write.mode("overwrite").partitionBy("src_bucket").parquet(outPath)
    import spark.implicits._
    overlapJobs(
      () => vecs.join(assign.select("id", "cluster_id"), "id")
        .select(col("id"), col("vec").cast("array<float>").as("vec"),
          col("cluster_id").cast("int").as("cluster_id"))
        .withColumn("vbucket", bucketOf(col("id"), nb))
        .repartition(col("vbucket"))
        .write.mode("overwrite").partitionBy("vbucket")
        .parquet(s"$outPath/_vectors"),
      () => IndexLifecycle.writeCentroids(spark, outPath, centroids),
      () => Seq((k, nb, metric, LocalLayout)).toDF("k", "buckets", "metric", "layout")
        .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_meta"))
  }

  /** (id, vec, cluster_id) rows of `df` keyed by their bucket; rows
    * without an id or vector take no part in the graph.
    */
  private def keyedMembers(df: DataFrame, nb: Int): RDD[(Int, (Long, Array[Float], Int))] =
    df.select(col("id"), col("vec").cast("array<float>"),
        if (df.columns.contains("cluster_id")) col("cluster_id") else lit(-1))
      .rdd.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some(bucketOf(r.getLong(0), nb) ->
          ((r.getLong(0), r.getSeq[Float](1).toArray, if (r.isNullAt(2)) -1 else r.getInt(2))))
      }

  /** Every bucket's exact k-NN graph, one task per bucket, in
    * [[GraphKernel]]'s arithmetic: rows (src, dst, dist, src_bucket).
    * Building the frame runs no job.
    */
  private def bucketGraphs(spark: SparkSession, vecs: DataFrame, nb: Int,
                           k: Int, metric: Int, where: String): DataFrame =
    spark.createDataFrame(
      keyedMembers(vecs, nb).groupByKey(new HashPartitioner(nb)).flatMap { case (bk, ms) =>
        GraphKernel.bucketGraph(metric, GraphBucket.assemble(bk, ms, Nil, where), k)
          .map { case (s, d, dist) => Row(s, d, dist, bk) }
      },
      StructType.fromDDL(s"$EdgeDdl, src_bucket INT"))

  /** The schemas the tree's writers give its tables: every read of them
    * states its schema, so none runs an inference job.
    */
  private val MetaDdl = "k INT, buckets INT, metric INT, layout INT"
  private val EdgeDdl = "src BIGINT, dst BIGINT, dist DOUBLE"
  private val VectorDdl = "id BIGINT, vec ARRAY<FLOAT>, cluster_id INT"

  /** A persisted tree's `_meta`: k, bucket count, metric and layout.
    * Legacy files predate the metric (read as cosine, what they were
    * built as) and the layout (read as 1, before partition-local).
    */
  private[graft] final case class TreeMeta(k: Int, buckets: Int, metric: Int, layout: Int)

  private[graft] def readTreeMeta(spark: SparkSession, indexPath: String): TreeMeta = {
    val row = IndexLifecycle.readSidecar(spark, s"$indexPath/_meta", MetaDdl).headOption
      .getOrElse(sys.error(s"graph index at $indexPath has no _meta"))
    def opt(i: Int, default: Int) = if (row.isNullAt(i)) default else row.getInt(i)
    TreeMeta(row.getInt(0), opt(1, GraphBuckets), opt(2, DefaultMetric), opt(3, 1))
  }

  /** (k, metric) of a persisted tree — the per-index invariants every
    * serve/mutate path runs under.
    */
  private[graft] def readMeta(spark: SparkSession, indexPath: String): (Int, Int) = {
    val m = readTreeMeta(spark, indexPath)
    (m.k, m.metric)
  }

  /** [[readTreeMeta]] of a tree serving and mutating may touch: one
    * written before the partition-local layout may hold edges across
    * buckets, which a bucket's beam would silently lose, so it is
    * refused until a rebuild converts it.
    */
  private def localMeta(spark: SparkSession, indexPath: String): TreeMeta = {
    val m = readTreeMeta(spark, indexPath)
    if (m.layout != LocalLayout)
      sys.error(s"graph index at $indexPath predates the partition-local layout " +
        "(its edges may cross buckets) — rebuild it before serving or mutating")
    m
  }

  /** The `prefix=N` bucket directories under `dir` (all, or those in
    * `only`), listed on the driver: read as explicit paths under their
    * writers' schema, they cost neither an inference job nor a listing
    * of the buckets a caller does not need.
    */
  private def readBuckets(spark: SparkSession, dir: String, prefix: String,
                          ddl: String, only: Option[Set[Int]]): DataFrame = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    val paths =
      if (!f.exists(d)) Seq.empty
      else f.listStatus(d).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$prefix="))
        .filter(st => only.forall(_(st.getPath.getName.stripPrefix(s"$prefix=").toInt)))
        .map(_.getPath.toString).sorted
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))
    else spark.read.schema(ddl).parquet(paths: _*)
  }

  /** The (src, dst, dist) edge table, or the edges of `only` buckets. */
  private[graft] def readEdges(spark: SparkSession, indexPath: String,
                               only: Option[Set[Int]] = None): DataFrame =
    readBuckets(spark, indexPath, "src_bucket", EdgeDdl, only)

  /** The `_vectors` table, or the vectors of `only` buckets. */
  private[graft] def readVectors(spark: SparkSession, indexPath: String,
                                 only: Option[Set[Int]] = None): DataFrame =
    readBuckets(spark, s"$indexPath/_vectors", "vbucket", VectorDdl, only)

  private[graft] val VectorSchema: StructType = StructType.fromDDL(VectorDdl)

  /** Open a partition-local tree for serving: one row per bucket (ids,
    * vectors, coarse lists and the symmetrised in-bucket adjacency, as
    * arrays), pinned with a local checkpoint, plus its metric, k and
    * centroids. Refuses a tree of an older layout.
    */
  private[operators] def openState(spark: SparkSession,
                                   indexPath: String): ServingState.GraphState = {
    val meta = localMeta(spark, indexPath)
    val nb = meta.buckets
    val edges = readEdges(spark, indexPath).select("src", "dst").rdd
      .map(r => bucketOf(r.getLong(0), nb) -> ((r.getLong(0), r.getLong(1))))
    val buckets = keyedMembers(readVectors(spark, indexPath), nb)
      .cogroup(edges, new HashPartitioner(nb))
      .map { case (bk, (ms, es)) => GraphBucket.assemble(bk, ms, es, indexPath) }
      .localCheckpoint()
    buckets.count()
    ServingState.GraphState(meta.metric, meta.k,
      IndexLifecycle.loadCentroids(spark, indexPath), buckets)
  }

  /** Serve a PERSISTED graph tree for an out-of-corpus (id, vec) query
    * batch: every bucket beam-searches its own graph for the batch in
    * one task ([[GraphBeamExec]]), and the (query_id, rank)-ordered
    * top-k merges the buckets' answers. The tree opens once per
    * session ([[ServingState]]), so a warm call reads nothing from
    * disk and runs two jobs: the beam + merge exchange, and the
    * ranking. A query id that is also a stored id never returns
    * itself.
    */
  def queryGraphBatch(spark: SparkSession, indexPath: String,
                      queries: DataFrame, k: Int): DataFrame = {
    BucketSwap.refuseProbe(spark, BucketSwap.graph(indexPath))
    serve(ServingState.graph(spark, indexPath), queries, k).drop("dist")
  }

  /** [[queryGraphBatch]] over an open tree, with the distance column:
    * (query_id, neighbor_id, rank, dist). Building the frame runs no
    * job.
    */
  private[graft] def serve(st: ServingState.GraphState, queries: DataFrame,
                           k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(col("id").cast("bigint").as("query_id"), col("vec").as("qvec"))
      .queryExecution.analyzed
    val Seq(queryId, qvec) = q.output
    require(qvec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }, s"queryGraphBatch: vec must be array<float> or array<double>, got ${qvec.dataType.simpleString}")
    val nid = AttributeReference("neighbor_id", LongType, nullable = false)()
    val dist = AttributeReference("dist", DoubleType, nullable = false)()
    ColumnBridge.frame(queries.sparkSession,
        GraphBeam(q, queryId, qvec, nid, dist, st, k, beamWidth(k), BeamRounds))
      // one partition for the merge: the top-k, its ranking and the
      // (query_id, rank) order then share this one exchange
      .repartition(1)
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topKByDistance(col("dist"), col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.dist").as("dist"))
      .orderBy("query_id", "rank")
  }

  /** A26h: `graph_stats` — the A14/A23 stats face for the graph
    * family: the SYMMETRIZED adjacency's degree histogram (out-degree
    * is a constant k by the top-k merge, so the informative
    * distribution is the symmetrized degree — reverse edges are where
    * hubs form, and a heavy tail here is the signal that beam search
    * will funnel through few nodes: the reason HNSW prunes neighbors
    * and the repair-link delete re-caps at R). Rows: (degree,
    * n_nodes), exact integers, one per occupied degree level — the
    * same histogram shape as E43/E54's dashboards, so it composes
    * with them on the operator's index-health page. Cost: the memoized
    * descent graph + two map-side-combined aggregates over the O(N·k)
    * skinny edge list; nothing corpus-sized moves.
    */
  def graphStats(spark: SparkSession, dir: String, k: Int = 5,
                 metric: Int = DefaultMetric): DataFrame = {
    symmetrizedGraph(spark, dir, k, metric)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** graph_stats oracle: the refined-builder replay (descent CTEs +
    * the phase-2 merge) symmetrized with the same DISTINCT union, the
    * same two-level count fold. (Every node has out-degree k, so no
    * zero-degree row can exist.)
    */
  def graphStatsOracleSql(spark: SparkSession, dir: String,
                          k: Int = 5,
                          metric: Int = DefaultMetric): String = {
    s"""WITH ${refinedReplayCtes(spark, dir, k, metric)},
       |g AS MATERIALIZED (
       |  SELECT src, dst FROM rg),
       |gs AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g
       |    UNION ALL SELECT dst AS src, src AS dst FROM g) u),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM gs GROUP BY src)
       |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM dg GROUP BY degree ORDER BY degree""".stripMargin
  }

  /** Filtered point-serving on a PERSISTED graph tree — the A18d
    * contract (search_service.py:169-197) for out-of-corpus query
    * batches against the disk layout. The graph tree stores its
    * vectors bucketed by the coarse assignment (`_vectors`.cluster_id
    * — a graph index stores its vectors, and this face is why the
    * assignment is kept), so the filtered face serves IVF-STYLE off
    * that layout instead of navigating the beam: the selector
    * semi-joins the STORED side before the probed scan (survivors
    * only — a post-filter could starve a query's k), and the probe
    * count widens by ⌈n/f̂⌉ from the nprobe=1 entry budget, capped at
    * ALL lists (the A18d recipe, through Pq's shared policy helpers —
    * no per-query count jobs, the MINSTD stride estimate). Candidate
    * mass per query is bounded by the probed lists' survivors — never
    * |Q|·N — and a starved selector degrades gracefully: the cap
    * probes every list, but only the f survivor rows live in them, so
    * the scan IS the exact filtered ranking. One unified path, no
    * BNLJ branch to go quadratic (the round-12 verdict's filtered-
    * graph lesson applied to the persisted face). It serves from the
    * tree's open state ([[ServingState.graph]]): metric, centroids and
    * the stored vectors are pinned, so a warm call re-reads no sidecar
    * and no `_vectors` file.
    */
  def queryGraphBatchFiltered(spark: SparkSession, indexPath: String,
                              queries: DataFrame, k: Int,
                              selector: DataFrame): DataFrame = {
    BucketSwap.refuseProbe(spark, BucketSwap.graph(indexPath))
    // the open tree: metric, centroids and the stored vectors, pinned
    val st = ServingState.graph(spark, indexPath)
    val metric = st.metric
    val sel = selector.select(col("id"))
    val stored = st.vectors(spark)
    val cents = st.centroids
    val n = IndexLifecycle.status(spark, indexPath).size
    val fEst = Pq.estimatedSelectorSize(sel, k.toLong)
    // widen from the IVF SERVING base (nClusters/4, the E6b/A18d
    // convention) — not the beam's nprobe=1 entry budget, which has
    // the graph expansion behind it that this scan-shaped face lacks
    val np = Pq.widenedNprobe(
      math.max(1, cents.length / 4), n, fEst, cents.length)
    val survivors = stored.join(sel, Seq("id"), "left_semi")
      .select(col("cluster_id"), col("id").as("neighbor_id"), col("vec"))
    val probes = Ivf.probeSelect(
      queries.select(col("id").as("query_id"), col("vec").as("qvec")),
      cents, np, metric)
    // shuffle-join the probe frame: this face takes ARBITRARY query
    // batches, and a starved selector widens np toward all lists —
    // broadcasting |Q|·np qvec rows is the O(N) memory hazard
    // probedTopK's contract names (small-batch callers still win via
    // AQE's runtime broadcast conversion)
    Ivf.probedTopK(survivors, probes, k, metric, broadcastProbes = false)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------- lifecycle

  /** Build (version+1): the corpus split into [[bucketCount]] buckets,
    * each bucket's exact k-NN graph computed in one task, persisted
    * with the vectors under the session IVF assignment, the coarse
    * centroids, and a fresh lifecycle state.
    */
  def build(spark: SparkSession, dir: String, indexPath: String,
            k: Int = 5, metric: Int = DefaultMetric): IndexStatus =
      ServingState.writing(indexPath) {
    val prev = IndexLifecycle.status(spark, indexPath)
    val (assign, cents) = Ivf.indexFor(spark, dir)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = Tables.embeddingsCount(spark, dir)
    writeGraphTree(spark, vecs, assign, cents, indexPath, k, metric, bucketCount(n))
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    val next = IndexStatus("knngraph", isBuilt = true, isDirty = false,
      size = n, embeddingDim = dim, builtAt = System.currentTimeMillis(),
      version = prev.version + 1, dirtyCount = 0L, totalVectors = n)
    IndexLifecycle.writeState(spark, indexPath, next)
    next
  }

  /** Forward edges of each arrival in `nv` (id, vec): its exact top-k
    * among the `stored` members of its own bucket, one task per bucket
    * ([[GraphKernel]] arithmetic). An arrival whose dimension differs
    * from its bucket's fails the job with the reference's error.
    */
  private def linkForward(spark: SparkSession, stored: DataFrame, nv: DataFrame,
                          nb: Int, k: Int, metric: Int, where: String): DataFrame =
    spark.createDataFrame(
      keyedMembers(stored, nb).cogroup(keyedMembers(nv, nb), new HashPartitioner(nb))
        .flatMap { case (bk, (ms, arrivals)) =>
          val b = GraphBucket.assemble(bk, ms, Nil, where)
          arrivals.iterator.filter(_ => b.size > 0).flatMap { case (id, v, _) =>
            if (v.length != b.dim) throw KnnExec.dimensionMismatch(b.dim, v.length)
            GraphKernel.topK(metric, b, v.map(_.toDouble), GraphKernel.norm(v, 0, v.length),
                k, -1)
              .sorted.iterator.map { case (d, j) => Row(id, b.ids(j.toInt), d) }
          }
        },
      StructType.fromDDL(EdgeDdl))

  /** Incremental add — LINK INSIDE THE BUCKET: each new vector's k
    * out-edges are its exact top-k among its bucket's existing vectors
    * (`_vectors` of the touched buckets only); reverse edges land on
    * those members, whose adjacency re-caps at R = 2k by (dist, id);
    * only the touched buckets rewrite (rename-aside swap), and the new
    * vectors append into `_vectors` under their coarse assignment
    * (flat argmin over `_centroids`). Within-batch arrivals link
    * against the EXISTING vectors only — links among themselves come
    * from the next rebuild, the same freshness trade every incremental
    * graph index makes. Growth is dirt against the as-of-build total.
    * The bucket count `_meta` records stays until a rebuild.
    */
  def append(newVecs: DataFrame, indexPath: String,
             streamBatchId: Option[Long] = None,
             streamId: Option[String] = None): IndexStatus =
      ServingState.writing(indexPath) {
    val spark = newVecs.sparkSession
    val tree = BucketSwap.graph(indexPath)
    // read after the replay guard: a replayed batch reads nothing
    lazy val meta = localMeta(spark, indexPath)
    BucketSwap.append(spark, tree, streamBatchId, streamId)(
        newVecs.select(col("id"), col("vec").cast("array<float>").as("vec"))) { nv =>
      // the batch size and the buckets it lands in, in one job; edges
      // never leave a bucket, so these are all the buckets it touches
      val landed = nv.groupBy(bucketOf(col("id"), meta.buckets).as("bk")).count().collect()
      (landed.map(_.getLong(1)).sum, landed.filterNot(_.isNullAt(0)).map(_.getInt(0)).sorted.toSeq)
    } { (nv, affected, next) =>
      val (k, metric, nb) = (meta.k, meta.metric, meta.buckets)
      val edges = readEdges(spark, indexPath, Some(affected.toSet))
      val cents = IndexLifecycle.loadCentroids(spark, indexPath)
      val forward = linkForward(spark, readVectors(spark, indexPath, Some(affected.toSet)),
        nv, nb, k, metric, indexPath).cache()
      try {
        forward.count()
        // reverse edges cap touched nodes at R (their old edges compete)
        val reverse = forward.select(col("dst").as("src"), col("src").as("dst"),
          col("dist"))
        val touched = reverse.select("src").distinct()
        val recapped = edges.join(touched, Seq("src"), "left_semi")
          .union(reverse)
          // shared exchange: hash by src serves both the dedup and the
          // R-cap aggregate (the beamRounds round-16 shape)
          .repartition(col("src"))
          .dropDuplicates("src", "dst")
          .groupBy("src")
          .agg(VectorFunctions
            .topKByDistance(col("dist"), col("dst"), reverseCap(k)).as("nn"))
          .select(col("src"), explode(col("nn")).as("p"))
          .select(col("src"), col("p.id").as("dst"), col("p.dist").as("dist"))
        // new content of the affected buckets: untouched srcs keep their
        // rows, touched srcs take the recapped adjacency, new srcs their
        // forward edges
        val rewritten = edges.join(touched, Seq("src"), "left_anti")
          .union(recapped).union(forward)
          .withColumn("src_bucket", bucketOf(col("src"), nb))
        // stage EVERYTHING, record state, then swap — a crash leaves the
        // loud marker, never rows the state doesn't account for. The two
        // staged writes land in sibling dirs and both complete before
        // the state write, so overlapping them (round-17, guide §2.6)
        // cannot change the crash-ordering contract
        val staged = s"${tree.staging}/edges"
        BucketSwap.stage(spark, tree)(overlapJobs(
          () => rewritten
            .repartition(col("src_bucket"))
            .write.mode("overwrite").partitionBy("src_bucket")
            .parquet(staged),
          // new vectors land with their coarse assignment (flat argmin
          // over the loaded centroids), moved in by the landing
          () => Ivf.assignTo(nv, cents)
            .select(col("neighbor_id").as("id"), col("vec"),
              col("cluster_id").cast("int").as("cluster_id"))
            .withColumn("vbucket", bucketOf(col("id"), nb))
            .repartition(col("vbucket"))
            .write.mode("overwrite").partitionBy("vbucket")
            .parquet(tree.staged.dir)))
        BucketSwap.land(spark, tree, Some(next),
          Seq(BucketSwap.Rewrite(tree.lists, staged, affected)))
      } finally forward.unpersist() // released on failure too
    }
  }

  /** Point delete on the graph layout — the reference's remove_vector
    * contract (indexes/base.py:46, ivf.py:198-212) the round-12
    * verdict named missing: the vector row leaves `_vectors` (touched
    * vbucket rewrite), its OUT-edges leave with their src buckets, and
    * its IN-edges are REPAIR-LINKED (the documented HNSW-delete
    * recipe, chosen over filter-at-serve tombstones: tombstones leave
    * deleted hubs routing forever and push a predicate into every
    * serve): each in-neighbor u of a deleted v inherits v's surviving
    * out-neighbors as candidates — exactly the paths u lost when v's
    * hop disappeared — scored with the tree's own metric, merged with
    * u's surviving edges, re-capped at R = 2k by (dist, id) (append's
    * recap convention). Edges never leave a bucket, so neither does a
    * repair. Removals are dirt, so the dirty-ratio policy eventually
    * rebuilds around the holes; ids not present are a no-op (the
    * reference's `return False`), which also makes the batch
    * idempotent and a crashed delete RETRYABLE: the same staging
    * protocol as append (stage → state → swap → clear marker) leaves
    * the loud `_graph_tmp` refusal on a crash, rebuild re-derives a
    * consistent tree from whatever buckets swapped (size re-counted
    * from disk), and re-issuing the delete completes the remainder.
    *
    * Scale shape: edges never leave a bucket, so every in-neighbor and
    * repair of a deleted id lives in the id's own bucket — the deleted
    * ids' bucket set is computed once (a distinct over the batch) and
    * only those buckets' edges and vectors are read and rewritten;
    * repair candidates are O(d · deg²) pair rows — batch-sized, never
    * corpus-sized.
    */
  def delete(deleteIds: DataFrame, indexPath: String): IndexStatus =
      ServingState.writing(indexPath) {
    val spark = deleteIds.sparkSession
    val tree = BucketSwap.graph(indexPath)
    val s = BucketSwap.intact(spark, tree, "delete")
    val meta = localMeta(spark, indexPath)
    val (k, metric, nb) = (meta.k, meta.metric, meta.buckets)
    // distinct + present-only: duplicates must not inflate the removed
    // count, and a missing id is a no-op
    // the requested ids' buckets, deduplicated per partition: one job
    val candidates = deleteIds.select(bucketOf(col("id"), nb)).rdd
      .mapPartitions(_.filterNot(_.isNullAt(0)).map(_.getInt(0)).toSet.iterator)
      .collect().toSet
    val delRows = deleteIds.select(col("id").as("del_id")).distinct()
      .join(readVectors(spark, indexPath, Some(candidates)).select(col("id").as("del_id")),
        Seq("del_id"), "left_semi")
      .cache()
    var touched: DataFrame = null
    try {
      // the batch size and the buckets holding a deleted id, in one job:
      // the only buckets the delete reads and rewrites
      val hit = delRows.select(bucketOf(col("del_id"), nb)).rdd.map(_.getInt(0)).countByValue()
      val d = hit.values.sum
      if (d == 0) return s
      val affected = hit.keys.toSeq.sorted
      val del = broadcast(delRows)
      val edges = readEdges(spark, indexPath, Some(affected.toSet))
      val stored = readVectors(spark, indexPath, Some(affected.toSet))
      val vecs = stored.select(col("id"), col("vec"))
      // in-neighbors to repair: u → v with v deleted, u surviving
      touched = edges.join(del, col("dst") === col("del_id"), "left_semi")
        .select("src").distinct()
        .join(del.withColumnRenamed("del_id", "src"), Seq("src"), "left_anti")
        .cache()
      // repair candidates: the deleted hop's surviving out-neighbors
      val repairs = edges
        .join(del, col("dst") === col("del_id"), "left_semi") // u → v
        .join(touched, Seq("src"), "left_semi")
        .select(col("src").as("u"), col("dst").as("v"))
        .join(edges.select(col("src").as("v"), col("dst").as("w")), "v")
        .join(del.withColumnRenamed("del_id", "w"), Seq("w"), "left_anti")
        .filter(col("w") =!= col("u"))
        .select(col("u").as("src"), col("w").as("dst"))
        .dropDuplicates("src", "dst")
        .join(vecs.select(col("id").as("src"), col("vec").as("va")), "src")
        .join(vecs.select(col("id").as("dst"), col("vec").as("vb")), "dst")
        .select(col("src"), col("dst"),
          Ivf.distCol(metric, col("va"), col("vb")).as("dist"))
      // touched nodes: surviving edges ∪ repairs, re-capped at R
      val keptOfTouched = edges.join(touched, Seq("src"), "left_semi")
        .join(del, col("dst") === col("del_id"), "left_anti")
      val repaired = keptOfTouched.union(repairs)
        // shared exchange: hash by src serves both the dedup and the
        // R-cap aggregate (the beamRounds round-16 shape)
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
        .groupBy("src")
        .agg(VectorFunctions
          .topKByDistance(col("dist"), col("dst"), reverseCap(k)).as("nn"))
        .select(col("src"), explode(col("nn")).as("p"))
        .select(col("src"), col("p.id").as("dst"), col("p.dist").as("dist"))
      val rewritten = edges
        .join(touched, Seq("src"), "left_anti")
        .join(del, col("src") === col("del_id"), "left_anti")
        .union(repaired)
        .withColumn("src_bucket", bucketOf(col("src"), nb))
      val vRewritten = stored
        .join(del, col("id") === col("del_id"), "left_anti")
        .withColumn("vbucket", bucketOf(col("id"), nb))
      // stage → state → swap → clear (append's protocol; `vectors_rw` so
      // recovery — which moves APPEND-staged vectors in — can never
      // resurrect rows a delete was removing); sibling staging dirs,
      // both before the state write — overlapped (round-17, guide
      // §2.6), same crash-ordering as sequential
      val (eStaged, vStaged) = (s"${tree.staging}/edges", s"${tree.staging}/vectors_rw")
      BucketSwap.stage(spark, tree)(overlapJobs(
        () => rewritten
          .repartition(col("src_bucket"))
          .write.mode("overwrite").partitionBy("src_bucket")
          .parquet(eStaged),
        () => vRewritten
          .repartition(col("vbucket"))
          .write.mode("overwrite").partitionBy("vbucket")
          .parquet(vStaged)))
      val next = s.copy(isDirty = true, dirtyCount = s.dirtyCount + d,
        size = s.size - d)
      BucketSwap.land(spark, tree, Some(next), Seq(
        BucketSwap.Rewrite(tree.lists, eStaged, affected),
        BucketSwap.Rewrite(tree.rows, vStaged, affected)))
      next
    } finally {
      if (touched != null) touched.unpersist()
      delRows.unpersist()
    }
  }

  /** A20's small-files maintenance pass for the graph tree's ONE
    * accretive layout: `_vectors` accumulates one part-file per
    * touched vbucket per append (the landing's move-in), while the edge
    * buckets rewrite wholesale (one file per bucket) on every mutation
    * and so never accumulate. Shared core ([[BucketSwap.compact]] —
    * threshold-gated, staged under the `_graph_tmp` marker, bucket-
    * swapped, content-neutral, reading the vectors under their writer's
    * schema): a crash mid-swap refuses loudly on every serve/mutate
    * path and rebuild's recovery makes the buckets whole. State is
    * never touched. Returns the number of vbuckets rewritten; pinned in
    * GraphSpec.
    */
  def compact(spark: SparkSession, indexPath: String, maxFiles: Int = 4): Int =
      ServingState.writing(indexPath) {
    val tree = BucketSwap.graph(indexPath)
    BucketSwap.intact(spark, tree, "compact")
    localMeta(spark, indexPath)
    BucketSwap.compact(spark, tree, tree.rows, maxFiles, VectorSchema)
  }

  /** Driver query: `graph_delete` — the remove_vector contract on the
    * graph layout end-to-end: build, repair-link delete of every 7th
    * vector, then disk read-backs proving (phase 3) `_vectors` really
    * shrank and (phase 4, the `size` column) NO surviving edge
    * references a deleted id in either direction — the repair actually
    * rewired around the holes. Every value is arithmetic on the corpus
    * (d = ⌊n/7⌋+…, dangling = 0), so the key is oracle-checked, not
    * rows-only; structural repair invariants (degree caps, untouched
    * buckets byte-stable, deleted never served) are pinned in
    * GraphSpec.
    */
  def graphDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_graph_del")
    val tmp = s"$tmpDir/g"
    try {
      val s1 = build(spark, dir, tmp)
      val delIds = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 7 === 0).select(col("vec_id").as("id"))
      val s2 = delete(delIds, tmp)
      // the two read-backs are independent scans of the swapped tree —
      // overlapped (round-17, §2.6); values land before Await returns
      var survivors = 0L
      var dangling = -1L
      overlapJobs(
        () => survivors = readVectors(spark, tmp).count(),
        () => dangling = readEdges(spark, tmp)
          .join(broadcast(delIds.withColumnRenamed("id", "x")),
            col("src") === col("x") || col("dst") === col("x"))
          .count())
      val s3 = s2.copy(size = survivors)
      val s4 = s2.copy(size = dangling)
      import spark.implicits._
      Seq(s1, s2, s3, s4).zipWithIndex
        .map { case (s, i) =>
          (i + 1, s.version, s.isDirty, s.dirtyCount, s.size,
            s.shouldRebuild(IndexLifecycle.RebuildThreshold)) }
        .toDF("phase", "version", "is_dirty", "dirty_count", "size", "should_rebuild")
        .orderBy("phase")
        .localCheckpoint()
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  /** Every 7th vec_id deleted: d/n ≈ 1/7 crosses the 0.1 threshold;
    * phase 3's size is the `_vectors` read-back (n − d), phase 4's is
    * the dangling-edge read-back (0 — the repair rewired every
    * reference away).
    */
  def graphDeleteOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(count(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT) AS d FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, false AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d, n - d, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d, n - d, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 4, 1, true, d, CAST(0 AS BIGINT), (1.0*d/n >= 0.1) FROM p
      |ORDER BY phase""".stripMargin

  /** Out-of-band rebuild: a fresh coarse quantizer, bucket count and
    * per-bucket exact graph over the CURRENT logical contents (the
    * `_vectors` read-back — appended vectors included, now linking
    * among themselves too), version+1, dirt reset, through the shared
    * rebuild skeleton ([[BucketSwap.rebuild]]): the new tree stages at
    * the sibling `<path>_rebuild_tmp` and the tree swap renames it in,
    * with the live tree serving throughout. It reads a tree of any
    * layout, so it also converts a tree written before the
    * partition-local layout. Rebuild IS the recovery path for a
    * half-applied mutation (the `_graph_tmp` refusal every
    * serve/mutate call raises): the skeleton first RECONCILES the
    * staging dir rather than discarding it — asides from a crashed
    * bucket swap are restored, and staged vector files the state
    * already accounts for (a crash in append's state-write→move-in
    * window: state size − `_vectors` rows == staged rows) move into
    * their live buckets, so an accounted batch can never vanish with
    * the marker (its stream's replay NO-OPs against the recorded
    * watermark). Edges are always fully re-derived from the reconciled
    * vectors. A mutation that lands between the contents snapshot and
    * the swap aborts the swap loudly (the PqLifecycle.rebuild
    * contract): the staged tree is discarded and the caller re-runs
    * against the current contents.
    */
  def rebuild(spark: SparkSession, indexPath: String): IndexStatus =
      ServingState.writing(indexPath) {
    BucketSwap.rebuild(spark, BucketSwap.graph(indexPath)) { (s, staged) =>
      // (k, metric) of any layout: a rebuild is how an older tree converts
      val (k, metric) = readMeta(spark, indexPath)
      val vecs = readVectors(spark, indexPath).select("id", "vec").cache()
      val n =
        try {
          val n = vecs.count()
          // a fresh coarse quantizer over the current contents, and the
          // bucket count re-derived from them
          val (assign, cents, _) =
            Ivf.kmeansWithQuantizer(Tables.rebalanced(vecs), Ivf.defaultK(n))
          writeGraphTree(spark, vecs, assign, cents, staged, k, metric, bucketCount(n))
          n
        } finally vecs.unpersist() // released on failure too
      val next = IndexStatus("knngraph", isBuilt = true, isDirty = false,
        size = n, embeddingDim = s.embeddingDim,
        builtAt = System.currentTimeMillis(), version = s.version + 1,
        dirtyCount = 0L, totalVectors = n,
        appliedStreams = s.appliedStreams)
      IndexLifecycle.writeState(spark, staged, next)
      next
    }
  }

  /** Driver query: `graph_lifecycle` — the graph-index state machine
    * end-to-end: build (per-bucket exact graphs persisted), two
    * in-bucket linking appends (the second crosses the 0.1 dirty
    * ratio), the policy-triggered rebuild (version+1, dirt reset,
    * appended vectors now first-class), and a disk read-back proving
    * `_vectors` really grew. Every transition is arithmetic on the
    * corpus size — oracle-checked, not rows-only. Structural edge
    * invariants (each appended node has exactly k out-edges before
    * the rebuild, touched nodes respect the R cap, untouched buckets
    * byte-identical) are pinned in GraphSpec.
    */
  def graphLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_graph_lc")
    val tmp = s"$tmpDir/g"
    try {
      val n = Tables.embeddingsCount(spark, dir)
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val d1 = math.ceil(0.05 * n).toLong
      val d2 = math.ceil(0.07 * n).toLong
      val s1 = build(spark, dir, tmp)
      val s2 = append(vecs.filter(col("id") < d1)
        .select((col("id") + n).as("id"), col("vec")), tmp)
      val s3 = append(vecs.filter(col("id") < d2)
        .select((col("id") + n + d1).as("id"), col("vec")), tmp)
      require(s3.shouldRebuild(IndexLifecycle.RebuildThreshold),
        "cumulative dirt must cross the rebuild threshold")
      val s4 = rebuild(spark, tmp)
      val s5 = s4.copy(size = readVectors(spark, tmp).count()) // read-back
      import spark.implicits._
      Seq(s1, s2, s3, s4, s5).zipWithIndex
        .map { case (s, i) =>
          (i + 1, s.version, s.isDirty, s.dirtyCount, s.size,
            s.shouldRebuild(IndexLifecycle.RebuildThreshold)) }
        .toDF("phase", "version", "is_dirty", "dirty_count", "size", "should_rebuild")
        .orderBy("phase")
        .localCheckpoint()
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  /** d1 = ceil(0.05·n) then d2 = ceil(0.07·n) appended (cumulative
    * 0.12 crosses the 0.1 threshold), rebuild resets dirt at the new
    * size, phase 5 re-reads the vector count from disk.
    */
  def graphLifecycleOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(ceil(0.05*count(*)) AS BIGINT) AS d1,
      |  CAST(ceil(0.07*count(*)) AS BIGINT) AS d2 FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, false AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d1, n + d1, (1.0*d1/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d1 + d2, n + d1 + d2, (1.0*(d1+d2)/n >= 0.1) FROM p
      |UNION ALL SELECT 4, 2, false, CAST(0 AS BIGINT), n + d1 + d2, false FROM p
      |UNION ALL SELECT 5, 2, false, CAST(0 AS BIGINT), n + d1 + d2, false FROM p
      |ORDER BY phase""".stripMargin
}
