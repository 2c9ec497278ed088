package graft.operators

import graft.Tables
import graft.functions.{VectorFunctions, VectorMetric}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Measured on sf0.001 (GraphProbe): the graph's own edges carry
  * 0.92 recall, pure navigation from the coarse entry saturates at
  * 0.55 (this corpus is near-uniform — the adversarial case for graph
  * navigation, same as the E37c uniform finding), and the seeded beam
  * reaches 0.97 — the expansion genuinely recovers neighbors the
  * stored adjacency misses. Cost per round is O(N·B·deg) skinny pair
  * rows through joins keyed on query_id/cand — no broadcast of
  * anything corpus-sized, no per-query driver work.
  *
  * The persisted layout (`writeGraphTree`) is the index every other
  * family already has: edge lists (src, dst, dist) partitioned by
  * `src_bucket` (= src mod [[GraphBuckets]] — bounded directory count
  * at any N, touched-bucket rewrites on mutation), the vectors the
  * graph links with their coarse assignment (`_vectors` (id, vec,
  * cluster_id), bucket-partitioned the same way — a graph index
  * stores its vectors; HNSW does, DiskANN stores compressed ones),
  * the coarse `_centroids` (the entry structure appends navigate
  * from), and the shared lifecycle `_state`. Arrivals are
  * SEARCH-THEN-LINK (the incremental NN-Descent / HNSW-insert step):
  * each new vector enters at its nearest coarse list's best B, beam-
  * searches the frozen graph for its k out-edges, reverse edges land
  * on the touched nodes capped at R = 2k by distance, and ONLY the
  * affected buckets rewrite through the rename-aside swap discipline
  * (IndexLifecycle.compact's pattern). Growth is dirt; the
  * dirty-ratio policy (the reference's should_rebuild arithmetic,
  * app/services/index_service.py:88-99) decides when the whole graph
  * re-descends.
  */
object GraphIndex {

  /** Bounded expansion rounds — with the seeded beam (coarse entry ∪
    * own adjacency) round 2 is measured saturation on the sf corpora
    * (GraphProbe: 0.972 → 0.974 → 0.975 at rounds 1/2/3); GraphSpec
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
    * 0.935-0.938 per metric at 1.2× build (tools/RefineProbe), where
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

  /** Edge/vector bucket count. Small here; at 100 TB this scales like
    * any partition count (O(thousands)) — the invariant that matters
    * is that mutations rewrite O(touched buckets), never the table.
    */
  val GraphBuckets = 16

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
    * (tools/RefineProbe): the converged fixpoint is already the exact
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

  private val refinedMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), DataFrame]

  /** Drop the memoized refined graphs, tune grids, and tuned trees
    * for `dir` (the corpus-change invalidation set
    * IndexLifecycle.build runs — rides on top of Dedup.invalidate's
    * descent-memo drop; a data change must not serve a stale grid or
    * a tree built over the old corpus).
    *
    * Ordering contract: the tuned-tree delete removes files a
    * DataFrame still holding the persisted sidecar/tree MAY lazily
    * re-read — invalidate must not race in-flight tuned-tree reads in
    * the same session (the caller quiesces tuned serving before a
    * corpus swap, exactly as IndexLifecycle.build does: it
    * invalidates BEFORE building the new corpus' state, never under
    * live queries).
    */
  def invalidate(dir: String): Unit = {
    refinedMemo.keys.filter(_._1 == dir)
      .foreach(k => refinedMemo.remove(k).foreach(_.unpersist()))
    symMemo.keys.filter(_._1 == dir)
      .foreach(k => symMemo.remove(k).foreach(_.unpersist()))
    tuneMemo.keys.filter(_._1 == dir).foreach(tuneMemo.remove)
    tunedTreeMemo.remove(dir).foreach { tree =>
      // the tree lives under the JVM temp dir (tunedGraphTree) — drop
      // the whole directory (closed-stream walk) so the next call
      // rebuilds over fresh data, and deregister from the shutdown
      // sweep so the hook never double-deletes
      val root = java.nio.file.Paths.get(tree).getParent
      graft.streaming.Streams.deleteTree(root)
      graft.TempTrees.deregister(root.toString)
    }
  }

  /** Phase 2 of the two-phase build over arbitrary frames (shared by
    * the session memo and the persisted rebuild): pick the worst
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
    * contract; every graph-SERVING face (topk, filtered, stats,
    * build) runs through this.
    */
  private[graft] def refinedGraph(spark: SparkSession, dir: String,
                                  k: Int = 5,
                                  metric: Int = DefaultMetric): DataFrame =
    refinedMemo.get((dir, k, metric)).getOrElse(synchronized {
      refinedMemo.getOrElseUpdate((dir, k, metric), {
        val (g, iters) = Dedup.descentGraph(spark, dir, k, metric)
        // the convergence gate (measured at 25×, tools/RefineProbe): a
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
      })
    })

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
  private[graft] def symmetrize(edges: DataFrame): DataFrame =
    edges.select("src", "dst")
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")

  /** Per-(dir, k, metric) session memo of the SYMMETRIZED refined
    * graph (round-17): every serving face expands through this table —
    * the entry seed and each beam round re-paid symmetrize's union +
    * dedup shuffle per job (the eager per-round checkpoints make every
    * round its own job), and the tune grid's four concurrent configs
    * each re-paid it again. It derives deterministically from the
    * refined-graph memo (a production tree PERSISTS the symmetrized
    * adjacency; the session memo is the established stand-in), is
    * warmed by the same memo_refined_graph* bench lines, and drops in
    * [[invalidate]] with the memo it shadows.
    */
  private val symMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), DataFrame]

  private[graft] def symmetrizedGraph(spark: SparkSession, dir: String,
                                      k: Int = 5,
                                      metric: Int = DefaultMetric): DataFrame =
    symMemo.get((dir, k, metric)).getOrElse(synchronized {
      symMemo.getOrElseUpdate((dir, k, metric), {
        val s = symmetrize(
          refinedGraph(spark, dir, k, metric).select("src", "dst")).cache()
        s.count()
        s
      })
    })

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
    * as its own seam so tools/OptPlanProbe can dump the ROUND's
    * physical plan (the serving keys return checkpointed frames, which
    * hide the round shape from explain).
    *
    * ONE exchange per round (round-16): hash by query_id BEFORE the
    * dedup — HashPartitioning(query_id) satisfies the dedup's
    * ClusteredDistribution(query_id, cand) AND the top-B aggregate's
    * ClusteredDistribution(query_id), so the round's dedup and ranking
    * share a single shuffle instead of paying one each (plan diff:
    * plans/r16/beam_round_{before,after}.txt — 2 Exchange → 1). Same
    * rows either way.
    */
  private[graft] def beamRoundFrame(beam: DataFrame, e: DataFrame,
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

  /** The shared round loop: `beam0` (query_id, cand) expands through
    * `edges` for [[BeamRounds]] rounds, scored against `vecs`
    * ((id, cv)) on the candidate side and `qvecs` ((query_id, qv) —
    * defaults to `vecs`, corpus queries) on the query side; returns
    * the final ranked top-k.
    */
  private[graft] def beamRounds(beam0: DataFrame, edges: DataFrame,
                                    vecs: DataFrame, k: Int, b: Int,
                                    qvecsOpt: Option[DataFrame] = None,
                                    metric: Int = DefaultMetric,
                                    rounds: Int = BeamRounds,
                                    sorted: Boolean = true): DataFrame = {
    require(rounds >= 1, s"beamRounds needs at least one round, got $rounds")
    val qvecs = qvecsOpt.getOrElse(
      vecs.select(col("id").as("query_id"), col("cv").as("qv")))
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
    val rankedBase = lastFrame.groupBy("query_id")
      .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
    // the public serving faces keep their (query_id, rank) output
    // order; internal consumers that immediately re-join (append's
    // search-then-link) skip the global sort exchange (round-17 —
    // same ROWS either way, order is the only difference)
    val ranked = (if (sorted) rankedBase.orderBy("query_id", "rank")
                  else rankedBase)
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

  private val tuneMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Seq[(Int, Int, Long)]]

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
    tuneMemo.getOrElseUpdate((dir, k, metric), {
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
    })

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
    else {
      val df = spark.read.parquet(s"$indexPath/_autotune_graph")
      val rows =
        if (df.columns.contains("metric")) df.filter(col("metric") === metric)
        else if (metric == DefaultMetric) df
        else df.filter(lit(false))
      rows.select("rounds", "beam").head(1).headOption
        .map(r => (r.getLong(0), r.getLong(1)))
    }
  }

  private val tunedTreeMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The session's tuned graph tree: one persisted build + the
    * sidecar write per corpus (its own bench warmer line, so the
    * serving key measures tuned SERVING — the Pq.tunedTree pattern).
    */
  private[graft] def tunedGraphTree(spark: SparkSession, dir: String): String =
    tunedTreeMemo.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_graph_tuned")
      // shutdown-hook sweep: a session cycling corpora leaves no
      // orphaned trees even when invalidate() never runs
      graft.TempTrees.register(root.toString)
      val tmp = root.resolve("g").toString
      build(spark, dir, tmp)
      writeGraphAutotune(spark, dir, tmp)
      tmp
    })

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

  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(c, lit(GraphBuckets.toLong)).cast("int")

  // The ONE bucket-mutation protocol, shared by append / delete /
  // rebuild-recovery so the crash-recovery contract is structural, not
  // three hand-rolled copies coupled by directory-name convention (the
  // round-13 review finding: delete had to invent its own staging name
  // to dodge append's, and a crashed vector swap lost a bucket because
  // recovery only knew append's layout).

  /** Rename-aside replacement of the listed live buckets with their
    * staged twins: live → `_old_<prefix>=N`, staged in, aside deleted.
    * A fully-emptied bucket (no staged dir) simply disappears. Loud
    * failures at every step; a crash mid-swap leaves the `_graph_tmp`
    * marker (the caller's staging root) plus possibly one aside, which
    * [[restoreAsides]] makes whole again during rebuild recovery.
    */
  private def swapBuckets(f: org.apache.hadoop.fs.FileSystem,
                          liveDir: String, stagedDir: String,
                          prefix: String, buckets: Seq[Int],
                          op: String): Unit =
    buckets.foreach { bk =>
      val dst = new Path(s"$liveDir/$prefix=$bk")
      val src = new Path(s"$stagedDir/$prefix=$bk")
      val aside = new Path(s"$liveDir/_old_$prefix=$bk")
      if (f.exists(dst) && !f.rename(dst, aside))
        sys.error(s"$op: could not move stale bucket $dst aside")
      if (f.exists(src) && !f.rename(src, dst))
        sys.error(s"$op: rename $src -> $dst failed; old at $aside")
      if (f.exists(aside) && !f.delete(aside, true))
        sys.error(s"$op: could not clean up $aside")
    }

  /** Append-only move-in: every staged part-file lands in its live
    * bucket (created if absent). Part names carry a per-job UUID, so a
    * partially-completed move-in simply resumes file-by-file.
    */
  private def moveInFiles(f: org.apache.hadoop.fs.FileSystem,
                          stagedDir: String, liveDir: String,
                          prefix: String, op: String): Unit =
    f.listStatus(new Path(stagedDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$prefix="))
      .foreach { dDir =>
        val dst = new Path(s"$liveDir/${dDir.getPath.getName}")
        if (!f.exists(dst) && !f.mkdirs(dst))
          sys.error(s"$op: could not create $dst")
        f.listStatus(dDir.getPath)
          .filter(_.getPath.getName.startsWith("part-"))
          .foreach { file =>
            if (!f.rename(file.getPath, new Path(dst, file.getPath.getName)))
              sys.error(s"$op: rename ${file.getPath} -> $dst failed")
          }
      }

  /** Make a crashed [[swapBuckets]] whole: for every `_old_<prefix>=N`
    * aside, a MISSING live bucket means the crash hit between the two
    * renames and the aside IS the authoritative content — rename it
    * back; a present live bucket means the replacement landed and the
    * aside is stale — delete it. MUST run before any read of the
    * directory during recovery: an underscore-prefixed aside is
    * invisible to parquet readers, so an unrestored `_vectors` aside
    * would read as a silently truncated corpus and the bucket would be
    * LOST with the re-descent (the round-13 review's delete-crash
    * hole).
    */
  private def restoreAsides(f: org.apache.hadoop.fs.FileSystem,
                            dir: String, prefix: String, op: String): Unit = {
    val d = new Path(dir)
    if (!f.exists(d)) return
    f.listStatus(d)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"_old_$prefix="))
      .foreach { st =>
        val live = new Path(dir, st.getPath.getName.stripPrefix("_old_"))
        if (f.exists(live)) {
          if (!f.delete(st.getPath, true))
            sys.error(s"$op: could not drop stale aside ${st.getPath}")
        } else if (!f.rename(st.getPath, live))
          sys.error(s"$op: could not restore aside ${st.getPath} -> $live")
      }
  }

  /** Persist a graph tree: bucket-partitioned edge lists at the root,
    * `_vectors` (id, vec, cluster_id — the coarse assignment the
    * append entry navigates from) / `_centroids` / `_meta` sidecars.
    * Content only — the lifecycle state is the caller's (build/rebuild
    * write it).
    */
  private def writeGraphTree(spark: SparkSession, edges: DataFrame,
                             vecsAssigned: DataFrame,
                             centroids: Array[Array[Float]],
                             outPath: String, k: Int,
                             metric: Int): Unit = {
    // the edge write overwrite-wipes the ROOT, so it must complete
    // before anything lands in the `_` subdirs; the three subdir
    // writes after it are independent and overlap (round-17, §2.6)
    edges.select(col("src"), col("dst"), col("dist"))
      .withColumn("src_bucket", bucketOf(col("src")))
      .repartition(col("src_bucket")) // one file per bucket, not task×bucket
      .write.mode("overwrite").partitionBy("src_bucket").parquet(outPath)
    import spark.implicits._
    overlapJobs(
      () => vecsAssigned.select(col("id"), col("vec"), col("cluster_id"))
        .withColumn("vbucket", bucketOf(col("id")))
        .repartition(col("vbucket"))
        .write.mode("overwrite").partitionBy("vbucket")
        .parquet(s"$outPath/_vectors"),
      () => centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
        .toDF("cid", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_centroids"),
      () => Seq((k, GraphBuckets, metric)).toDF("k", "buckets", "metric")
        .coalesce(1).write.mode("overwrite").parquet(s"$outPath/_meta"))
  }

  /** (k, metric) of a persisted tree — the per-index invariants every
    * serve/mutate path runs under. Legacy `_meta` files predate the
    * metric column and read as cosine (what they were built as).
    */
  private[graft] def readMeta(spark: SparkSession, indexPath: String): (Int, Int) = {
    val df = spark.read.parquet(s"$indexPath/_meta")
    val row = df.head()
    val k = row.getInt(df.schema.fieldIndex("k"))
    val metric =
      if (df.schema.fieldNames.contains("metric"))
        row.getInt(df.schema.fieldIndex("metric"))
      else DefaultMetric
    (k, metric)
  }

  private[graft] def readEdges(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(indexPath).select(col("src"), col("dst"), col("dist"))

  private[graft] def readVectors(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(s"$indexPath/_vectors")
      .select(col("id"), col("vec"), col("cluster_id"))

  /** A half-applied mutation leaves this staging marker; serving and
    * mutating refuse while it exists (recovery = rebuild) — the
    * IndexLifecycle `_append_tmp` discipline.
    */
  private def checkNoHalfApplied(spark: SparkSession, indexPath: String): Unit = {
    val p = new Path(s"$indexPath/_graph_tmp")
    if (fs(spark, indexPath).exists(p))
      sys.error(s"graph index at $indexPath carries a half-applied mutation " +
        s"($p exists) — rebuild before serving or mutating")
  }

  /** Beam search over LOADED tree frames for an arbitrary (id, vec)
    * query batch — the search step append links through, shared with
    * the public serving face below. No self-exclusion: callers with
    * in-corpus query ids get the id itself at rank 1 (distance 0).
    */
  private def beamSearchLoaded(stored: DataFrame, edges: DataFrame,
                               cents: Array[Array[Float]],
                               queries: DataFrame, k: Int,
                               broadcastProbes: Boolean = false,
                               metric: Int = DefaultMetric,
                               sorted: Boolean = true): DataFrame = {
    val b = beamWidth(k)
    val probes = Ivf.probeSelect(
      queries.select(col("id").as("query_id"), col("vec").as("qvec")),
      cents, EntryNprobe, metric)
    // append micro-batches broadcast their probe frame into the stored
    // scan (point-serving contract); corpus-sized callers shuffle-join
    val entry = Ivf.probedTopK(
        stored.select(col("cluster_id"), col("id").as("neighbor_id"), col("vec")),
        probes, b, metric, broadcastProbes = broadcastProbes)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    // pin the symmetrized expansion once (round-17, the beamTopk note):
    // every beam round otherwise re-reads the persisted edge buckets
    // AND re-pays the union + dedup shuffle
    val sym = symmetrize(edges).localCheckpoint(true)
    val out = beamRounds(entry, sym,
      stored.select(col("id"), col("vec").as("cv")), k, b,
      qvecsOpt = Some(queries.select(col("id").as("query_id"), col("vec").as("qv"))),
      metric = metric, sorted = sorted)
    sym.unpersist() // `out` is checkpointed; the expansion pin can go
    out
  }

  /** Serve a PERSISTED graph tree for an out-of-corpus (id, vec) query
    * batch: coarse entry (`_centroids` + the stored assignment) + the
    * symmetrized beam. The disk twin of [[graphTopk]]'s search step.
    */
  def queryGraphBatch(spark: SparkSession, indexPath: String,
                      queries: DataFrame, k: Int): DataFrame = {
    checkNoHalfApplied(spark, indexPath)
    // the tree's OWN metric — a query can never run under a different
    // metric than the one the graph was descended with
    val (_, metric) = readMeta(spark, indexPath)
    beamSearchLoaded(readVectors(spark, indexPath),
      readEdges(spark, indexPath),
      IndexLifecycle.loadCentroids(spark, indexPath), queries, k,
      metric = metric)
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
    * graph lesson applied to the persisted face).
    */
  def queryGraphBatchFiltered(spark: SparkSession, indexPath: String,
                              queries: DataFrame, k: Int,
                              selector: DataFrame): DataFrame = {
    checkNoHalfApplied(spark, indexPath)
    val (_, metric) = readMeta(spark, indexPath)
    val sel = selector.select(col("id"))
    val stored = readVectors(spark, indexPath)
    val cents = IndexLifecycle.loadCentroids(spark, indexPath)
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

  /** Build (version+1): the session REFINED graph (two-phase builder)
    * persisted with its assigned vectors, coarse centroids, and a
    * fresh lifecycle state.
    */
  def build(spark: SparkSession, dir: String, indexPath: String,
            k: Int = 5, metric: Int = DefaultMetric): IndexStatus = {
    val prev = IndexLifecycle.status(spark, indexPath)
    val graph = refinedGraph(spark, dir, k, metric)
    val (assign, cents) = Ivf.indexFor(spark, dir)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    writeGraphTree(spark, graph,
      vecs.join(assign.select("id", "cluster_id"), "id"), cents, indexPath, k,
      metric)
    val n = Tables.embeddingsCount(spark, dir)
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    val next = IndexStatus("knngraph", isBuilt = true, isDirty = false,
      size = n, embeddingDim = dim, builtAt = System.currentTimeMillis(),
      version = prev.version + 1, dirtyCount = 0L, totalVectors = n)
    IndexLifecycle.writeState(spark, indexPath, next)
    next
  }

  /** Incremental add — SEARCH-THEN-LINK: each new vector enters the
    * FROZEN persisted graph at its nearest coarse list's best B (the
    * same nprobe=1 entry the batch key uses, against `_centroids` +
    * the `_vectors` cluster assignment), beam-searches for its k
    * out-edges (symmetrized expansion); reverse edges land on the
    * touched nodes, whose adjacency re-caps at R = 2k by (dist, id);
    * only the affected src buckets rewrite (rename-aside swap), new
    * vectors append into `_vectors` under their coarse assignment.
    * Within-batch arrivals link against the EXISTING graph only (the
    * incremental NN-Descent step) — links among themselves come from
    * the next rebuild, the same freshness trade every incremental
    * graph index makes. Growth is dirt against the as-of-build total.
    */
  def append(newVecs: DataFrame, indexPath: String,
             streamBatchId: Option[Long] = None,
             streamId: Option[String] = None): IndexStatus = {
    val spark = newVecs.sparkSession
    val s = IndexLifecycle.status(spark, indexPath)
    require(s.isBuilt, "append requires a built graph (build first)")
    checkNoHalfApplied(spark, indexPath)
    // at-least-once replay guard (the PqLifecycle.append contract): a
    // batch the state already accounts for NO-OPs — the watermark is
    // per stream identity, recorded in the same state write the
    // landing protocol does below
    if (streamBatchId.exists(_ <= s.appliedBatchFor(streamId.getOrElse(""))))
      return s
    val (k, metric) = readMeta(spark, indexPath)
    val nv = newVecs.select(col("id"), col("vec")).cache()
    val d = nv.count()
    val stored = readVectors(spark, indexPath)
    val vecs = stored.select(col("id"), col("vec").as("cv"))
    val edges = readEdges(spark, indexPath)
    val cents = IndexLifecycle.loadCentroids(spark, indexPath)
    val queries = nv.select(col("id").as("query_id"), col("vec").as("qv"))
    // forward edges: the new vector's top-k among EXISTING nodes (the
    // shared beam core; coarse entry + symmetrized expansion)
    val forward = beamSearchLoaded(stored, edges, cents, nv, k,
        broadcastProbes = true, metric = metric,
        // the linker re-joins and re-aggregates this frame — the global
        // (query_id, rank) sort would be a dead exchange per trigger
        sorted = false)
      .join(queries, "query_id") // re-score carried dist for the edge rows
      .join(vecs.select(col("id").as("neighbor_id"), col("cv")), "neighbor_id")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        Ivf.distCol(metric, col("qv"), col("cv")).as("dist"))
      .localCheckpoint(true)
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
    // affected buckets = buckets holding a touched node or a new node
    val affected = touched.select(bucketOf(col("src")).as("bk"))
      .union(forward.select(bucketOf(col("src")).as("bk")))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    // new content of the affected buckets: untouched srcs keep their
    // rows, touched srcs take the recapped adjacency, new srcs their
    // forward edges
    val kept = edges
      .filter(bucketOf(col("src")).isInCollection(affected))
      .join(touched, Seq("src"), "left_anti")
    val rewritten = kept.union(recapped).union(forward)
      .withColumn("src_bucket", bucketOf(col("src")))
    // stage EVERYTHING, record state, then swap — a crash leaves the
    // loud marker, never rows the state doesn't account for
    val tmp = s"$indexPath/_graph_tmp"
    // the two staged writes land in SIBLING staging dirs and both
    // complete before the state write, so overlapping them (round-17,
    // guide §2.6) cannot change the crash-ordering contract — a crash
    // anywhere in here still leaves the loud marker and no state row
    overlapJobs(
      () => rewritten
        .repartition(col("src_bucket"))
        .write.mode("overwrite").partitionBy("src_bucket")
        .parquet(s"$tmp/edges"),
      // new vectors land with their coarse assignment (flat argmin over
      // the loaded centroids — the next append's entry navigates them)
      () => Ivf.assignTo(nv, cents)
        .select(col("neighbor_id").as("id"), col("vec"), col("cluster_id"))
        .withColumn("vbucket", bucketOf(col("id")))
        .repartition(col("vbucket"))
        .write.mode("overwrite").partitionBy("vbucket")
        .parquet(s"$tmp/vectors"))
    val next0 = s.copy(isDirty = true, dirtyCount = s.dirtyCount + d,
      size = s.size + d)
    val next = (streamBatchId, streamId) match {
      case (Some(b), Some(id)) => next0.withAppliedBatch(id, b)
      case _ => next0
    }
    IndexLifecycle.writeState(spark, indexPath, next)
    val f = fs(spark, indexPath)
    swapBuckets(f, indexPath, s"$tmp/edges", "src_bucket", affected,
      "graph append")
    // new vector files land in their live buckets (append-only)
    moveInFiles(f, s"$tmp/vectors", s"$indexPath/_vectors", "vbucket",
      "graph append")
    if (!f.delete(new Path(tmp), true))
      sys.error(s"graph append: could not clear staging dir $tmp")
    forward.unpersist()
    nv.unpersist()
    next
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
    * recap convention). Removals are dirt, so the dirty-ratio policy
    * eventually re-descends around the holes; ids not present are a
    * no-op (the reference's `return False`), which also makes the
    * batch idempotent and a crashed delete RETRYABLE: the same staging
    * protocol as append (stage → state → swap → clear marker) leaves
    * the loud `_graph_tmp` refusal on a crash, rebuild re-derives a
    * consistent tree from whatever buckets swapped (size re-counted
    * from disk), and re-issuing the delete completes the remainder.
    *
    * Scale shape: one edge-table scan finds the in-neighbors (the same
    * bounded aggregation IndexLifecycle.delete pays over its lists);
    * repair candidates are O(d · deg²) pair rows — batch-sized, never
    * corpus-sized; rewrites touch O(affected buckets).
    */
  def delete(deleteIds: DataFrame, indexPath: String): IndexStatus = {
    val spark = deleteIds.sparkSession
    val s = IndexLifecycle.status(spark, indexPath)
    require(s.isBuilt, "delete requires a built graph (build first)")
    checkNoHalfApplied(spark, indexPath)
    val (k, metric) = readMeta(spark, indexPath)
    val stored = readVectors(spark, indexPath)
    // distinct + present-only: duplicates must not inflate the removed
    // count, and a missing id is a no-op
    val del = broadcast(
      deleteIds.select(col("id").as("del_id")).distinct()
        .join(stored.select(col("id").as("del_id")), Seq("del_id"), "left_semi")
        .localCheckpoint(true))
    val d = del.count()
    if (d == 0) { del.unpersist(); return s }
    val edges = readEdges(spark, indexPath)
    val vecs = stored.select(col("id"), col("vec"))
    // in-neighbors to repair: u → v with v deleted, u surviving
    val touched = edges.join(del, col("dst") === col("del_id"), "left_semi")
      .select("src").distinct()
      .join(del.withColumnRenamed("del_id", "src"), Seq("src"), "left_anti")
      .localCheckpoint(true)
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
    // affected edge buckets: deleted srcs (out-edges drop) + touched
    val affected = del.select(bucketOf(col("del_id")).as("bk"))
      .union(touched.select(bucketOf(col("src")).as("bk")))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    val keptVerbatim = edges
      .filter(bucketOf(col("src")).isInCollection(affected))
      .join(touched, Seq("src"), "left_anti")
      .join(del, col("src") === col("del_id"), "left_anti")
    val rewritten = keptVerbatim.union(repaired)
      .withColumn("src_bucket", bucketOf(col("src")))
    val vAffected = del.select(bucketOf(col("del_id")).as("bk"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    val vRewritten = stored
      .filter(bucketOf(col("id")).isInCollection(vAffected))
      .join(del, col("id") === col("del_id"), "left_anti")
      .withColumn("vbucket", bucketOf(col("id")))
    // stage → state → swap → clear (append's protocol; `vectors_rw` so
    // rebuild's crash-recovery reconcile — which moves APPEND-staged
    // vectors in — can never resurrect rows a delete was removing)
    val tmp = s"$indexPath/_graph_tmp"
    // sibling staging dirs, both before the state write — overlapped
    // (round-17, guide §2.6), same crash-ordering as sequential
    overlapJobs(
      () => rewritten
        .repartition(col("src_bucket"))
        .write.mode("overwrite").partitionBy("src_bucket")
        .parquet(s"$tmp/edges"),
      () => vRewritten
        .repartition(col("vbucket"))
        .write.mode("overwrite").partitionBy("vbucket")
        .parquet(s"$tmp/vectors_rw"))
    val next = s.copy(isDirty = true, dirtyCount = s.dirtyCount + d,
      size = s.size - d)
    IndexLifecycle.writeState(spark, indexPath, next)
    val f = fs(spark, indexPath)
    swapBuckets(f, indexPath, s"$tmp/edges", "src_bucket", affected,
      "graph delete")
    swapBuckets(f, s"$indexPath/_vectors", s"$tmp/vectors_rw", "vbucket",
      vAffected, "graph delete")
    if (!f.delete(new Path(tmp), true))
      sys.error(s"graph delete: could not clear staging dir $tmp")
    touched.unpersist()
    del.unpersist()
    next
  }

  /** A20's small-files maintenance pass for the graph tree's ONE
    * accretive layout: `_vectors` accumulates one part-file per
    * touched vbucket per append (moveInFiles), while the edge buckets
    * rewrite wholesale (one file per bucket) on every mutation and so
    * never accumulate. Shared core (IndexLifecycle.compactLayout —
    * threshold-gated, rename-aside, content-neutral), wrapped in the
    * family's `_graph_tmp` marker: a crash mid-swap refuses loudly on
    * every serve/mutate path and rebuild's reconcile (restoreAsides)
    * makes the buckets whole. State is never touched. Returns the
    * number of vbuckets rewritten; pinned in GraphSpec.
    */
  def compact(spark: SparkSession, indexPath: String, maxFiles: Int = 4): Int = {
    val s = IndexLifecycle.status(spark, indexPath)
    require(s.isBuilt, "compact requires a built graph (build first)")
    checkNoHalfApplied(spark, indexPath)
    val f = fs(spark, indexPath)
    val marker = new Path(s"$indexPath/_graph_tmp")
    if (!f.mkdirs(marker))
      sys.error(s"graph compact: could not create staging marker $marker")
    val nRw = IndexLifecycle.compactLayout(
      spark, s"$indexPath/_vectors", "vbucket", maxFiles)
    if (!f.delete(marker, true))
      sys.error(s"graph compact: could not clear staging marker $marker")
    nRw
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

  /** Out-of-band rebuild: re-run NN-Descent over the CURRENT logical
    * contents (the `_vectors` read-back — appended vectors included,
    * now linking among themselves too), version+1, dirt reset, staged
    * tree double-rename swapped in with the live tree serving
    * throughout. Rebuild IS the recovery path for a half-applied
    * mutation (the `_graph_tmp` refusal every serve/mutate call
    * raises): a lingering staging dir is RECONCILED, not discarded —
    * asides from a crashed bucket swap are restored first, and staged
    * vector files the state already accounts for (a crash in append's
    * state-write→move-in window: state size exceeds the on-disk
    * `_vectors` count) move into their live buckets before the
    * re-descent, so an accounted batch can never vanish with the
    * marker; only a staging dir the state does NOT account for is
    * discarded (its rows either never counted or already landed).
    * Edges are always fully re-derived from the reconciled vectors,
    * and the marker clears with the swap instead of bricking the
    * index. A mutation that lands between the contents snapshot and
    * the swap aborts the swap loudly (the PqLifecycle.rebuild
    * contract): the staged tree is discarded and the caller re-runs
    * against the current contents — appended rows can never silently
    * vanish with the replaced tree.
    */
  def rebuild(spark: SparkSession, indexPath: String): IndexStatus = {
    val s = IndexLifecycle.status(spark, indexPath)
    require(s.isBuilt, "rebuild requires a built graph")
    // recovery: RECONCILE a crashed mutation's staging dir. append
    // stages BOTH trees fully, THEN writes state, THEN moves files in
    // — so when the state's size exceeds the on-disk `_vectors` count,
    // the staged vector files are exactly the accounted-but-unmoved
    // batch: move them in (a partial move-in completes file-by-file —
    // part names carry a per-job UUID, so no collisions) and let the
    // re-descent below derive their edges. Only a staging dir the
    // state does NOT account for (crash BEFORE the state write, or
    // AFTER the move-in finished) is discarded: its rows either never
    // counted or already live in `_vectors`. Without the reconcile, a
    // crash in the state-write→move-in window would lose the batch
    // silently — the stream's replay NO-OPs against the recorded
    // watermark and the rebuild re-derives from a `_vectors` tree
    // missing the rows.
    locally {
      val marker = new Path(s"$indexPath/_graph_tmp")
      val f0 = fs(spark, indexPath)
      if (f0.exists(marker)) {
        // FIRST make any crashed bucket swap whole: an unrestored
        // `_vectors` aside is invisible to parquet readers, so both
        // the reconcile count below and the re-descent would read a
        // silently truncated corpus and the bucket would be LOST (a
        // crashed delete's vector swap is the authoritative-data
        // case; edge asides matter only for serving until the swap
        // and are re-derived below either way)
        restoreAsides(f0, s"$indexPath/_vectors", "vbucket",
          "graph rebuild recovery")
        restoreAsides(f0, indexPath, "src_bucket", "graph rebuild recovery")
        val staged = new Path(s"$indexPath/_graph_tmp/vectors")
        if (f0.exists(staged) &&
            s.size > readVectors(spark, indexPath).count()) {
          moveInFiles(f0, staged.toString, s"$indexPath/_vectors", "vbucket",
            "graph rebuild recovery")
        }
        if (!f0.delete(marker, true))
          sys.error(s"graph rebuild: could not discard staging dir $marker")
      }
    }
    val (k, metric) = readMeta(spark, indexPath)
    val vecs = readVectors(spark, indexPath).select("id", "vec").cache()
    val n = vecs.count()
    // init: fresh coarse quantizer over the current contents at the
    // constant descent probe budget (the sub-quadratic argument).
    // quantizer training and the id-domain bound are independent jobs
    // over the same cached frame — overlapped (round-17, guide §2.6)
    val rb = Tables.rebalanced(vecs)
    var trained: (DataFrame, Array[Array[Float]], Option[Ivf.TwoLevelQuantizer]) = null
    var domain = 0L
    Overlap.unitAll(
      () => trained = Ivf.kmeansWithQuantizer(rb, Ivf.defaultK(n)),
      // the exploration schedule needs the dense id-domain bound: ids
      // are 0..n-1 ∪ appended (re-keyed past the corpus) — max+1 covers
      () => domain = vecs.agg(max(col("id"))).head().getLong(0) + 1)
    val (assign, cents, hier) = trained
    val np = math.max(1, math.min(Dedup.DescentInitNprobe, cents.length))
    val queries = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    val init = Ivf.probedTopK(Ivf.invertedLists(rb, assign),
        Ivf.probeSelect(queries, cents, np, metric, hier = hier), k, metric,
        pairFilter = col("neighbor_id") =!= col("query_id"),
        broadcastProbes = false)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val (graph0, rbIters) = Dedup.descentRounds(vecs, init, domain, k, metric)
    // phase 2 over the same frames: the rebuilt tree gets the
    // two-phase builder, not the bare descent — under the same
    // convergence gate as the session face (a converged descent's
    // fixpoint does not pay the refinement pass)
    val graph =
      if (rbIters < Dedup.DescentMaxIters) graph0
      else {
        val rg = refineGraph(graph0, vecs, assign.select("id", "cluster_id"),
          cents, n, k, metric)
        graph0.unpersist()
        rg
      }
    val staged = s"$indexPath/_rebuild_tmp"
    writeGraphTree(spark, graph,
      vecs.join(assign.select("id", "cluster_id"), "id"), cents, staged, k,
      metric)
    val next = IndexStatus("knngraph", isBuilt = true, isDirty = false,
      size = n, embeddingDim = s.embeddingDim,
      builtAt = System.currentTimeMillis(), version = s.version + 1,
      dirtyCount = 0L, totalVectors = n,
      appliedStreams = s.appliedStreams)
    IndexLifecycle.writeState(spark, staged, next)
    vecs.unpersist()
    graph.unpersist()
    val f = fs(spark, indexPath)
    val live = new Path(indexPath)
    val aside = new Path(s"$indexPath.__old")
    // abort-before-swap (the PqLifecycle.rebuild contract): a mutation
    // that landed during the long descent staging would be silently
    // discarded with the replaced tree — check the live state moved
    // neither before the move-aside nor during it
    // appliedStreams included (the PqLifecycle.rebuild tuple): even a
    // zero-row append moves a watermark, and reverting that silently
    // would re-open the replay window it closed
    val live0 = IndexLifecycle.status(spark, indexPath)
    if ((live0.version, live0.dirtyCount, live0.size, live0.appliedStreams) !=
        (s.version, s.dirtyCount, s.size, s.appliedStreams)) {
      f.delete(new Path(staged), true)
      sys.error("graph rebuild: concurrent mutation landed during staging — " +
        "staged tree discarded, re-run rebuild against the current contents")
    }
    if (!f.rename(live, aside))
      sys.error(s"graph rebuild: could not move live tree aside")
    val moved = IndexLifecycle.status(spark, s"$aside")
    if ((moved.version, moved.dirtyCount, moved.size, moved.appliedStreams) !=
        (s.version, s.dirtyCount, s.size, s.appliedStreams)) {
      f.delete(new Path(s"$aside/_rebuild_tmp"), true)
      if (!f.rename(aside, live))
        sys.error(s"graph rebuild: could not restore live tree from $aside")
      sys.error("graph rebuild: concurrent mutation landed between the abort " +
        "check and the swap — live tree restored, staged tree discarded")
    }
    if (!f.rename(new Path(s"$aside/_rebuild_tmp"), live)) {
      f.rename(aside, live) // restore
      sys.error(s"graph rebuild: could not move staged tree in")
    }
    if (!f.delete(aside, true))
      sys.error(s"graph rebuild: could not clean up old version $aside")
    next
  }

  /** Driver query: `graph_lifecycle` — the graph-index state machine
    * end-to-end: build (the session descent graph persisted), two
    * search-then-link appends (the second crosses the 0.1 dirty
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
