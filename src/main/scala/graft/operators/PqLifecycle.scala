package graft.operators

import graft.Tables
import graft.functions.{PqFunctions, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle for the PERSISTED IVF-PQ layout (Pq.writeIvfPq: binary
  * code lists partitioned by cluster_id + centroid/codebook/metric
  * sidecars) — the same versioned-state machine as the raw-vector
  * IndexLifecycle (the reference's IndexService contract,
  * app/services/index_service.py:56-198), applied to the compressed
  * layout a 100 TB deployment actually serves from:
  *
  *   - `append` encodes new vectors against the FROZEN coarse quantizer
  *     and codebooks (no retrain — the reference's incremental add) and
  *     lands them in their cluster partitions; the growth is recorded
  *     as dirt so the dirty-ratio policy decides when the quantizers
  *     retrain.
  *   - `delete` is the shared partition-rewrite (IndexLifecycle.delete's
  *     anti-join over the `id` column, landed by a [[BucketSwap]] bucket
  *     swap): only affected code lists are rewritten and swapped,
  *     untouched partitions stay byte-identical.
  *
  * Both cost O(changed rows / affected lists), never a corpus pass —
  * and the appended rows are M-byte codes, 32× cheaper to land than
  * raw vectors.
  */
object PqLifecycle {

  /** Build (version+1) the persisted IVF-PQ index for a corpus dir and
    * start its lifecycle state. `opq = true` builds the OPQ variant:
    * the learned rotation lands as the `_rotation` sidecar, and every
    * later consumer (queryIvfPq, append) picks it up from disk — the
    * index carries its FULL model, so a rotated index can never be
    * appended to or queried unrotated.
    */
  def build(spark: SparkSession, dir: String, indexPath: String,
            m: Int = Pq.SubspaceCount, metric: Int = VectorMetric.L2,
            opq: Boolean = false): IndexStatus = ServingState.writing(indexPath) {
    val prev = IndexLifecycle.status(spark, indexPath)
    Pq.writeIvfPq(spark, dir, indexPath, m, metric, opq)
    val n = Tables.embeddingsCount(spark, dir)
    val dim = Pq.trainResidual(spark, dir, m, metric, opq).dim
    val next = IndexStatus("ivfpq", isBuilt = true, isDirty = false, size = n,
      embeddingDim = dim, builtAt = System.currentTimeMillis(),
      version = prev.version + 1, dirtyCount = 0L, totalVectors = n)
    IndexLifecycle.writeState(spark, indexPath, next)
    next
  }

  /** Incremental add: encode `newVecs` (id, vec — RAW floats) against
    * the persisted index's own FULL model — metric, coarse centroids,
    * codebooks, and the OPQ `_rotation` when the index was built with
    * one (coarse assignment stays in the original space, matching
    * writeIvfPq; only the PQ encode sees rotated vectors) — then land
    * the (cluster_id, id, codes) rows crash-consistently
    * ([[BucketSwap.append]]: stage under `_append_tmp`, record state,
    * move in — a crash leaves a loud marker, never silently
    * unaccounted rows) and record the growth as dirt. Queries see the
    * new vectors immediately; nothing retrains.
    *
    * `streamBatchId` + `streamId` are the at-least-once guard for
    * foreachBatch callers (D12): both are recorded in the SAME state
    * write the landing already does before moving files in, so a
    * replayed batch (sink retry after a completed append but before
    * the checkpoint commit) sees its own stream's watermark >= batchId
    * and NO-OPs instead of silently landing duplicate code rows. The
    * watermark is a MAP keyed per stream identity (the Delta txn
    * appId+version idempotent-writer pattern, kept per-appId as Delta
    * keeps it; callers pass a stable id — D12 uses the checkpoint
    * location): Spark batch ids restart at 0 under a FRESH checkpoint,
    * so an old stream's watermark must never swallow a new stream's
    * genuinely-new batches, and two INTERLEAVED streams appending to
    * one index must not displace each other's entry (a single
    * last-writer pair would re-open the replay hole the moment a
    * second identity touched the index). A crash between the state
    * write and the move-in stays behind the loud `_append_tmp` refusal
    * until [[rebuild]]'s recovery moves the accounted batch in — the
    * window is either a no-op or a refusal, never unaccounted rows.
    */
  def append(newVecs: DataFrame, indexPath: String,
             streamBatchId: Option[Long] = None,
             streamId: Option[String] = None): IndexStatus = {
    val spark = newVecs.sparkSession
    val tree = BucketSwap.lists(indexPath)
    // the model is frozen between builds: a per-trigger caller (D12)
    // takes it from the serving state instead of re-reading the
    // sidecars, and a replayed batch reads nothing
    lazy val pm = ServingState.pq(spark, indexPath).model
    BucketSwap.append(spark, tree, streamBatchId, streamId)(
        Ivf.metricTransform(newVecs, pm.metric))(BucketSwap.count) { (v, _, next) =>
      val centroids = pm.centroids
      val codebooks = pm.codebooks
      val rotation = pm.rotation
      // two-level-trained indexes assign appends through their persisted
      // hierarchy — O(√k)/row, same path as the build (flat when absent)
      val assigned = Ivf.assignToQ(v, centroids, pm.hierarchy)
        .select(col("cluster_id"), col("neighbor_id").as("id"), col("vec"))
      val staged =
        if (pm.residual) {
          // residual layout: new rows encode their (possibly rotated)
          // offset from the frozen coarse centroid they just joined
          val subDim = codebooks(0)(0).length
          val model = Pq.Model(codebooks.length * subDim, codebooks.length,
            subDim, codebooks, rotation)
          Pq.encodeResidualWith(assigned, centroids, model)
        } else {
          val encodeInput = rotation match {
            case Some(r) => graft.functions.RotateFunctions.rotateVector(col("vec"), r)
            case None => col("vec")
          }
          assigned.select(col("cluster_id"), col("id"),
            PqFunctions.pqEncode(encodeInput, codebooks).as("codes"))
        }
      BucketSwap.landRows(spark, tree, staged, next)
    }
  }

  /** Point delete over the code lists: rewrite-and-swap ONLY the
    * affected cluster partitions (IndexLifecycle.deleteFrom — same
    * anti-join, same bucket swap, same dirt accounting).
    */
  def delete(deleteIds: DataFrame, indexPath: String): IndexStatus =
    IndexLifecycle.deleteFrom(deleteIds, indexPath, idCol = "id")

  /** Out-of-band rebuild — the close of the reference's lazy-rebuild
    * loop (index_service.py:56-198): when the dirty-ratio policy fires,
    * retrain the coarse quantizer AND the codebooks (and the OPQ
    * rotation, when the index carries one) on the index's CURRENT
    * logical contents, re-encode every vector under the new model, and
    * land the result as version+1 with dirt reset. `currentVecs` is the
    * RAW (id, vec) view of what the index should now hold — the
    * repository snapshot in the reference's terms; the code lists
    * themselves are lossy, so a rebuild by definition starts from the
    * primary store, never from the codes.
    *
    * Swap protocol: the shared rebuild skeleton
    * ([[BucketSwap.rebuild]]) — a crashed mutation is recovered first
    * (an accounted-but-unmoved streamed batch lands rather than being
    * lost behind its recorded watermark), the whole new tree — lists,
    * sidecars, AND its already-written state — stages at
    * `<path>_rebuild_tmp` while the live index keeps serving
    * (out-of-band = no downtime), and the tree swap renames it in.
    * A crash during staging leaves the live index untouched; a crash
    * between the renames leaves BOTH complete trees on disk under loud
    * names — never a half-mixed model. The at-least-once stream
    * watermark map (`appliedStreams`) carries over: a rebuild must not
    * reopen replay windows for an ingest stream running against the
    * index.
    *
    * Concurrent-writer safety: a mutation that lands between the
    * `currentVecs` snapshot and the swap would exist only in the tree
    * being replaced — the reference serializes build under its
    * per-library write lock (index_service.py). Rename-based protocols
    * cannot fully replace that lock: the tree swap NARROWS the window
    * with two checks (abort before the renames, restore after the
    * move-aside), so an in-between mutation is caught unless it lands
    * inside the rename call itself. Deployments that cannot retry on
    * the loud error must quiesce writers for the swap, exactly as the
    * reference's lock does for the whole build.
    */
  def rebuild(currentVecs: DataFrame, indexPath: String): IndexStatus = {
    val spark = currentVecs.sparkSession
    BucketSwap.rebuild(spark, BucketSwap.lists(indexPath)) { (s, tmp) =>
      val meta = Pq.loadMeta(spark, indexPath)
      require(meta.m > 0, s"rebuild: $indexPath carries no IVF-PQ `_meta` record")
      val opq = Pq.loadRotation(spark, indexPath).isDefined
      val n = Pq.writeIvfPqFrom(currentVecs, tmp, meta.m, meta.metric, opq)
      val next = IndexStatus("ivfpq", isBuilt = true, isDirty = false, size = n,
        embeddingDim = s.embeddingDim, builtAt = System.currentTimeMillis(),
        version = s.version + 1, dirtyCount = 0L, totalVectors = n,
        appliedStreams = s.appliedStreams)
      IndexLifecycle.writeState(spark, tmp, next)
      next
    }
  }

  /** Distribution-based rebuild signal — A25's drift flags applied as
    * a POLICY (closing the second rebuild loop the way round 9 closed
    * the count-based one): diff the current contents' per-cluster
    * residual profile against the `_profile` sidecar the last
    * build/rebuild wrote, through the ONE diff arithmetic the A25
    * dashboard uses (DriftReport.diffProfiles — policy and dashboard
    * cannot disagree on what "drifted" means). Fires when any
    * cluster's corpus share or mean residual more than doubled —
    * arrivals piling into few lists, or landing far from their frozen
    * centroid (a new domain / embedding-model change), both of which
    * the count-based dirty ratio is blind to. Indexes built before the
    * sidecar existed return false (no baseline, no signal).
    */
  def driftShouldRebuild(currentVecs: DataFrame, indexPath: String): Boolean = {
    val spark = currentVecs.sparkSession
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_profile")
    if (!IndexLifecycle.fs(spark, indexPath).exists(p)) false
    else {
      val metric = Pq.loadMeta(spark, indexPath).metric
      val centroids = IndexLifecycle.loadCentroids(spark, indexPath)
      val base = spark.read.parquet(s"$indexPath/_profile")
      val cur = Pq
        .residualProfileOf(Ivf.metricTransform(currentVecs, metric), centroids,
          Ivf.loadHierarchy(spark, indexPath, centroids))
        .select(col("cluster_id"), col("n").as("n_cur"), col("rsum").as("rsum_cur"))
      // growth needs a real arrival MASS: a cluster with no baseline
      // row (empty at build) satisfies the share-doubling inequality
      // from its first vector, and a policy that pays a full
      // retrain+re-encode for one stray row is not a policy — the
      // dashboard keeps the raw by-construction flag, the policy
      // floors it. resid_flag is 0>0-safe at n_base=0 as-is.
      DriftReport.diffProfilesLazy(base, cur)
        .filter((col("growth_flag") === 1L &&
            col("n_cur") >= DriftGrowthMinRows) ||
          col("resid_flag") === 1L)
        .limit(1).count() > 0
    }
  }

  /** Minimum cluster size for the POLICY's growth trigger (the
    * dashboard's flag stays unfloored — zeros there are auditable).
    */
  val DriftGrowthMinRows = 64L

  /** The combined rebuild policy: the reference's count-based dirty
    * ratio (index_service.py:88-99) OR the drift flags over the
    * persisted profile. `rebuild` refreshes the profile with the swap,
    * so a fired signal clears itself — the loop is closed.
    */
  def shouldRebuildWithDrift(currentVecs: DataFrame, indexPath: String,
                             threshold: Double = IndexLifecycle.RebuildThreshold): Boolean =
    IndexLifecycle.status(currentVecs.sparkSession, indexPath)
      .shouldRebuild(threshold) ||
      driftShouldRebuild(currentVecs, indexPath)

  /** Driver query: the IVF-PQ lifecycle state machine end-to-end as one
    * deterministic table — build, append (sub-threshold dirt), delete
    * (crossing the threshold), and an on-disk read-back proving the
    * code lists really grew and shrank. Every transition is arithmetic
    * on the corpus size, so the key is oracle-checked, not rows-only.
    */
  def ivfpqLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_lc")
    val tmp = tmpDir.toString
    try {
      val n = Tables.embeddingsCount(spark, dir)
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val s1 = build(spark, dir, tmp)
      // append: the first ceil(0.05·n) vectors re-keyed past the corpus
      // (new ids, existing vector content — deterministic at any SF)
      val d = math.ceil(0.05 * n).toLong
      val s2 = append(
        vecs.filter(col("id") < d).select((col("id") + n).as("id"), col("vec")), tmp)
      // delete every 7th ORIGINAL id: dirt (d + n/7)/n crosses 0.1
      val s3 = delete(vecs.filter(col("id") % 7 === 0).select("id"), tmp)
      val s4 = s3.copy(size = spark.read.parquet(tmp).count()) // read-back
      import spark.implicits._
      Seq(s1, s2, s3, s4).zipWithIndex
        .map { case (s, i) =>
          (i + 1, s.version, s.isDirty, s.dirtyCount, s.size,
            s.shouldRebuild(IndexLifecycle.RebuildThreshold)) }
        .toDF("phase", "version", "is_dirty", "dirty_count", "size", "should_rebuild")
        .orderBy("phase")
        // localCheckpoint (eager) materializes before the temp index is
        // deleted below; its blocks are GC'd with the DataFrame, unlike
        // a cache() registration the CacheManager would hold forever
        .localCheckpoint()
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  /** d = ceil(0.05·n) appended (below the 0.1 threshold), r = every 7th
    * original deleted (crossing it); phase 4 re-reads size from disk.
    */
  def ivfpqLifecycleOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(ceil(0.05*count(*)) AS BIGINT) AS d,
      |  CAST(count(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT) AS r FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, false AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d, n + d, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d + r, n + d - r, (1.0*(d+r)/n >= 0.1) FROM p
      |UNION ALL SELECT 4, 1, true, d + r, n + d - r, (1.0*(d+r)/n >= 0.1) FROM p
      |ORDER BY phase""".stripMargin
}
