package graft.operators

import graft.Tables
import graft.functions.VectorMetric
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** The persisted flat quantized tiers (SQ8 / BQ / PCA — A19b/A21b/A22b)
  * behind one lifecycle: build, frozen-model append, bucket-pruned
  * delete, disk query, rebuild, the lazy-rebuild policy and the
  * five-phase driver key, each taking the tier's [[TierCodec]]. One
  * bucketing rule, one state protocol and one landing path, so the
  * tiers cannot drift on the arithmetic (the dedupSurvivorsOn seam
  * principle applied to lifecycles); a codec keeps only what is its
  * own: training, encode, sidecar format and the disk-query distance.
  *
  * All three layouts are `(cluster_id, id, <payload>)` parquet
  * partitioned by `cluster_id = id mod buckets` — these are FLAT scan
  * tiers (no coarse quantizer), so the partition key exists for
  * MUTATION locality, not probe pruning: deletes rewrite only the
  * buckets holding deleted ids (IndexLifecycle.deleteFrom), appends
  * land one file per touched bucket ([[BucketSwap.landRows]]).
  * The reference contract is the lazy/dirty-rebuild index service
  * (app/services/index_service.py:56-198).
  */
object TierLifecycle {

  /** Minimum bucket count; the actual count SCALES as
    * max(16, √(n/2)) — the IVF list-count growth — because a fixed 16
    * at 100 TB would make a point delete rewrite n/16 rows (~6 TB);
    * with √n buckets a rewrite touches O(√n) rows, the same locality
    * class as the cluster-partitioned tiers. The chosen count
    * persists in each tier's `_meta` so appends land in the SAME
    * bucketing the build used.
    */
  val MinBuckets = 16

  def bucketsFor(n: Long): Int = math.max(MinBuckets, Ivf.defaultK(n))

  def bucketOf(c: Column, buckets: Int): Column =
    pmod(c, lit(buckets.toLong)).cast("int")

  /** The lists' schema, which every writer fixes (ids land as BIGINT),
    * so a disk query reads it without an inference job.
    */
  private def listSchema(codec: TierCodec[_]): String =
    s"cluster_id INT, id BIGINT, ${codec.payload} ${codec.payloadType}"

  private val longId = col("id").cast("long").as("id")

  /** Build (version+1) from the session corpus: the codec's memoized
    * model and codes, landed bucket-partitioned with their sidecars.
    */
  def build[M](codec: TierCodec[M], spark: SparkSession, dir: String,
               indexPath: String): IndexStatus = {
    val (m, rows) = codec.corpus(spark, dir)
    val prev = IndexLifecycle.status(spark, indexPath)
    land(codec, m, rows, Tables.embeddingsCount(spark, dir), indexPath,
      prev.version + 1, ListMap.empty)
  }

  /** The one landing path of a build and a rebuild: bucket-partition
    * the encoded `rows` (id, payload), write the lists, the codec's
    * sidecars, then the state — state LAST, so a crash mid-land leaves
    * an unbuilt status, never a built status over half a tree.
    */
  private def land[M](codec: TierCodec[M], m: M, rows: DataFrame, n: Long,
                      path: String, version: Int,
                      streams: ListMap[String, Long])
      : IndexStatus = {
    val spark = rows.sparkSession
    val buckets = bucketsFor(n)
    rows.select(bucketOf(col("id"), buckets).as("cluster_id"), longId,
        col(codec.payload))
      .repartition(col("cluster_id")) // one file per bucket
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    codec.writeSidecars(spark, m, buckets, path)
    val next = IndexStatus(codec.kind, isBuilt = true, isDirty = false, size = n,
      embeddingDim = codec.dim(m), builtAt = System.currentTimeMillis(),
      version = version, dirtyCount = 0L, totalVectors = n,
      appliedStreams = streams)
    IndexLifecycle.writeState(spark, path, next)
    next
  }

  /** Incremental add: encode `newVecs` (id, vec — RAW floats) against
    * the FROZEN sidecar model (no retrain: drift only degrades the
    * codes, which the dirty-ratio policy answers with a rebuild) and
    * land the rows crash-consistently ([[BucketSwap.append]]).
    * Growth is dirt against the as-of-build total.
    * `streamBatchId`/`streamId` are the at-least-once replay guard for
    * foreachBatch callers (the PqLifecycle.append contract verbatim):
    * the per-stream watermark is recorded in the SAME state write the
    * landing does before moving files in, so a replayed batch sees its
    * own stream's watermark >= batchId and NO-OPs before paying the
    * model load or the encode.
    */
  def append[M](codec: TierCodec[M], newVecs: DataFrame, indexPath: String,
                streamBatchId: Option[Long] = None,
                streamId: Option[String] = None): IndexStatus = {
    val spark = newVecs.sparkSession
    val tree = BucketSwap.lists(indexPath)
    BucketSwap.append(spark, tree, streamBatchId, streamId)(newVecs)(BucketSwap.count) {
      (v, _, next) =>
        val (m, buckets) = codec.readSidecars(spark, indexPath)
        BucketSwap.landRows(spark, tree, v.select(
          bucketOf(col("id"), buckets).as("cluster_id"), longId,
          codec.encode(m, col("vec")).as(codec.payload)), next)
    }
  }

  /** Partition-pruned point delete: unlike a content-assigned layout
    * (IVF — which list holds a vector is unknowable without scanning),
    * these tiers COMPUTE each deleted id's bucket, so the shared
    * deleteFrom scans and rewrites only the affected partitions. The
    * bucket set is a tiny distinct over the delete batch (≤ buckets
    * values), never a corpus job. Needs only `_meta.buckets`, so no
    * codec.
    */
  def delete(deleteIds: DataFrame, indexPath: String): IndexStatus = {
    val spark = deleteIds.sparkSession
    BucketSwap.intact(spark, BucketSwap.lists(indexPath), "delete")
    val buckets = IndexLifecycle.readSidecar(spark, s"$indexPath/_meta",
      "buckets INT").head.getInt(0)
    val hint = deleteIds
      .select(bucketOf(col("id"), buckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    IndexLifecycle.deleteFrom(deleteIds, indexPath, idCol = "id",
      bucketHint = Some(hint))
  }

  /** Query the PERSISTED tree from disk: the codec's distance over the
    * stored payloads, bounded top-k. `refineWith` = the caller's raw
    * (id, vec) primary store stacks the exact re-rank under `metric`
    * over a k·refine shortlist (the in-session Bq.topK/Pca.topK
    * two-tier shape) — a codes-only tree by design carries no raw
    * vectors.
    */
  def query[M](codec: TierCodec[M], spark: SparkSession, indexPath: String,
               queryVec: Array[Float], k: Int,
               refineWith: Option[DataFrame] = None, refine: Int = 8,
               metric: Int = VectorMetric.L2): DataFrame = {
    // the loud precondition BEFORE touching the model sidecar: an
    // unbuilt or half-applied tree fails with the lifecycle's own
    // message, not a parquet path error from a missing `_model`; after
    // a crash inside a delete's bucket swap the bucket's rows live only
    // under an aside parquet readers skip, so a query that skipped it
    // would silently answer minus an entire bucket
    BucketSwap.intact(spark, BucketSwap.lists(indexPath), "query")
    val (m, _) = codec.readSidecars(spark, indexPath)
    require(queryVec.length == codec.dim(m),
      s"query dim ${queryVec.length} != index dim ${codec.dim(m)}")
    val shortlist = spark.read.schema(listSchema(codec)).parquet(indexPath)
      .select(col("id").as("neighbor_id"), codec.distance(m, queryVec).as("dist"))
      .orderBy(col("dist"), col("neighbor_id"))
    refineWith match {
      case None => shortlist.limit(k)
      case Some(raw) =>
        val exact = Ivf.distCol(metric, col("vec"), typedlit(queryVec.toSeq))
        shortlist.limit(k * math.max(1, refine)).select(col("neighbor_id"))
          .join(raw.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
          .select(col("neighbor_id"), exact.as("dist"))
          .orderBy(col("dist"), col("neighbor_id"))
          .limit(k)
    }
  }

  /** Out-of-band rebuild — the close of the reference's lazy-rebuild
    * loop (index_service.py:56-198, the exact policy PqLifecycle
    * .rebuild implements for IVF-PQ): when the dirty-ratio policy
    * fires, retrain the codec's model on the index's CURRENT logical
    * contents keeping the tree's persisted parameters (metric, reduced
    * dim), re-encode every vector under the new model, and land the
    * result as version+1 with dirt reset. `currentVecs` is the RAW
    * (id, vec) view of what the index should now hold (the stored
    * codes are lossy, so a rebuild by definition starts from the
    * primary store).
    *
    * The bucket count is re-derived from the new size (√(n/2) growth —
    * a rebuild is exactly when the layout gets to re-level itself),
    * and the shared rebuild skeleton ([[BucketSwap.rebuild]]) recovers
    * a crashed mutation first, stages the whole new tree at
    * `<path>_rebuild_tmp` while the live index keeps serving, and
    * swaps it in (abort-on-concurrent-mutation before and after the
    * move-aside, loud names on every crash window). The stream
    * watermark map carries over — a rebuild must not reopen replay
    * windows for an ingest stream running against the tier.
    */
  def rebuild[M](codec: TierCodec[M], currentVecs: DataFrame,
                 indexPath: String): IndexStatus = {
    val spark = currentVecs.sparkSession
    BucketSwap.rebuild(spark, BucketSwap.lists(indexPath)) { (s, tmp) =>
      val (old, _) = codec.readSidecars(spark, indexPath)
      val v = currentVecs.cache()
      try {
        val n = v.count()
        val m = codec.retrain(v, old)
        val rows = v.select(col("id"), codec.encode(m, col("vec")).as(codec.payload))
        land(codec, m, rows, n, tmp, s.version + 1, s.appliedStreams)
      } finally v.unpersist()
    }
  }

  /** The lazy-rebuild policy applied at read time (IndexLifecycle
    * .buildIfNeeded's contract on the tier seam — the reference's
    * serving flow, index_service.py:88-99): [[rebuild]] only when the
    * dirty-ratio policy says so,
    * otherwise return the current state untouched. Unlike
    * buildIfNeeded (which can BUILD a fresh path), a tier rebuild
    * retrains against an existing tree's metric/shape sidecars, so an
    * unbuilt path refuses loudly with the lifecycle's message rather
    * than tripping shouldRebuild's unbuilt arm into an opaque crash.
    *
    * This read-time entry is also the REPAIR point: recoverMutation
    * runs first, so a tree damaged by a crashed mutation whose
    * recorded dirt was sub-threshold (deleteFrom writes state LAST —
    * a mid-swap crash records nothing) is made whole here instead of
    * refusing serves forever while the policy sees nothing to do;
    * the recovery's own size-drift reconciliation lands as dirt,
    * which this very policy then answers.
    */
  def rebuildIfNeeded[M](codec: TierCodec[M], currentVecs: DataFrame,
                         indexPath: String,
                         threshold: Double = IndexLifecycle.RebuildThreshold)
      : IndexStatus = {
    val spark = currentVecs.sparkSession
    IndexLifecycle.recoverMutation(spark, indexPath)
    val s = IndexLifecycle.status(spark, indexPath)
    require(s.isBuilt,
      "rebuildIfNeeded requires a built index (build the tier first)")
    if (s.shouldRebuild(threshold)) rebuild(codec, currentVecs, indexPath) else s
  }

  /** Driver keys `sq8_lifecycle`, `bq_lifecycle`, `pca_lifecycle`: the
    * tier's state machine end-to-end as one deterministic table —
    * build, frozen-model append of ceil(0.05·n) re-keyed vectors,
    * delete of every 7th original (crossing the rebuild threshold),
    * disk read-back, and the REBUILD the fired policy asks for
    * (retrain on the current logical contents → version 2, dirt
    * reset, its own read-back) — so every tier key verifies against
    * the ONE shared oracle ([[tierLifecycleOracleSql]]: phases 1-4
    * are the A18b arithmetic verbatim, phase 5 closes the loop).
    */
  def fivePhase[M](spark: SparkSession, dir: String,
                   codec: TierCodec[M]): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory(s"graft_${codec.kind}_lc")
    val tmp = tmpDir.toString
    try {
      val n = Tables.embeddingsCount(spark, dir)
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val s1 = build(codec, spark, dir, tmp)
      val d = math.ceil(0.05 * n).toLong
      val appended = vecs.filter(col("id") < d)
        .select((col("id") + n).as("id"), col("vec"))
      val s2 = append(codec, appended, tmp)
      val s3 = delete(vecs.filter(col("id") % 7 === 0).select("id"), tmp)
      val s4 = s3.copy(size = spark.read.parquet(tmp).count()) // read-back
      // phase 3 crossed the threshold (should_rebuild fired) — run the
      // rebuild it asks for, on the index's current LOGICAL contents
      // (originals minus deletions, plus the appended arrivals), then
      // prove the re-encoded tree really landed with a disk read-back
      val current = vecs.filter(col("id") % 7 =!= 0).unionAll(appended)
      val s5 = rebuild(codec, current, tmp)
        .copy(size = spark.read.parquet(tmp).count()) // read-back
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

  /** A19c driver query: `tier_compact` — the A20 small-files
    * maintenance pass exercised on the flat-tier bucket layout. Every
    * frozen-model append lands ONE part-file per touched bucket
    * (BucketSwap.landRows — crash-consistent but accretive), so
    * a continuously-fed SQ8/BQ/PCA tree hits the same small-files wall
    * the IVF lists do: at 100 TB a bucket with thousands of tiny files
    * pays a task + footer read per file on every scan. The shared
    * compact (BucketSwap.compact through the A20 face —
    * threshold-gated, bucket-swapped, marker-refusing) answers it
    * identically: build the SQ8 tree, two appends (every touched
    * bucket now holds >1 part-file), compact at maxFiles=1, and a full
    * read-back per phase proving row conservation — the oracle
    * recomputes the expected totals arithmetically (A20's oracle
    * verbatim), so a compaction that lost or duplicated rows cannot
    * pass. File-count collapse, idempotence, and untouched-bucket
    * byte-identity are pinned in TierLifecycleSpec.
    */
  def tierCompact(spark: SparkSession, dir: String): DataFrame =
    IndexLifecycle.compactDemo(spark, dir, "graft_tier_compact",
      (_, tmp) => { build(Sq8Codec(), spark, dir, tmp); () },
      (batch, tmp) => { append(Sq8Codec(), batch, tmp); () })

  /** Same arithmetic as A20's oracle (same append fractions, same
    * row-conservation shape).
    */
  def tierCompactOracleSql: String = IndexLifecycle.indexCompactOracleSql

  /** The shared tier-lifecycle oracle: phases 1-4 are A18b's
    * arithmetic verbatim (d = ceil(0.05·n) appended, every 7th
    * original deleted, read-back); phase 5 is the rebuild — version 2,
    * clean, size = the rebuilt tree's n + d − r rows, policy reset.
    */
  def tierLifecycleOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(ceil(0.05*count(*)) AS BIGINT) AS d,
      |  CAST(count(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT) AS r FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, false AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d, n + d, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d + r, n + d - r, (1.0*(d+r)/n >= 0.1) FROM p
      |UNION ALL SELECT 4, 1, true, d + r, n + d - r, (1.0*(d+r)/n >= 0.1) FROM p
      |UNION ALL SELECT 5, 2, false, CAST(0 AS BIGINT), n + d - r, false FROM p
      |ORDER BY phase""".stripMargin
}
