package graft.operators

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Index lifecycle state for a persisted IVF index, mirroring the
  * reference's IndexService/IndexState (stackai-vector-db
  * app/services/index_service.py:56-198): version, built_at, size,
  * dirty tracking, and the `should_rebuild` dirty-ratio policy
  * (threshold 0.1, app/core/config.py:58).
  */
case class IndexStatus(
    algorithm: String,
    isBuilt: Boolean,
    isDirty: Boolean,
    size: Long,
    embeddingDim: Int,
    builtAt: Long,
    version: Int,
    dirtyCount: Long,
    totalVectors: Long,
    /** At-least-once replay watermarks, one PER STREAM IDENTITY (the
      * Delta txn appId+version pattern kept faithfully: a single
      * last-writer pair would let two interleaved streams displace
      * each other's watermark and re-land replayed batches). Keys are
      * caller stream ids verbatim; values the highest applied batch.
      * Typed ListMap so least-recently-updated-first iteration order
      * (which the retention bound's eviction relies on) is an
      * invariant of the type, not a convention a HashMap-constructing
      * caller could silently break.
      */
    appliedStreams: scala.collection.immutable.ListMap[String, Long] =
      scala.collection.immutable.ListMap.empty) {

  /** Highest batch applied by `streamId` (-1 = none). Legacy states
    * (pre-map format) persisted ONE (applied_stream_id, batch) pair;
    * the parser keys that watermark under its persisted id, so a
    * resumed pre-upgrade checkpoint keeps its replay guard with
    * neither duplicates nor loss. The legacy watermark is deliberately
    * NOT applied as a floor to OTHER stream ids: any such floor
    * converts a duplicate-row hazard into a DATA-LOSS hazard (a
    * genuinely new stream's batches 0..floor silently skipped — and
    * since none of its batches can land while under the floor, the
    * map never gains its keyed entry, so the loss window never
    * closes).
    */
  def appliedBatchFor(streamId: String): Long =
    appliedStreams.getOrElse(streamId, -1L)

  /** Record `b` as `streamId`'s watermark with BOUNDED retention
    * (Delta's txn-retention concern: D12-style callers key streams by
    * checkpoint path, so a long-lived index would otherwise accumulate
    * one entry per streaming run in state.json forever). The map is
    * kept in least-recently-updated-first order (re-recording moves an
    * entry to the back) and capped at [[IndexStatus.MaxAppliedStreams]];
    * eviction drops the entry idle longest. An evicted stream that
    * later replays re-lands its batch — the same bounded-retention
    * trade Delta documents for VACUUM'd txn ids; a stream that has
    * been idle across that many OTHER streams' appends is dead in any
    * real deployment.
    */
  def withAppliedBatch(streamId: String, b: Long): IndexStatus = {
    // rebuilt as an explicit insertion-ordered ListMap: the default
    // Map implementations only preserve iteration order incidentally
    val lru = appliedStreams.toSeq.filterNot(_._1 == streamId) :+ (streamId -> b)
    copy(appliedStreams = scala.collection.immutable.ListMap.from(
      lru.takeRight(IndexStatus.MaxAppliedStreams)))
  }

  /** index_service.py:88-99: rebuild when unbuilt, empty, or the dirty
    * ratio reaches the threshold.
    */
  def shouldRebuild(threshold: Double): Boolean =
    !isBuilt || totalVectors == 0 ||
      dirtyCount.toDouble / math.max(totalVectors, 1L) >= threshold
}

object IndexStatus {
  /** Watermark-map retention bound — see [[IndexStatus.withAppliedBatch]]. */
  val MaxAppliedStreams = 64
}

/** Persisted index lifecycle over the cluster-partitioned IVF layout.
  *
  * Layout under `indexPath`:
  *   - `cluster_id=N` directories: inverted lists (Ivf.writeIndex
  *     layout — readers of the lists are unaffected by the extras below
  *     because parquet readers skip underscore-prefixed paths)
  *   - `_centroids/`  the coarse quantizer as (cid, cvec) parquet, so
  *     an index outlives the session that built it
  *   - `_state/state.json` the lifecycle record
  *
  * The reference guards its mutable snapshot with an RW-lock; the batch
  * twin gets the same atomicity from immutable versioned state — every
  * build swaps in a fresh lists+centroids+state trio, and `markDirty`
  * only touches the tiny state file. The contract for mutation
  * pipelines (upsert compaction, cascade delete): call `markDirty`
  * with the number of changed rows after landing the change;
  * `buildIfNeeded` is the lazy-rebuild policy applied at read time,
  * exactly the reference's serving flow (IndexLifecycleSpec exercises
  * the full sequence).
  */
object IndexLifecycle {

  /** app/core/config.py:58. */
  val RebuildThreshold = 0.1

  private[operators] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def statePath(indexPath: String) = new Path(s"$indexPath/_state/state.json")

  /** Stream ids are HEX-ENCODED in the state file: ids are free-form
    * caller strings (checkpoint paths), and the regex field parser
    * below truncates at ',', '}' or '"' — a comma in a path would
    * silently corrupt the replay guard. Hex keys are [0-9a-f]+ by
    * construction, so no escaping question can ever arise.
    */
  private def hexEncode(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def hexDecode(h: String): String =
    new String(h.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray, "UTF-8")

  private[graft] def writeState(spark: SparkSession, indexPath: String, s: IndexStatus): Unit = {
    val p = statePath(indexPath)
    val f = fs(spark, indexPath)
    // insertion order preserved (NOT key-sorted): the map is LRU-ordered
    // by withAppliedBatch and the parser reads entries back in file order
    val streams = s.appliedStreams.toSeq
      .map { case (id, b) => s""""${hexEncode(id)}":$b""" }.mkString(",")
    val json =
      s"""{"algorithm":"${s.algorithm}","is_built":${s.isBuilt},"is_dirty":${s.isDirty},
         |"size":${s.size},"embedding_dim":${s.embeddingDim},"built_at":${s.builtAt},
         |"version":${s.version},"dirty_count":${s.dirtyCount},"total_vectors":${s.totalVectors},
         |"applied_streams":{$streams}}"""
        .stripMargin.replace("\n", "")
    val out = f.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Unbuilt default state (reference IndexState(): is_dirty=true,
    * version 0).
    */
  private val Unbuilt =
    IndexStatus("ivf", isBuilt = false, isDirty = true, size = 0L,
      embeddingDim = 0, builtAt = 0L, version = 0, dirtyCount = 0L, totalVectors = 0L)

  def status(spark: SparkSession, indexPath: String): IndexStatus = {
    val p = statePath(indexPath)
    val f = fs(spark, indexPath)
    if (!f.exists(p)) Unbuilt
    else {
      val in = f.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      def fieldOpt(name: String): Option[String] =
        ("\"" + name + "\":\"?([^,}\"]*)").r.findFirstMatchIn(json).map(_.group(1))
      def field(name: String): String =
        fieldOpt(name).getOrElse(sys.error(s"bad state file: missing $name"))
      // watermark map: hex keys parse with a plain character-class
      // regex, FILE ORDER preserved (the retention bound evicts the
      // least-recently-updated entry, so order is state); a LEGACY
      // single-pair field (pre-map states) keys its watermark under the
      // persisted applied_stream_id — "" only when that field is
      // genuinely absent — so a resumed pre-upgrade checkpoint keeps
      // its replay guard with neither duplicates nor loss
      val streams: scala.collection.immutable.ListMap[String, Long] =
        """"applied_streams":\{([^}]*)\}""".r.findFirstMatchIn(json)
          .map(_.group(1)) match {
          case Some(body) =>
            scala.collection.immutable.ListMap.from(
              """"([0-9a-f]*)":(-?\d+)""".r.findAllMatchIn(body)
                .map(m => hexDecode(m.group(1)) -> m.group(2).toLong))
          case None =>
            val b = fieldOpt("applied_stream_batch").map(_.toLong).getOrElse(-1L)
            if (b < 0) scala.collection.immutable.ListMap.empty[String, Long]
            else {
              // pre-map states DID persist their stream id (raw, not hex
              // — see the pre-upgrade writeState); keying the legacy
              // watermark under that id keeps the replay guard for a
              // resumed pre-upgrade checkpoint with neither duplicates
              // nor loss. "" only when the field is genuinely absent.
              val legacyId = fieldOpt("applied_stream_id").getOrElse("")
              scala.collection.immutable.ListMap(legacyId -> b)
            }
        }
      IndexStatus(field("algorithm"), field("is_built").toBoolean,
        field("is_dirty").toBoolean, field("size").toLong,
        field("embedding_dim").toInt, field("built_at").toLong,
        field("version").toInt, field("dirty_count").toLong,
        field("total_vectors").toLong, streams)
    }
  }

  /** Record `n` changed rows against the index (index_service.mark_dirty;
    * the batch analog marks a whole mutation batch at once).
    */
  def markDirty(spark: SparkSession, indexPath: String, n: Long = 1L): IndexStatus = {
    val s = status(spark, indexPath)
    val next = s.copy(isDirty = true, dirtyCount = s.dirtyCount + n)
    writeState(spark, indexPath, next)
    next
  }

  /** Build (version+1) the index for `vecs` (id, vec) at `indexPath`:
    * k-means lists partitioned by cluster_id + persisted centroids +
    * fresh state. The swap is the batch twin of the reference's atomic
    * snapshot replacement (index_service.py:270-284). Pass `corpusDir`
    * when `vecs` came from a testdata/sf dir: the rebuild then drops
    * every session memo for that dir (graft.Memo.invalidate), so a
    * data change can never serve stale memoized results afterwards.
    * `kOpt` overrides the √(n/2) cluster-count heuristic — the state
    * machine itself is k-independent, so demo/driver flows use a small
    * fixed k rather than paying two full-k builds.
    */
  def build(vecs: DataFrame, indexPath: String,
            corpusDir: Option[String] = None,
            kOpt: Option[Int] = None): IndexStatus = ServingState.writing(indexPath) {
    val spark = vecs.sparkSession
    // every per-corpus session memo drops on a data change
    corpusDir.foreach(graft.Memo.invalidate)
    val prev = status(spark, indexPath)
    val v = vecs.cache()
    val n = v.count()
    val dim = if (n == 0) 0 else v.select(size(col("vec"))).head().getInt(0)
    writeCentroids(spark, indexPath, Ivf.writeIndexFrom(v, indexPath, kOpt))
    val next = IndexStatus("ivf", isBuilt = true, isDirty = false, size = n,
      embeddingDim = dim, builtAt = System.currentTimeMillis(),
      version = prev.version + 1, dirtyCount = 0L, totalVectors = n)
    writeState(spark, indexPath, next)
    v.unpersist()
    next
  }

  /** Incremental update: assign `newVecs` (id, vec) to the EXISTING
    * quantizer and append them to the cluster-partitioned lists — no
    * retrain, queries see the new vectors immediately (the reference's
    * incremental add, tests/test_indexes.py
    * test_incremental_updates_efficient). The growth is recorded as
    * dirt against the as-of-build total, so the dirty-ratio policy
    * decides when the quantizer itself is retrained.
    */
  def append(newVecs: DataFrame, indexPath: String): IndexStatus = {
    val spark = newVecs.sparkSession
    val tree = BucketSwap.lists(indexPath)
    // the frozen quantizer from the serving state (through the
    // persisted hierarchy when the build was two-level)
    lazy val st = ServingState.ivf(spark, indexPath)
    BucketSwap.append(spark, tree)(newVecs) { v =>
      // the batch size and its dimensions in one job: the assignment's
      // distance would silently truncate a vector of another dimension
      val r = v.agg(count(lit(1)), min(size(col("vec"))), max(size(col("vec")))).head()
      val dim = st.centroids.head.length
      require(r.getLong(0) == 0 || (r.getInt(1) == dim && r.getInt(2) == dim),
        s"append: vector dim ${r.get(1)}..${r.get(2)} != index dim $dim")
      (r.getLong(0), ())
    } { (v, _, next) =>
      BucketSwap.landRows(spark, tree, Ivf.assignToQ(v, st.centroids, st.hierarchy), next)
    }
  }

  /** Driver demo for compact(): build, two appends (each lands its own
    * part-files in the touched lists), compact, then prove row
    * conservation by a full disk read-back per phase. The oracle
    * recomputes the expected totals arithmetically from the corpus —
    * the read-back after compaction hash-matching it IS the
    * "compaction loses nothing" check. File-count behavior (affected
    * lists collapse to one file, untouched lists keep their very
    * files, idempotence) is pinned in IndexLifecycleSpec.
    */
  def indexCompact(spark: SparkSession, dir: String): DataFrame =
    compactDemo(spark, dir, "graft_compact",
      (vecs, tmp) => { build(vecs, tmp, kOpt = Some(DemoK)); () },
      (batch, tmp) => { append(batch, tmp); () })

  /** The shared compaction driver body (A20 and A19c differ ONLY in
    * which family builds/appends — the arithmetic, the read-backs and
    * therefore the ONE oracle are structural, not by-convention):
    * build, two appends (each lands one extra part-file in every
    * touched bucket), compact at maxFiles=1, row-conservation
    * read-backs before and after.
    */
  private[operators] def compactDemo(spark: SparkSession, dir: String,
                                     tmpPrefix: String,
                                     buildIdx: (DataFrame, String) => Unit,
                                     appendIdx: (DataFrame, String) => Unit): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory(tmpPrefix)
    val tmp = tmpDir.toString
    try {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val n = vecs.count()
      val d1 = math.ceil(0.03 * n).toLong
      val d2 = math.ceil(0.02 * n).toLong
      buildIdx(vecs, tmp)
      appendIdx(vecs.filter(col("id") < d1)
        .select((col("id") + n).as("id"), col("vec")), tmp)
      appendIdx(vecs.filter(col("id") < d2)
        .select((col("id") + n + d1).as("id"), col("vec")), tmp)
      def readBack: Long = spark.read.parquet(tmp).count()
      val before = readBack
      // every bucket the appends touched now holds >1 part file
      compact(spark, tmp, maxFiles = 1)
      val after = readBack
      import spark.implicits._
      Seq((1, n + d1 + d2, before), (2, n + d1 + d2, after))
        .toDF("phase", "expected_rows", "total_rows")
        .orderBy("phase")
        .localCheckpoint()
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  def indexCompactOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(ceil(0.03*count(*)) AS BIGINT) AS d1,
      |  CAST(ceil(0.02*count(*)) AS BIGINT) AS d2 FROM embeddings)
      |SELECT 1 AS phase, n + d1 + d2 AS expected_rows, n + d1 + d2 AS total_rows FROM p
      |UNION ALL SELECT 2, n + d1 + d2, n + d1 + d2 FROM p
      |ORDER BY phase""".stripMargin

  /** Small-files compaction — the maintenance pass a continuously-fed
    * index needs: every append lands one part-file per touched list
    * (crash-consistent, but accretive), and at 100 TB a list with
    * thousands of tiny files pays a task + footer read per file on
    * every probe (the classic small-files wall). compact() rewrites
    * ONLY the lists whose part-file count exceeds `maxFiles`, one file
    * per list, through the same bucket swap as delete
    * ([[BucketSwap.compact]]): rows are preserved exactly, untouched
    * lists keep their very files, a crash mid-swap leaves the marker
    * every serve/mutate path refuses, and state is NOT touched —
    * compaction is content-neutral (no dirt, no size change, no
    * version bump). The lists are read under the schema their part
    * files record, so no inference job runs. Returns the number of
    * lists rewritten.
    */
  def compact(spark: SparkSession, indexPath: String, maxFiles: Int = 4): Int = {
    val tree = BucketSwap.lists(indexPath)
    BucketSwap.intact(spark, tree, "compact")
    BucketSwap.compact(spark, tree, tree.lists, maxFiles,
      BucketSwap.recordedSchema(spark, tree.lists))
  }

  /** Lazy rebuild policy: rebuild only when `shouldRebuild` says so,
    * otherwise return the current state untouched.
    */
  def buildIfNeeded(vecs: DataFrame, indexPath: String,
                    threshold: Double = RebuildThreshold,
                    corpusDir: Option[String] = None,
                    kOpt: Option[Int] = None): IndexStatus = {
    val s = status(vecs.sparkSession, indexPath)
    if (s.shouldRebuild(threshold)) build(vecs, indexPath, corpusDir, kOpt) else s
  }

  /** Point delete (the reference's remove_vector, app/indexes/base.py:46
    * and ivf.py:198-212: drop the vector from every inverted list, keep
    * serving without a rebuild). The batch twin is a broadcast anti-join
    * that REWRITES ONLY THE AFFECTED cluster partitions: one bounded
    * aggregation finds which lists contain a deleted id (partition-
    * pruned scan), only those partitions are rewritten into a temp area
    * and directory-swapped in, and the removals are recorded as dirt so
    * the dirty-ratio policy eventually retrains the quantizer around
    * the holes. Ids not present in the index are a no-op (the
    * reference's `return False`). At 100 TB this touches
    * O(deleted-clusters) data, never the corpus.
    */
  def delete(deleteIds: DataFrame, indexPath: String): IndexStatus =
    deleteFrom(deleteIds, indexPath, idCol = "neighbor_id")

  /** The partition-rewrite delete over any cluster-partitioned list
    * layout — raw-vector lists key their rows as `neighbor_id`
    * (Ivf.writeIndex), IVF-PQ code lists as `id` (Pq.writeIvfPq); the
    * rewrite, the swap and the dirt accounting are identical.
    */
  /** `bucketHint`: for layouts whose partition key is COMPUTABLE from
    * the row id (the TierLifecycle flat tiers: cluster_id = id mod
    * buckets), the caller passes the deleted ids' bucket set and BOTH
    * the hits scan and the rewrite read only those partitions
    * (partition-pruned at the source — at 100 TB a point delete then
    * touches one bucket, never the tree). Content-assigned layouts
    * (IVF lists) cannot know their partitions a priori and pass None.
    */
  private[operators] def deleteFrom(deleteIds: DataFrame, indexPath: String,
                                    idCol: String,
                                    bucketHint: Option[Seq[Int]] = None): IndexStatus = {
    val spark = deleteIds.sparkSession
    val tree = BucketSwap.lists(indexPath)
    val s = BucketSwap.intact(spark, tree, "delete")
    // distinct: duplicate ids in the delete batch must not inflate the
    // removed count (the anti-join itself is idempotent, but size/
    // dirtyCount would silently drift — even below zero on repeats)
    val ids = broadcast(deleteIds.select(col("id").as("del_id")).distinct())
    val lists0 = spark.read.parquet(indexPath)
    val lists = bucketHint.fold(lists0)(h =>
      lists0.filter(col("cluster_id").isInCollection(h)))
    val hits = lists.join(ids, col(idCol) === col("del_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .collect()
    if (hits.isEmpty) return s
    val affected = hits.map(_.get(0).toString.toInt).toSeq
    val removed = hits.map(_.getLong(1)).sum
    val staged = s"${tree.staging}/rewrite"
    BucketSwap.stage(spark, tree) {
      lists.filter(col("cluster_id").isInCollection(affected))
        .join(ids, col(idCol) === col("del_id"), "left_anti")
        .repartition(col("cluster_id")) // one file per rewritten list
        .write.mode("overwrite").partitionBy("cluster_id").parquet(staged)
    }
    // a fully-deleted list simply disappears (no staged dir to swap in)
    val next = s.copy(isDirty = true,
      dirtyCount = s.dirtyCount + removed, size = s.size - removed)
    BucketSwap.land(spark, tree, Some(next), Seq(BucketSwap.Rewrite(tree.lists, staged, affected)))
    next
  }

  /** Make a crashed mutation of a `cluster_id=` tree whole IN PLACE
    * ([[BucketSwap.recover]]): a crashed tree swap or bucket swap is
    * undone, an append the state already accounts for (watermark
    * included) moves in — hand-clearing the marker would lose a
    * streamed batch forever, since its replay NO-OPs against the
    * recorded watermark — and the state's size is re-pointed at the
    * disk. Called automatically at rebuild entry (PqLifecycle.rebuild /
    * TierLifecycle.rebuild); serve and append/delete keep REFUSING on
    * the markers, the loud guard. Returns true when anything was
    * repaired.
    */
  def recoverMutation(spark: SparkSession, indexPath: String): Boolean =
    BucketSwap.recover(spark, BucketSwap.lists(indexPath))

  /** Centroids of a persisted index (the coarse quantizer survives the
    * building session).
    */
  def loadCentroids(spark: SparkSession, indexPath: String): Array[Array[Float]] =
    readSidecar(spark, s"$indexPath/_centroids", "cid INT, cvec ARRAY<FLOAT>")
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)

  /** Persist an index's coarse centroids as its `_centroids` sidecar
    * (every tree kind: IVF, IVF-PQ, graph), the table [[loadCentroids]]
    * reads.
    */
  private[operators] def writeCentroids(spark: SparkSession, indexPath: String,
                                        centroids: Array[Array[Float]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_centroids")
  }

  /** All rows of a small sidecar table, read under the schema its
    * writer gives it: one collect job, where schema inference plus a
    * distributed sort cost four. Sidecar keys are unique, so callers
    * sort on the driver into the same order. Columns a table predates
    * read as null. The part files are listed on the driver and read
    * as explicit paths: Spark treats the `_`-prefixed sidecar dir
    * itself as hidden. A sidecar with no part file has no rows.
    */
  private[operators] def readSidecar(spark: SparkSession, path: String,
                                     ddl: String): Array[Row] = {
    val parts = fs(spark, path).listStatus(new Path(path)).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(_.toString)
    if (parts.isEmpty) Array.empty
    else spark.read.schema(ddl).parquet(parts.toIndexedSeq: _*).collect()
  }

  /** Query a lifecycle-managed index: [[Ivf.queryIndex]], which
    * refuses an index left inconsistent by a crashed mutation and
    * serves from the tree's open-once state.
    */
  def query(spark: SparkSession, indexPath: String, queryVec: Array[Float],
            k: Int, nprobe: Int): DataFrame =
    Ivf.queryIndex(spark, indexPath, queryVec, k, nprobe)

  /** Cluster count for the driver's lifecycle/delete state-machine
    * queries. The transitions are k-independent (pure arithmetic on the
    * corpus size), so the demo runs its builds at a small fixed k
    * instead of paying two full √(n/2)-cluster k-means per bench pass.
    */
  val DemoK = 8

  /** Driver query: the lifecycle state machine over the embeddings
    * corpus as one deterministic table — build, sub-threshold dirt
    * (no rebuild), accumulated dirt crossing the threshold, rebuild.
    * Oracle-checkable because every transition is arithmetic on the
    * corpus size.
    */
  def indexLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_lifecycle")
    val tmp = tmpDir.toString
    try {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // corpusDir = None: this demo builds a SIDECAR index over an
      // unchanged corpus — the memo-invalidation hook is for actual
      // data changes (spec-covered in IndexLifecycleSpec); wiping the
      // session memo here would just bill a rebuild to whichever
      // ivf-backed query runs next in the bench
      val s1 = build(vecs, tmp, kOpt = Some(DemoK))
      val d = math.ceil(0.05 * s1.size).toLong
      val s2 = markDirty(spark, tmp, d)
      val s3 = buildIfNeeded(vecs, tmp) // below threshold: no-op
      val s4 = markDirty(spark, tmp, d) // crosses threshold
      val s5 = buildIfNeeded(vecs, tmp, kOpt = Some(DemoK)) // rebuilds, version 2
      import spark.implicits._
      Seq(s1, s2, s3, s4, s5).zipWithIndex
        .map { case (s, i) =>
          (i + 1, s.version, s.isDirty, s.dirtyCount, s.size, s.shouldRebuild(RebuildThreshold)) }
        .toDF("phase", "version", "is_dirty", "dirty_count", "size", "should_rebuild")
        .orderBy("phase")
        // localCheckpoint (eager) materializes before the temp index is
        // deleted below; its blocks are GC'd with the DataFrame, unlike
        // a cache() registration the CacheManager would hold forever
        .localCheckpoint()
    } finally {
      // the state table is tiny and checkpointed; the two full index
      // copies under /tmp must not outlive the query (repeated bench
      // runs would otherwise fill the disk)
      graft.streaming.Streams.deleteTree(tmpDir)
    }
  }

  /** Driver query: the point-delete path end-to-end — build, anti-join
    * delete of every 7th vector (rewriting only the affected cluster
    * partitions), then a read-back of the persisted lists proving they
    * really shrank. Phase 3's `size` column comes from scanning the
    * on-disk index, not from the state file, so a delete that failed to
    * rewrite the lists cannot pass the oracle.
    */
  def indexDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_delete")
    val tmp = tmpDir.toString
    try {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // corpusDir = None: sidecar index, unchanged corpus (see
      // indexLifecycle)
      val s1 = build(vecs, tmp, kOpt = Some(DemoK))
      val s2 = delete(vecs.filter(col("id") % 7 === 0).select("id"), tmp)
      val survivors = spark.read.parquet(tmp).count()
      val s3 = s2.copy(size = survivors)
      import spark.implicits._
      Seq(s1, s2, s3).zipWithIndex
        .map { case (s, i) =>
          (i + 1, s.version, s.isDirty, s.dirtyCount, s.size, s.shouldRebuild(RebuildThreshold)) }
        .toDF("phase", "version", "is_dirty", "dirty_count", "size", "should_rebuild")
        .orderBy("phase")
        // localCheckpoint (eager) materializes before the temp index is
        // deleted below; its blocks are GC'd with the DataFrame, unlike
        // a cache() registration the CacheManager would hold forever
        .localCheckpoint()
    } finally graft.streaming.Streams.deleteTree(tmpDir)
  }

  /** Every 7th vec_id is deleted; dirty ratio d/n = ~1/7 crosses the
    * 0.1 rebuild threshold, so phases 2-3 report should_rebuild.
    */
  def indexDeleteOracleSql: String =
    """WITH p AS (SELECT count(*) AS n,
      |  CAST(count(*) FILTER (WHERE vec_id % 7 = 0) AS BIGINT) AS d FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, false AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d, n - d, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d, n - d, (1.0*d/n >= 0.1) FROM p
      |ORDER BY phase""".stripMargin

  def indexLifecycleOracleSql: String =
    """WITH p AS (SELECT count(*) AS n, CAST(ceil(0.05*count(*)) AS BIGINT) AS d FROM embeddings)
      |SELECT 1 AS phase, 1 AS version, false AS is_dirty, CAST(0 AS BIGINT) AS dirty_count,
      |       n AS size, (1.0*0/n >= 0.1) AS should_rebuild FROM p
      |UNION ALL SELECT 2, 1, true, d, n, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 3, 1, true, d, n, (1.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 4, 1, true, 2*d, n, (2.0*d/n >= 0.1) FROM p
      |UNION ALL SELECT 5, 2, false, CAST(0 AS BIGINT), n, false FROM p
      |ORDER BY phase""".stripMargin
}
