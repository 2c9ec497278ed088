package graft

import graft.operators.{IndexLifecycle, Ivf}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle state machine + the stale-read guarantee: after a
  * marked-dirty rebuild, queries must see the new corpus.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def corpus(where: org.apache.spark.sql.Column) =
    Tables.embeddings(spark, sf).filter(where)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("state machine: version, dirty count, should_rebuild threshold") {
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    assert(IndexLifecycle.status(spark, path).shouldRebuild(0.1),
      "unbuilt index must demand a build")
    val s1 = IndexLifecycle.build(corpus(col("vec_id") >= 0), path)
    assert(s1.version == 1 && !s1.isDirty && s1.dirtyCount == 0 && s1.size == 500)
    assert(!s1.shouldRebuild(0.1))
    val s2 = IndexLifecycle.markDirty(spark, path, 25) // 5% of 500
    assert(s2.isDirty && s2.dirtyCount == 25 && !s2.shouldRebuild(0.1))
    val s3 = IndexLifecycle.buildIfNeeded(corpus(col("vec_id") >= 0), path)
    assert(s3.version == 1, "sub-threshold dirt must not rebuild")
    val s4 = IndexLifecycle.markDirty(spark, path, 25)
    assert(s4.shouldRebuild(0.1), "10% dirty crosses the threshold")
    val s5 = IndexLifecycle.buildIfNeeded(corpus(col("vec_id") >= 0), path)
    assert(s5.version == 2 && !s5.isDirty && s5.dirtyCount == 0)
    // status round-trips through the persisted state file
    assert(IndexLifecycle.status(spark, path) == s5)
  }

  test("stale reads are impossible after a marked-dirty rebuild") {
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    val qvec = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray

    // v1: corpus WITHOUT vector 0 — its true NN cannot be itself
    IndexLifecycle.build(corpus(col("vec_id") > 0), path)
    val before = IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0)
    assert(before != 0L)

    // vector 0 arrives: the mutation marks the index dirty; the next
    // read applies the lazy-rebuild policy and must see it
    IndexLifecycle.markDirty(spark, path, 500)
    val s = IndexLifecycle.buildIfNeeded(corpus(col("vec_id") >= 0), path)
    assert(s.version == 2)
    val after = IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0)
    assert(after == 0L, "rebuilt index must surface the new exact match")
  }

  test("incremental append: new vectors are queryable without a rebuild") {
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    val s1 = IndexLifecycle.build(corpus(col("vec_id") > 0), path)
    val qvec = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) != 0L)
    val s2 = IndexLifecycle.append(corpus(col("vec_id") === 0), path)
    assert(s2.version == s1.version, "append must not retrain")
    assert(s2.size == s1.size + 1 && s2.isDirty && s2.dirtyCount == 1)
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) == 0L, "appended vector must be queryable immediately")
    // growth counts as dirt: enough appends trip the rebuild policy
    assert(!s2.shouldRebuild(0.1))
    val s3 = IndexLifecycle.markDirty(spark, path, s1.size / 10)
    assert(s3.shouldRebuild(0.1))
  }

  test("a failed append leaves nothing cached, the state unmoved and the index serving") {
    val path = java.nio.file.Files.createTempDirectory("graft_lc_fail").toString
    IndexLifecycle.build(corpus(col("vec_id") >= 0), path)
    val qvec = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val s0 = IndexLifecycle.status(spark, path)
    val cached = spark.sparkContext.getPersistentRDDs.size
    import spark.implicits._
    // a 3-dim vector against 64-dim centroids fails the assignment
    intercept[Exception] {
      IndexLifecycle.append(Seq((99999L, Seq(1f, 2f, 3f))).toDF("id", "vec"), path)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      "a failed append left its batch cached")
    assert(IndexLifecycle.status(spark, path) == s0, "a failed append moved the state")
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) == 0L, "the index must keep serving")
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(path))
  }

  test("point delete: vector disappears from queries; only affected partitions rewritten") {
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    IndexLifecycle.build(corpus(col("vec_id") >= 0), path)
    val qvec = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    // vector 0 is in the corpus: its own NN is itself
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) == 0L)

    // which cluster holds vector 0 (the only partition a delete may touch)
    val lists = spark.read.parquet(path)
    val hitCluster = lists.filter(col("neighbor_id") === 0L)
      .select("cluster_id").head().getInt(0)
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partitionFiles(): Map[String, Seq[(String, Long)]] =
      fsys.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster_id="))
        .map { d =>
          d.getPath.getName ->
            fsys.listStatus(d.getPath).toSeq
              .map(f => (f.getPath.getName, f.getModificationTime))
              .sortBy(_._1)
        }.toMap
    val before = partitionFiles()

    import spark.implicits._
    val s0 = IndexLifecycle.status(spark, path)
    val s1 = IndexLifecycle.delete(Seq(0L).toDF("id"), path)
    assert(s1.size == s0.size - 1 && s1.isDirty && s1.dirtyCount == 1,
      "remove_vector semantics: size shrinks, removal recorded as dirt")
    assert(s1.version == s0.version, "delete must not retrain")
    // the deleted vector is gone from the persisted lists and from queries
    assert(spark.read.parquet(path).filter(col("neighbor_id") === 0L).count() == 0)
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) != 0L)
    // untouched cluster partitions are byte-identical (same files, same mtimes)
    val after = partitionFiles()
    val untouched = before.keys.filterNot(_ == s"cluster_id=$hitCluster")
    assert(untouched.nonEmpty, "test needs more than one cluster to be meaningful")
    untouched.foreach { p =>
      assert(after(p) == before(p), s"partition $p was rewritten by an unrelated delete")
    }

    // deleting an id that is not in the index is a no-op (reference
    // remove_vector returns False)
    val s2 = IndexLifecycle.delete(Seq(999999L).toDF("id"), path)
    assert(s2 == s1, "deleting a missing id must change nothing")
  }

  test("streaming ingest appends into the persisted index via foreachBatch") {
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lc_ckpt").toString
    // index over the first 400 vectors; the remaining 100 arrive as a
    // file stream and append incrementally (no retrain) — the
    // landing-zone -> index composition a production ingest runs
    val s0 = IndexLifecycle.build(corpus(col("vec_id") < 400), path)
    assert(s0.size == 400)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val stream = graft.sources.Sources
      .streamDir(spark, s"$sf/embeddings.parq*", schema,
        options = Map("basePath" -> sf))
      .filter(col("vec_id") >= 400)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { IndexLifecycle.append(batch, path); () }
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val s1 = IndexLifecycle.status(spark, path)
    assert(s1.size == 500 && s1.dirtyCount == 100 && s1.version == s0.version,
      s"ingest must append all 100 late vectors without a retrain: $s1")
    // an appended vector is immediately queryable
    val qvec = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 450).select("embedding")
      .head().getSeq[Float](0).toArray
    assert(IndexLifecycle.query(spark, path, qvec, k = 1, nprobe = 64)
      .head().getLong(0) == 450L)
  }

  test("delete against an unbuilt index fails loudly") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_lc").toString
    intercept[IllegalArgumentException](
      IndexLifecycle.delete(Seq(1L).toDF("id"), path))
  }

  test("dimension-mismatched queries fail the job instead of truncating") {
    import spark.implicits._
    val corpus3 = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(4f, 5f, 6f)))
      .toDF("neighbor_id", "vec")
    val queries2 = Seq((0L, Seq(1f, 2f))).toDF("query_id", "qvec")
    val e = intercept[Exception](
      graft.operators.Knn.knn(queries2, corpus3, 1, 0).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("dimension mismatch")), e.toString)
  }

  test("session memo invalidation keeps ivfBuild usable and fresh") {
    val a1 = Ivf.ivfBuild(spark, sf).collect()
    Memo.invalidate(sf)
    val a2 = Ivf.ivfBuild(spark, sf).collect()
    assert(a1.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      a2.map(r => (r.getLong(0), r.getInt(1))).toSeq)
  }

  test("compact: affected lists collapse to one file, rows conserved, untouched lists untouched, idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    IndexLifecycle.build(vecs, tmp, kOpt = Some(4))
    val n = vecs.count()
    IndexLifecycle.append(
      vecs.filter(col("id") < 20).select((col("id") + n).as("id"), col("vec")), tmp)
    IndexLifecycle.append(
      vecs.filter(col("id") < 20).select((col("id") + n + 20).as("id"), col("vec")), tmp)
    def listFiles: Map[String, Seq[(String, Long)]] =
      new java.io.File(tmp).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cluster_id="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.startsWith("part-")).toSeq
          .map(f => (f.getName, f.lastModified)).sortBy(_._1)).toMap
    val before = listFiles
    val multi = before.filter(_._2.size > 1).keySet
    assert(multi.nonEmpty, "appends must have produced multi-file lists")
    val rowsBefore = spark.read.parquet(tmp)
      .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
    val nCompacted = IndexLifecycle.compact(spark, tmp, maxFiles = 1)
    assert(nCompacted == multi.size)
    val after = listFiles
    multi.foreach { cid =>
      assert(after(cid).size == 1, s"$cid not compacted: ${after(cid)}")
    }
    // untouched lists keep their very files (name AND mtime)
    (before.keySet -- multi).foreach { cid =>
      assert(after(cid) == before(cid), s"untouched list $cid was rewritten")
    }
    val rowsAfter = spark.read.parquet(tmp)
      .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction must conserve rows exactly")
    assert(IndexLifecycle.compact(spark, tmp, maxFiles = 1) == 0,
      "second compact must be a no-op")
    // the index still serves after compaction
    val q = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    assert(IndexLifecycle.query(spark, tmp, q, k = 5, nprobe = 4).count() == 5)
  }

  test("legacy single-watermark state keeps its persisted stream id") {
    // pre-map states wrote (applied_stream_id, applied_stream_batch);
    // the parser must key the watermark under that id so a resumed
    // pre-upgrade checkpoint keeps its replay guard — folding it under
    // "" made appliedBatchFor(id) return -1 and replayed the batch
    val dir = java.nio.file.Files.createTempDirectory("graft_legacy")
    val stateDir = dir.resolve("_state")
    java.nio.file.Files.createDirectories(stateDir)
    java.nio.file.Files.writeString(stateDir.resolve("state.json"),
      """{"algorithm":"ivf","is_built":true,"is_dirty":false,"size":10,""" +
        """"embedding_dim":8,"built_at":123,"version":2,"dirty_count":0,""" +
        """"total_vectors":10,"applied_stream_batch":7,""" +
        """"applied_stream_id":"/ckpt/path"}""")
    val s = IndexLifecycle.status(spark, dir.toString)
    assert(s.appliedBatchFor("/ckpt/path") == 7L,
      "legacy id-carrying watermark must guard its own stream")
    assert(s.appliedBatchFor("some-other-stream") == -1L,
      "the legacy watermark must never floor a different stream")
    // and it round-trips through the hex-keyed map format
    IndexLifecycle.writeState(spark, dir.toString, s)
    assert(IndexLifecycle.status(spark, dir.toString)
      .appliedBatchFor("/ckpt/path") == 7L)
  }

  test("watermark LRU evicts the least-recently-updated stream, never the newest") {
    val n = graft.operators.IndexStatus.MaxAppliedStreams
    var s = graft.operators.IndexStatus("ivf", isBuilt = true, isDirty = false,
      size = 1L, embeddingDim = 8, builtAt = 1L, version = 1, dirtyCount = 0L,
      totalVectors = 1L)
    (0 until n).foreach { i => s = s.withAppliedBatch(s"stream$i", i.toLong) }
    s = s.withAppliedBatch("stream0", 100L) // refresh the oldest
    s = s.withAppliedBatch("fresh", 1L)     // forces one eviction
    assert(s.appliedStreams.size == n)
    assert(s.appliedBatchFor("stream0") == 100L, "refreshed entry must survive")
    assert(s.appliedBatchFor("fresh") == 1L)
    assert(s.appliedBatchFor("stream1") == -1L,
      "the idle-longest entry is the one evicted")
  }
}
