package graft

import graft.operators.{BucketSwap, IndexLifecycle, Pq, PqLifecycle}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ lifecycle contracts: incremental append is queryable without
  * a retrain, delete rewrites only affected code lists (untouched
  * partitions byte-identical), and the state arithmetic matches the
  * raw-vector lifecycle's.
  */
class PqLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("append encodes against frozen codebooks; appended vectors queryable, no retrain") {
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_append").toString
    val s1 = PqLifecycle.build(spark, sf, path)
    assert(s1.isBuilt && s1.version == 1 && s1.size == 500 && !s1.isDirty)

    // append a COPY of vector 1 under a fresh id: identical content must
    // encode to identical codes and land in the same cluster list
    import spark.implicits._
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val s2 = PqLifecycle.append(
      Seq((9999L, v1.toSeq)).toDF("id", "vec"), path)
    assert(s2.version == s1.version, "append must not retrain")
    assert(s2.size == 501 && s2.dirtyCount == 1 && s2.isDirty)

    // pure compressed-domain query for that vector: identical codes tie,
    // neighbor_id breaks the tie -> both the original and the appended
    // copy surface in the top 2
    val top2 = Pq.queryIvfPq(spark, path, v1, k = 2, nprobe = Int.MaxValue,
      refineWith = None).collect().map(_.getLong(0)).toSet
    assert(top2 == Set(1L, 9999L),
      s"appended copy must rank with its original, got $top2")
  }

  test("a failed append leaves nothing cached, the state unmoved and the index serving") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_fail").toString
    PqLifecycle.build(spark, sf, path)
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val s0 = IndexLifecycle.status(spark, path)
    val cached = spark.sparkContext.getPersistentRDDs.size
    // a 3-dim vector against 64-dim centroids fails the assignment
    intercept[Exception] {
      PqLifecycle.append(Seq((99999L, Seq(1f, 2f, 3f))).toDF("id", "vec"), path)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      "a failed append left its batch cached")
    assert(IndexLifecycle.status(spark, path) == s0, "a failed append moved the state")
    assert(Pq.queryIvfPq(spark, path, v1, k = 1, nprobe = Int.MaxValue, refineWith = None)
      .count() == 1, "the index must keep serving")
    Streams.deleteTree(java.nio.file.Paths.get(path))
  }

  test("two-level-trained index persists its hierarchy; appends assign through it") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_2l").toString
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // force the distributed trainer at small k (the spec seam): the
    // tree must land `_l1`/`_cellof` sidecars beside `_centroids`
    val n = Pq.writeIvfPqFrom(vecs, path, m = 8,
      metric = graft.functions.VectorMetric.L2, opq = false, maxDriverK = 0)
    assert(n == 500)
    graft.operators.IndexLifecycle.writeState(spark, path,
      graft.operators.IndexStatus("ivfpq", isBuilt = true, isDirty = false,
        size = n, embeddingDim = 64, builtAt = 1L, version = 1,
        dirtyCount = 0L, totalVectors = n))
    val pm = Pq.loadPersistedModel(spark, path)
    assert(pm.hierarchy.isDefined, "two-level build must persist `_l1`/`_cellof`")
    val q = pm.hierarchy.get
    assert(q.cellOf.length == pm.centroids.length)
    assert(q.cellOf.toSeq == q.cellOf.toSeq.sorted, "cellOf must be cell-grouped")
    // queries serve normally from the two-level-trained tree
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val top = Pq.queryIvfPq(spark, path, v1, k = 2, nprobe = Int.MaxValue,
      refineWith = None).collect().map(_.getLong(0))
    assert(top.length == 2 && top.contains(1L))
    // an append assigns THROUGH the hierarchy: the landed cluster for a
    // copied vector equals assignTwoLevel's choice for the original
    val s2 = PqLifecycle.append(Seq((9999L, v1.toSeq)).toDF("id", "vec"), path)
    assert(s2.size == n + 1)
    val landed = spark.read.parquet(path).filter(col("id") === 9999L)
      .select("cluster_id").head().getInt(0)
    val expected = graft.operators.Ivf
      .assignTwoLevel(Seq((1L, v1)).toDF("id", "vec"), q)
      .select("cluster_id").head().getInt(0)
    assert(landed == expected,
      s"append landed in $landed but the hierarchy assigns $expected")
  }

  test("delete rewrites only the affected code lists; read-back shrinks; no-op for missing ids") {
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_delete").toString
    val s1 = PqLifecycle.build(spark, sf, path)

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
    val hitCluster = spark.read.parquet(path).filter(col("id") === 0L)
      .select("cluster_id").head().getInt(0)

    import spark.implicits._
    val s2 = PqLifecycle.delete(Seq(0L).toDF("id"), path)
    assert(s2.size == s1.size - 1 && s2.dirtyCount == 1 && s2.isDirty)
    assert(s2.version == s1.version, "delete must not retrain")
    assert(spark.read.parquet(path).filter(col("id") === 0L).count() == 0,
      "deleted id must be gone from the persisted code lists")
    assert(spark.read.parquet(path).count() == 499, "read-back must shrink")

    val after = partitionFiles()
    val untouched = before.keys.filterNot(_ == s"cluster_id=$hitCluster")
    assert(untouched.nonEmpty, "test needs more than one cluster to be meaningful")
    untouched.foreach { p =>
      assert(after(p) == before(p), s"partition $p was rewritten by an unrelated delete")
    }

    // missing ids are a no-op (reference remove_vector returns False)
    val s3 = PqLifecycle.delete(Seq(424242L).toDF("id"), path)
    assert(s3.size == s2.size && s3.dirtyCount == s2.dirtyCount)
  }

  test("OPQ persisted index: rotation sidecar lands, append encodes rotated, recall >= unrotated") {
    import spark.implicits._
    val pPlain = java.nio.file.Files.createTempDirectory("graft_pqlc_plain").toString
    val pOpq = java.nio.file.Files.createTempDirectory("graft_pqlc_opq").toString
    PqLifecycle.build(spark, sf, pPlain)
    val sO = PqLifecycle.build(spark, sf, pOpq, opq = true)
    assert(sO.isBuilt && sO.version == 1)

    // the full model persists: OPQ index carries _rotation, plain does not
    val fsys = new org.apache.hadoop.fs.Path(pOpq)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$pOpq/_rotation")),
      "OPQ build must persist its rotation sidecar")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$pPlain/_rotation")),
      "plain build must not carry a rotation")

    // append a COPY of vector 1 to the ROTATED index: append must pick
    // the rotation up from disk and encode through it — identical
    // content then gets identical codes and ties with its original in a
    // pure compressed-domain query. An unrotated append against rotated
    // codebooks would scatter the copy's codes and break the tie.
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val s2 = PqLifecycle.append(Seq((9999L, v1.toSeq)).toDF("id", "vec"), pOpq)
    assert(s2.version == sO.version && s2.size == sO.size + 1)
    val top2 = Pq.queryIvfPq(spark, pOpq, v1, k = 2, nprobe = Int.MaxValue,
      refineWith = None).collect().map(_.getLong(0)).toSet
    assert(top2 == Set(1L, 9999L),
      s"rotated append must tie with its original, got $top2")

    // recall consequence on the PERSISTED path (probe-all, pure ADC —
    // the candidate set is the whole corpus, so quantization error is
    // the only error source, same regime RotateSpec pins for the flat
    // path): the OPQ index must not rank worse than the plain one.
    val ids = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(row => (row.getLong(0), row.getSeq[Float](1).toArray))
    def recallOf(path: String): Double = {
      val k = 10
      val rs = (0L until 10L).map { qid =>
        val q = ids.find(_._1 == qid).get._2
        val exact = ids.filterNot(_._1 == 9999L).map { case (id, v) =>
          (v.zip(q).map { case (x, y) => (x - y).toDouble * (x - y) }.sum, id)
        }.sortBy(identity).take(k).map(_._2).toSet
        // k+1 then drop the appended copy: the OPQ index holds one
        // extra vector (id 9999), which must not eat a recall slot
        val got = Pq.queryIvfPq(spark, path, q, k + 1, nprobe = Int.MaxValue,
          refineWith = None).orderBy(col("dist"), col("neighbor_id"))
          .collect().map(_.getLong(0)).filterNot(_ == 9999L).take(k).toSet
        (exact & got).size.toDouble / k
      }
      rs.sum / rs.length
    }
    val rOpq = recallOf(pOpq)
    val rPlain = recallOf(pPlain)
    assert(rOpq >= rPlain - 1e-9,
      s"persisted OPQ recall $rOpq dropped below plain $rPlain")
  }

  test("half-applied mutation markers make serve AND mutate paths refuse") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_marker").toString
    PqLifecycle.build(spark, sf, path)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // sanity: serves fine without a marker
    assert(Pq.queryIvfPq(spark, path, q, 3, Int.MaxValue, refineWith = None)
      .count() == 3)
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (marker <- Seq("_old_cluster_id=1", "_append_tmp")) {
      val m = new org.apache.hadoop.fs.Path(s"$path/$marker")
      fsys.mkdirs(m)
      // a crashed delete (stale-list aside) or crashed append (staging
      // dir) must refuse to serve — a half-applied delete would answer
      // minus an entire inverted list
      intercept[IllegalArgumentException] {
        Pq.queryIvfPq(spark, path, q, 3, Int.MaxValue, refineWith = None)
      }
      intercept[IllegalArgumentException] {
        PqLifecycle.append(Seq((777L, q.toSeq)).toDF("id", "vec"), path)
      }
      intercept[IllegalArgumentException] {
        PqLifecycle.delete(Seq(0L).toDF("id"), path)
      }
      fsys.delete(m, true)
    }
    // markers cleared: the index serves again (no permanent damage)
    assert(Pq.queryIvfPq(spark, path, q, 3, Int.MaxValue, refineWith = None)
      .count() == 3)
  }

  test("rebuild retrains on current contents: version++ with dirt reset, codes " +
      "re-encoded under the NEW model, old version and staging gone") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_rb").toString
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = vecs.count()
    val s1 = PqLifecycle.build(spark, sf, path)
    // dirty the index past the threshold: 20% re-keyed arrivals
    val d = math.ceil(0.2 * n).toLong
    val arrivals = vecs.filter(col("id") < d)
      .select((col("id") + n).as("id"), col("vec"))
    val s2 = PqLifecycle.append(arrivals, path,
      streamBatchId = Some(7L))
    assert(s2.shouldRebuild(graft.operators.IndexLifecycle.RebuildThreshold))
    val clustersBefore = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cluster_id="))

    val current = vecs.unionAll(arrivals)
    val s3 = PqLifecycle.rebuild(current, path)
    assert(s3.version == s1.version + 1 && !s3.isDirty && s3.dirtyCount == 0L)
    assert(s3.size == n + d && s3.totalVectors == n + d)
    assert(s3.appliedBatchFor("") == 7L,
      "rebuild must carry the stream replay watermark over")
    // disk agrees with the state and the swap left no debris
    assert(spark.read.parquet(path).count() == n + d)
    assert(!new java.io.File(s"${path}_old_v1").exists, "old version must be gone")
    assert(!new java.io.File(s"${path}_rebuild_tmp").exists, "staging must be gone")
    // the coarse quantizer really retrained AT THE NEW SIZE: the list
    // count follows √((n+d)/2), not the old √(n/2)
    val clustersAfter = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cluster_id="))
    val kNew = graft.operators.Ivf.defaultK(n + d)
    assert(clustersAfter <= kNew && clustersAfter > clustersBefore,
      s"expected ~$kNew lists after rebuild (was $clustersBefore), got $clustersAfter")
    // codes are coherent with the NEW persisted model: an identical-
    // content append ties with its originals in a pure compressed-domain
    // query — impossible if the stored codes were still the old model's.
    // Three copies of vec 1 now exist: the original (id 1), the streamed
    // arrival (id n+1), and the fresh append — identical codes tie, id
    // breaks the tie, so all three fill the top 3.
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    PqLifecycle.append(Seq((99999L, v1.toSeq)).toDF("id", "vec"), path)
    val top3 = Pq.queryIvfPq(spark, path, v1, k = 3, nprobe = Int.MaxValue,
      refineWith = None).collect().map(_.getLong(0)).toSet
    assert(top3 == Set(1L, n + 1L, 99999L),
      s"post-rebuild codes incoherent with the persisted model: $top3")
    Streams.deleteTree(java.nio.file.Paths.get(path))
  }

  test("rebuild aborts before swap when a concurrent mutation landed during staging") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_race").toString
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = vecs.count()
    PqLifecycle.build(spark, sf, path)
    val v1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val racer = Seq((7777L, v1.toSeq)).toDF("id", "vec")
    // the racing append lands AFTER staging completes but BEFORE the
    // swap — without the abort it would exist only in the tree being
    // replaced and silently vanish
    val ex = intercept[RuntimeException] {
      Faults.at(path, BucketSwap.Step.TreeSwap) {
        PqLifecycle.append(racer, path); ()
      }(PqLifecycle.rebuild(vecs, path))
    }
    assert(ex.getMessage.contains("concurrent mutation"))
    // the live tree (racing append included) is untouched; staging gone
    assert(spark.read.parquet(path).filter(col("id") === 7777L).count() == 1,
      "the abort must preserve the racing append")
    assert(spark.read.parquet(path).count() == n + 1)
    assert(!new java.io.File(s"${path}_rebuild_tmp").exists,
      "the discarded staging must be cleaned up")
    // re-run over the CURRENT contents (writers quiesced) succeeds
    val s = PqLifecycle.rebuild(vecs.unionAll(racer), path)
    assert(s.version == 2 && spark.read.parquet(path).count() == n + 1)
    Streams.deleteTree(java.nio.file.Paths.get(path))
  }

  test("drift-triggered rebuild: shifted arrivals fire the distribution signal " +
      "the dirty ratio misses; rebuild clears it") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqlc_drift").toString
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = vecs.count()
    PqLifecycle.build(spark, sf, path)
    // 3% arrivals — far below the 0.1 dirty threshold — but every one
    // shifted +10 per component: they land with enormous residuals
    // (a new-domain / embedding-model-change upstream, the exact case
    // the count-based policy is blind to)
    val arrivals = vecs.filter(col("id") < 15)
      .select((col("id") + n).as("id"),
        transform(col("vec"), x => (x + lit(10.0f)).cast("float")).as("vec"))
    PqLifecycle.append(arrivals, path)
    val s = graft.operators.IndexLifecycle.status(spark, path)
    assert(!s.shouldRebuild(graft.operators.IndexLifecycle.RebuildThreshold),
      "the count-based policy must not fire at 3% dirt")
    val current = vecs.unionAll(arrivals)
    assert(PqLifecycle.driftShouldRebuild(current, path),
      "the drift signal must fire on far-from-centroid arrivals")
    assert(PqLifecycle.shouldRebuildWithDrift(current, path),
      "the combined policy ORs the drift signal in")
    // rebuild refreshes the _profile sidecar with the swap: the same
    // contents no longer drift against their own fresh baseline
    PqLifecycle.rebuild(current, path)
    assert(!PqLifecycle.driftShouldRebuild(current, path),
      "rebuild must clear the drift signal (profile refreshed)")
    assert(!PqLifecycle.shouldRebuildWithDrift(current, path))
    Streams.deleteTree(java.nio.file.Paths.get(path))
  }

  test("driver lifecycle table matches the oracle arithmetic shape") {
    val rows = PqLifecycle.ivfpqLifecycle(spark, sf).collect()
    assert(rows.length == 4)
    val n = 500L
    val d = math.ceil(0.05 * n).toLong // 25
    val r = (0L until n).count(_ % 7 == 0).toLong // 72
    // (phase, version, is_dirty, dirty_count, size, should_rebuild)
    assert(rows(0).getLong(4) == n && !rows(0).getBoolean(2))
    assert(rows(1).getLong(3) == d && rows(1).getLong(4) == n + d && !rows(1).getBoolean(5))
    assert(rows(2).getLong(3) == d + r && rows(2).getLong(4) == n + d - r)
    assert(rows(2).getBoolean(5), "delete dirt must cross the rebuild threshold")
    assert(rows(3).getLong(4) == n + d - r, "phase 4 must read size back from disk")
  }
}
