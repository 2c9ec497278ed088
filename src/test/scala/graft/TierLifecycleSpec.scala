package graft

import graft.operators.{Bq, BqCodec, BucketSwap, IndexLifecycle, PcaCodec, Sq8Codec, TierCodec, TierLifecycle}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted flat-tier contracts on the shared TierLifecycle seam, as
  * rows over the three codecs (SQ8, BQ, PCA; see TierRows): frozen-model
  * appends tie byte-exactly with the build, disk queries serve the
  * appended copy, deletes rewrite only the affected buckets, sidecar
  * models round-trip in their pinned format, rebuilds re-encode under
  * the new model, and failures leave nothing pinned in the session
  * cache. The SQ8 append/delete/driver-key rows run in Sq8LifecycleSpec.
  */
class TierLifecycleSpec extends AnyFunSuite with TierRows {
  private def causes(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(c => Option(c.getMessage).getOrElse("")).toSeq

  test("BQ: frozen-threshold append ties byte-exactly; hamming disk query + refine serve it") {
    eachTier("append", Seq(bqTier))((t, path) => appendRow(t, path))
  }

  test("PCA: frozen-basis append projects byte-exactly; reduced disk query + refine serve it") {
    eachTier("append", Seq(pcaTier))((t, path) => appendRow(t, path))
  }

  test("BQ/PCA delete rewrites only the hit bucket; read-back shrinks; missing ids no-op") {
    eachTier("delete", Seq(bqTier, pcaTier))(deleteRow)
  }

  test("sidecar format: every codec writes the _model/_meta schemas it always has") {
    eachTier("format") { (t, path) =>
      def schema(sidecar: String): Seq[String] =
        spark.read.parquet(s"$path/$sidecar").schema.fields.toSeq
          .map(f => s"${f.name} ${f.dataType.sql}")
      assert(schema("_model") == t.model, s"${t.name} _model")
      assert(schema("_meta") == t.meta, s"${t.name} _meta")
    }
  }

  /** Frames distinct per codec, so one codec's leaked cache entry
    * cannot stand in for the next codec's (cache() dedups by plan).
    */
  private def salt(t: Tier[_]): Long = tiers.indexWhere(_.name == t.name).toLong

  test("a failed rebuild leaves nothing cached and the tree serving") {
    eachTier("failed_rebuild") { (t, path) =>
      val s0 = IndexLifecycle.status(spark, path)
      val cached = spark.sparkContext.getPersistentRDDs.size
      // rebuilding over no contents fails the trainer's own precondition
      val e = intercept[Exception] {
        TierLifecycle.rebuild(t.codec, raw.filter(col("id") === -1L - salt(t)), path)
      }
      assert(causes(e).exists(_.contains("empty corpus")),
        s"${t.name}: rebuild over no contents must say so, got ${causes(e)}")
      assert(spark.sparkContext.getPersistentRDDs.size == cached,
        s"${t.name}: a failed rebuild left its contents cached")
      assert(IndexLifecycle.status(spark, path) == s0, s"${t.name}: state moved")
      assert(TierLifecycle.query(t.codec, spark, path, vecOf(1L), k = 1)
        .collect().head.getLong(0) == 1L, s"${t.name}: the tree must keep serving")
    }
  }

  test("a failed append leaves nothing cached and the tree serving") {
    eachTier("failed_append") { (t, path) =>
      import spark.implicits._
      val s0 = IndexLifecycle.status(spark, path)
      val cached = spark.sparkContext.getPersistentRDDs.size
      // a 3-dim vector against a 64-dim model fails the encode kernel
      val e = intercept[Exception] {
        TierLifecycle.append(t.codec,
          Seq((9999L + salt(t), Seq(1f, 2f, 3f))).toDF("id", "vec"), path)
      }
      assert(causes(e).exists(_.contains("vector dim 3")),
        s"${t.name}: a wrong-dim append must fail the encode's dim check, got ${causes(e)}")
      assert(spark.sparkContext.getPersistentRDDs.size == cached,
        s"${t.name}: a failed append left its batch cached")
      assert(IndexLifecycle.status(spark, path) == s0, s"${t.name}: state moved")
      assert(TierLifecycle.query(t.codec, spark, path, vecOf(1L), k = 1)
        .collect().head.getLong(0) == 1L, s"${t.name}: the tree must keep serving")
    }
  }

  test("a tier disk query reads each sidecar in one job") {
    // 2 sidecar reads and the top-k: the tree is read under the schema
    // its writers fix, so no inference job
    eachTier("jobs") { (t, path) =>
      val v1 = vecOf(1L)
      val jobs = TestSession.jobsOf {
        TierLifecycle.query(t.codec, spark, path, v1, k = 10).collect(); ()
      }
      info(s"${t.name} disk query: $jobs jobs")
      assert(jobs <= 3, s"${t.name} disk query ran $jobs jobs")
    }
  }

  test("deletePruned's bucket-hint filter partition-prunes the scan (one file read of 16)") {
    withTree("graft_prune") { path =>
    TierLifecycle.build(Sq8Codec(), spark, sf, path)
    // the exact filter form deleteFrom applies under a bucket hint
    val df = spark.read.parquet(path)
      .filter(col("cluster_id").isInCollection(Seq(3)))
    df.queryExecution.toRdd.count()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    assert(ss.nonEmpty, "no file scan found in the pruned-delete plan")
    assert(ss.forall(_.partitionFilters.nonEmpty),
      "the bucket-hint filter must reach the scan as a PARTITION filter")
    // one bucket = one file on this build (repartition(cluster_id))
    assert(ss.map(_.metrics("numFiles").value).sum == 1,
      "the pruned scan must read exactly the hinted bucket's file")
    // and the pruned delete's semantics match the unpruned contract:
    // deleting a missing id whose bucket exists is still a no-op
    import spark.implicits._
    val s0 = IndexLifecycle.status(spark, path)
    val s1 = TierLifecycle.delete(Seq(500003L).toDF("id"), path)
    assert(s1.size == s0.size && s1.dirtyCount == s0.dirtyCount,
      "missing-id delete must stay a no-op under the bucket hint")
    }
  }

  test("every tier's disk query refuses a half-applied tree with the lifecycle's message") {
    val v1 = vecOf(1L)
    // the serve-path precondition sweep: a crash between a delete's two
    // swap renames leaves _old_cluster_id=N, and the query must refuse
    // loudly, never answer minus a bucket
    eachTier("halfapplied") { (t, path) =>
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(path, "_old_cluster_id=3"))
      val e = intercept[IllegalArgumentException] {
        TierLifecycle.query(t.codec, spark, path, v1, 2).collect()
      }
      assert(e.getMessage.contains("half-applied mutation"),
        s"${t.name} query must refuse with the lifecycle's message, got: ${e.getMessage}")
    }
    // and an unbuilt tree refuses with the lifecycle's message too,
    // not an opaque parquet path error from the missing _model
    tiers.foreach { t =>
      withTree(s"graft_${t.name}_unbuilt") { path =>
        val e = intercept[IllegalArgumentException] {
          TierLifecycle.query(t.codec, spark, path, v1, 2).collect()
        }
        assert(e.getMessage.contains("build first"),
          s"${t.name} query on an unbuilt tree must say 'build first', got: ${e.getMessage}")
      }
    }
  }

  test("tier compact: touched buckets collapse, untouched byte-identical, rows conserved, idempotent") {
    withTree("graft_tier_cp") { path =>
      import spark.implicits._
      TierLifecycle.build(Sq8Codec(), spark, sf, path)
      val (_, buckets) = Sq8Codec().readSidecars(spark, path)
      val v1 = vecOf(1L)
      // two appends aimed at bucket 0 only (ids ≡ 0 mod buckets):
      // bucket 0 accumulates part-files, every other bucket untouched
      TierLifecycle.append(Sq8Codec(),
        Seq((buckets * 1000L, v1.toSeq)).toDF("id", "vec"), path)
      TierLifecycle.append(Sq8Codec(),
        Seq((buckets * 2000L, v1.toSeq)).toDF("id", "vec"), path)
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(bucket: Int) = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$path/cluster_id=$bucket")).toSeq
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => (f.getPath.getName, f.getModificationTime)).sortBy(_._1)
      assert(files(0).size == 3, "two appends must land two extra files in bucket 0")
      val untouchedBefore = files(1)
      val idsBefore = spark.read.parquet(path)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val n1 = IndexLifecycle.compact(spark, path, maxFiles = 1)
      assert(n1 == 1, s"only bucket 0 exceeded the threshold, rewrote $n1")
      assert(files(0).size == 1, "the touched bucket must collapse to one file")
      assert(files(1) == untouchedBefore,
        "an untouched bucket's very files must survive compaction")
      val idsAfter = spark.read.parquet(path)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(idsAfter == idsBefore, "compaction must be content-neutral")
      // idempotent: nothing left over the threshold
      assert(IndexLifecycle.compact(spark, path, maxFiles = 1) == 0)
    }
  }

  test("recoverMutation lands an accounted-but-unmoved append and restores delete asides") {
    withTree("graft_recover") { path =>
      import spark.implicits._
      val codec = Sq8Codec()
      TierLifecycle.build(codec, spark, sf, path)
      val (m, buckets) = codec.readSidecars(spark, path)
      val s0 = IndexLifecycle.status(spark, path)
      // simulate a landAppend crash AFTER the state write (batch 0 of
      // stream "s" accounted, watermark recorded) but BEFORE the
      // move-in: the staged row exists only under _append_tmp
      val v1 = vecOf(1L)
      val newId = 9999L
      Seq((newId, v1.toSeq)).toDF("id", "vec")
        .select(TierLifecycle.bucketOf(col("id"), buckets).as("cluster_id"),
          col("id"), codec.encode(m, col("vec")).as("codes"))
        .repartition(col("cluster_id"))
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$path/_append_tmp")
      IndexLifecycle.writeState(spark, path,
        s0.copy(isDirty = true, dirtyCount = s0.dirtyCount + 1,
          size = s0.size + 1).withAppliedBatch("s", 0L))
      // serve refuses while damaged
      intercept[IllegalArgumentException] {
        TierLifecycle.query(codec, spark, path, v1, 1).collect()
      }
      assert(IndexLifecycle.recoverMutation(spark, path),
        "a damaged tree must report repairs")
      // the accounted batch is now really on disk, marker gone, the
      // watermark kept (the stream's replay still no-ops), state==disk
      assert(spark.read.parquet(path).filter(col("id") === newId).count() == 1)
      val s1 = IndexLifecycle.status(spark, path)
      assert(s1.size == s0.size + 1 && s1.appliedBatchFor("s") == 0L)
      assert(TierLifecycle.query(codec, spark, path, v1, 1).count() == 1)

      // crashed delete/compact swap: aside with MISSING live bucket is
      // the authoritative content — restored, counts intact
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val before = spark.read.parquet(path).count()
      assert(fsys.rename(new org.apache.hadoop.fs.Path(s"$path/cluster_id=3"),
        new org.apache.hadoop.fs.Path(s"$path/_old_cluster_id=3")))
      assert(IndexLifecycle.recoverMutation(spark, path))
      assert(spark.read.parquet(path).count() == before,
        "the restored aside must bring the bucket's rows back")
      // aside WITH the live bucket present = completed swap leftovers:
      // dropped, content untouched
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_old_cluster_id=5"))
      assert(IndexLifecycle.recoverMutation(spark, path))
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$path/_old_cluster_id=5")))
      // a clean tree reports nothing to repair
      assert(!IndexLifecycle.recoverMutation(spark, path))
    }
  }

  test("rebuild enters a damaged tree (recovery-then-rebuild), serve keeps refusing") {
    withTree("graft_recover_rb") { path =>
      TierLifecycle.build(Sq8Codec(), spark, sf, path)
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(path, "_append_tmp"))
      val v1 = vecOf(1L)
      intercept[IllegalArgumentException] {
        TierLifecycle.query(Sq8Codec(), spark, path, v1, 1).collect()
      }
      val s = TierLifecycle.rebuild(Sq8Codec(), raw, path) // recovers, then rebuilds
      assert(s.version == 2 && !s.isDirty)
      assert(TierLifecycle.query(Sq8Codec(), spark, path, v1, 1)
        .collect().head.getLong(0) == 1L)
    }
  }

  test("rebuildIfNeeded: no-op below the dirty threshold, rebuilds above it") {
    withTree("graft_rbn") { path =>
      val s1 = TierLifecycle.build(Sq8Codec(), spark, sf, path)
      // clean index: the policy must not fire
      val s2 = TierLifecycle.rebuildIfNeeded(Sq8Codec(), raw, path)
      assert(s2.version == s1.version && !s2.isDirty, "clean index must be a no-op")
      // cross the threshold (delete every 7th: ~14% > 10%) — the
      // policy fires and the rebuild resets the state
      TierLifecycle.delete(raw.filter(col("id") % 7 === 0).select("id"), path)
      val current = raw.filter(col("id") % 7 =!= 0)
      val s3 = TierLifecycle.rebuildIfNeeded(Sq8Codec(), current, path)
      assert(s3.version == s1.version + 1 && !s3.isDirty && s3.dirtyCount == 0L)
      assert(spark.read.parquet(path).count() == current.count())
    }
  }

  test("BQ persisted refine serves the caller's metric (cosine ≡ in-session Bq.topK)") {
    withTree("graft_bq_metric") { path =>
      TierLifecycle.build(BqCodec, spark, sf, path)
      val q = vecOf(0L)
      val cos = graft.functions.VectorMetric.Cosine
      val viaDisk = TierLifecycle.query(BqCodec, spark, path, q, k = 5,
        refineWith = Some(raw), metric = cos)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaSession = Bq.topK(spark, sf, q, k = 5, metric = cos)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaDisk == viaSession,
        "the persisted face's cosine re-rank must match the in-session twin")
    }
  }

  test("BQ/PCA driver keys: the shared five-phase arithmetic (rebuild closes the loop)") {
    Seq(bqTier, pcaTier).foreach(fivePhaseRow)
  }

  test("rebuild re-encodes under the NEW model and removes the old/staged trees") {
    // current contents = the corpus under a per-dimension affine map
    // (component i becomes (i+1)·x + 1): every codec's retrained model
    // MUST move — PCA's included, which a uniform shift or scale would
    // leave unchanged — so stale-model codes would be detectably wrong
    val moved = raw.select(col("id"),
      transform(col("vec"), (x, i) => x * (i + 1).cast("float") + lit(1.0f)).as("vec"))
    def row[M](t: Tier[M], path: String): Unit = {
      import spark.implicits._
      val s1 = IndexLifecycle.status(spark, path)
      val (oldModel, _) = t.codec.readSidecars(spark, path)
      val s2 = TierLifecycle.rebuild(t.codec, moved, path)
      assert(s2.version == s1.version + 1 && !s2.isDirty && s2.dirtyCount == 0L, t.name)
      val (newModel, _) = t.codec.readSidecars(spark, path)
      assert(t.flat(newModel) != t.flat(oldModel),
        s"${t.name}: rebuild must retrain the model on the current contents")
      val want = t.flat(t.codec.retrain(moved, oldModel))
      assert(t.flat(newModel).zip(want).forall { case (a, b) => math.abs(a - b) <= 1e-9 } &&
        t.flat(newModel).size == want.size,
        s"${t.name}: the persisted model must be the one trained on the current contents")
      (oldModel, newModel) match {
        case (od: Bq.Model, nw: Bq.Model) =>
          assert(nw.thresholds.indices.forall { i =>
            math.abs(nw.thresholds(i) - ((i + 1) * od.thresholds(i) + 1.0)) < 1e-4 },
            "BQ's retrained means must track the moved content")
        case _ =>
      }
      // code coherence: the stored payload is the NEW model's encoding
      // of the new contents, byte-for-byte
      val v0 = moved.filter(col("id") === 0L).select("vec").head().getSeq[Float](0)
      val expect = Seq((0L, v0)).toDF("id", "vec")
        .select(col("id"), t.codec.encode(newModel, col("vec")).as(t.codec.payload))
        .collect().map(r => r.get(1) match {
          case b: Array[Byte] => b.toSeq
          case s: scala.collection.Seq[_] => s.toSeq
        }).head
      assert(payloads(t, path, 0L)(0L) == expect,
        s"${t.name}: stored payloads must be the NEW model's encoding")
      // the staged tree and the moved-aside old version are gone
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"${path}_rebuild_tmp")),
        s"${t.name}: staged tree must not survive the swap")
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"${path}_old_v1")),
        s"${t.name}: the moved-aside old version must be cleaned up")
      // and the rebuilt tree serves (the refusal sweep's precondition
      // passes — no markers anywhere)
      assert(TierLifecycle.query(t.codec, spark, path, v0.toArray, k = 1)
        .collect().head.getLong(0) == 0L, t.name)
    }
    eachTier("rebuild")((t, path) => row(t, path))
  }

  test("rebuild aborts loudly when a concurrent mutation lands during staging") {
    withTree("graft_sq8_abort") { path =>
      import spark.implicits._
      TierLifecycle.build(Sq8Codec(), spark, sf, path)
      val v9 = vecOf(9L)
      // land a delete inside the staging window via the step hook
      val e = intercept[RuntimeException] {
        Faults.at(path, BucketSwap.Step.TreeSwap) {
          TierLifecycle.delete(Seq(9L).toDF("id"), path); ()
        }(TierLifecycle.rebuild(Sq8Codec(), raw, path))
      }
      assert(e.getMessage.contains("concurrent mutation"),
        s"got: ${e.getMessage}")
      // the live tree kept the concurrent delete and still serves
      assert(spark.read.parquet(path).filter(col("id") === 9L).count() == 0)
      assert(TierLifecycle.query(Sq8Codec(), spark, path, v9, k = 1)
        .collect().nonEmpty)
    }
  }
}
