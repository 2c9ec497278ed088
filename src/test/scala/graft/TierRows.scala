package graft

import graft.operators.{Bq, BqCodec, IndexLifecycle, PcaCodec, Sq8Codec, TierCodec, TierLifecycle}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted flat-tier contracts as rows over the three codecs
  * (SQ8, BQ, PCA) on the shared TierLifecycle seam. A spec picks the
  * codecs a test covers; each row runs over its own fresh built tree.
  */
trait TierRows { this: AnyFunSuite =>
  lazy val spark = TestSession.spark
  protected val sf = "/root/testdata/sf0.001"

  /** Temp index trees must not outlive the test run (the Memo.tree/
    * deleteTree hygiene the production code enforces).
    */
  protected def withTree[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally graft.streaming.Streams.deleteTree(dir)
  }

  /** One codec row: the model flattened to doubles (arrays compare by
    * value) and the sidecar schemas the tier has always written.
    */
  protected case class Tier[M](name: String, codec: TierCodec[M],
                               flat: M => Seq[Double],
                               model: Seq[String], meta: Seq[String])

  protected val sq8Tier = Tier[TierCodec.Sq8Model]("sq8", Sq8Codec(),
    m => (m.q.mins ++ m.q.scales).toSeq :+ m.metric.toDouble,
    Seq("pos INT", "lo DOUBLE", "scale DOUBLE"),
    Seq("dim INT", "metric INT", "buckets INT"))
  protected val bqTier = Tier[Bq.Model]("bq", BqCodec, _.thresholds.toSeq,
    Seq("pos INT", "mu DOUBLE"), Seq("dim INT", "buckets INT"))
  protected val pcaTier = Tier[TierCodec.PcaModel]("pca", PcaCodec(),
    m => m.m.basis.toSeq.flatMap(_.toSeq) :+ m.rdim.toDouble,
    Seq("pos INT", "comp ARRAY<DOUBLE>"), Seq("dim INT", "rdim INT", "buckets INT"))

  protected val tiers: Seq[Tier[_]] = Seq(sq8Tier, bqTier, pcaTier)

  /** Run `row` once per codec in `only`, each over its own fresh built tree. */
  protected def eachTier(prefix: String, only: Seq[Tier[_]] = tiers)(
      row: (Tier[_], String) => Unit): Unit =
    only.foreach { t =>
      withTree(s"graft_${t.name}_$prefix") { path =>
        TierLifecycle.build(t.codec, spark, sf, path)
        row(t, path)
      }
    }

  protected lazy val raw = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  protected def vecOf(id: Long): Array[Float] =
    raw.filter(col("id") === id).select("vec").head().getSeq[Float](0).toArray

  /** The stored payload per id, comparable by value. */
  protected def payloads(t: Tier[_], path: String, ids: Long*): Map[Long, Seq[Any]] =
    spark.read.parquet(path).filter(col("id").isin(ids: _*))
      .select(col("id"), col(t.codec.payload)).collect()
      .map(r => r.getLong(0) -> (r.get(1) match {
        case b: Array[Byte] => b.toSeq
        case s: scala.collection.Seq[_] => s.toSeq
      })).toMap

  /** Frozen-model append: the sidecars round-trip the trained model, a
    * copy of vector 1 encodes byte-identically, and the disk query (plain
    * and refined) serves it as a tie with its original.
    */
  protected def appendRow[M](t: Tier[M], path: String): Unit = {
    val s1 = IndexLifecycle.status(spark, path)
    assert(s1.isBuilt && s1.version == 1 && s1.size == 500 && !s1.isDirty &&
      s1.algorithm == t.codec.kind, t.name)
    // the index carries its FULL model: the sidecars round-trip the
    // session's trained model exactly, so append/query never depend
    // on the session memo
    val (m, buckets) = t.codec.readSidecars(spark, path)
    assert(t.flat(m) == t.flat(t.codec.corpus(spark, sf)._1),
      s"${t.name}: the _model/_meta sidecars must round-trip the trained model")
    assert(buckets == TierLifecycle.bucketsFor(500),
      s"${t.name}: the build's bucket count must persist in _meta")

    // append a COPY of vector 1 under a fresh id: identical content
    // must encode byte-identically under the frozen model
    import spark.implicits._
    val v1 = vecOf(1L)
    val s2 = TierLifecycle.append(t.codec, Seq((9999L, v1.toSeq)).toDF("id", "vec"), path)
    assert(s2.version == s1.version, s"${t.name}: append must not retrain")
    assert(s2.size == 501 && s2.dirtyCount == 1 && s2.isDirty, t.name)
    val p = payloads(t, path, 1L, 9999L)
    assert(p(9999L) == p(1L),
      s"${t.name}: identical content must encode byte-identically under the frozen model")

    // the disk query surfaces both copies as a tied top 2
    val top2 = TierLifecycle.query(t.codec, spark, path, v1, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top2.map(_._1).toSet == Set(1L, 9999L) && top2(0)._2 == top2(1)._2,
      s"${t.name}: the appended copy must tie with its original, got ${top2.toSeq}")
    if (t.codec == BqCodec)
      assert(top2.forall(_._2 == 0.0), s"BQ's copy must tie at hamming 0, got ${top2.toSeq}")
    // refined query against the primary store re-ranks exactly
    val refined = TierLifecycle.query(t.codec, spark, path, v1, k = 2,
      refineWith = Some(raw)).collect().map(_.getLong(0)).toSet
    assert(refined.contains(1L), s"${t.name}: refine must keep the exact nearest neighbor")
  }

  /** Delete rewrites only the hit bucket (untouched partitions keep
    * their files), read-back shrinks, and missing ids are a no-op.
    */
  protected def deleteRow(t: Tier[_], path: String): Unit = {
    val s1 = IndexLifecycle.status(spark, path)
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
    assert(before.size == TierLifecycle.bucketsFor(500),
      s"${t.name}: the build must land one partition per bucket")

    // id 0 lives in bucket 0 (cluster_id = id mod buckets)
    import spark.implicits._
    val s2 = TierLifecycle.delete(Seq(0L).toDF("id"), path)
    assert(s2.size == s1.size - 1 && s2.dirtyCount == 1 && s2.isDirty, t.name)
    assert(s2.version == s1.version, s"${t.name}: delete must not retrain")
    assert(spark.read.parquet(path).filter(col("id") === 0L).count() == 0)
    assert(spark.read.parquet(path).count() == 499, s"${t.name}: read-back must shrink")
    val after = partitionFiles()
    before.keys.filterNot(_ == "cluster_id=0").foreach { p =>
      assert(after(p) == before(p),
        s"${t.name}: partition $p was rewritten by an unrelated delete")
    }

    // missing ids are a no-op (reference remove_vector returns False)
    val s3 = TierLifecycle.delete(Seq(424242L).toDF("id"), path)
    assert(s3.size == s2.size && s3.dirtyCount == s2.dirtyCount, t.name)
  }

  /** The driver key's five-phase state table (build, append, delete,
    * status, rebuild) against the shared tier arithmetic.
    */
  protected def fivePhaseRow(t: Tier[_]): Unit = {
    val n = 500L
    val dd = math.ceil(0.05 * n).toLong
    val r = (0L until n).count(_ % 7 == 0).toLong
    val want = Seq(
      (1, 1, false, 0L, n, false),
      (2, 1, true, dd, n + dd, 1.0 * dd / n >= 0.1),
      (3, 1, true, dd + r, n + dd - r, 1.0 * (dd + r) / n >= 0.1),
      (4, 1, true, dd + r, n + dd - r, 1.0 * (dd + r) / n >= 0.1),
      (5, 2, false, 0L, n + dd - r, false))
    val got = TierLifecycle.fivePhase(spark, sf, t.codec).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getBoolean(2), x.getLong(3),
        x.getLong(4), x.getBoolean(5))).toSeq
    assert(got == want, t.name)
  }
}
