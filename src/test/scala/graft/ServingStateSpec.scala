package graft

import graft.functions.VectorMetric
import graft.operators.{GraphIndex, IndexLifecycle, Ivf, Pq, PqLifecycle, ServingState}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Staleness contract of the open-once serving state: for every index
  * kind, a query opens the tree, each graft writer of that tree runs,
  * and the next answer equals a cold load's. Writers that change what
  * an entry holds (builds, rebuilds, overwrites in place, and every
  * graph mutation, which rewrites the adjacency) leave no entry behind;
  * IVF and IVF-PQ list mutations keep the entry, whose quantizers they
  * do not touch, and the next query reuses it. A tree replaced without
  * any writer of this session reloads on its stamp alone — the state
  * record, or for a bare tree the sidecar files.
  */
class ServingStateSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark
  private lazy val corpusDir = ServingCorpus.create(spark)
  override def afterAll(): Unit = ServingCorpus.drop(corpusDir)

  private lazy val vecs = Tables.embeddings(spark, corpusDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val n = vecs.count()
  private lazy val qvec: Array[Float] =
    vecs.filter(col("id") === 3L).select("vec").head().getSeq[Float](0).toArray

  /** Re-keyed copies of the first `d` vectors: growth a query can see. */
  private def copies(from: Long, d: Long): DataFrame =
    vecs.filter(col("id") < d).select((col("id") + from).as("id"), col("vec"))

  private def held(p: String): Boolean = {
    val key = new Path(p).toString
    ServingState.openPaths.exists(e => e == key || e.startsWith(key + "/"))
  }

  private def withTree(prefix: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(s"$dir/idx") finally graft.streaming.Streams.deleteTree(dir)
  }

  /** A crashed delete's leftover staging dir: recoverMutation repairs it. */
  private def recover(p: String): Unit = {
    new java.io.File(s"$p/_delete_rewrite").mkdirs()
    assert(IndexLifecycle.recoverMutation(spark, p))
  }

  /** A writer row: its name, the write, and whether it must drop the
    * entry (false: the entry must survive and be reused).
    */
  private type Writer = (String, String => Unit, Boolean)

  /** Query, mutate, then: the entry is dropped or reused as the row
    * says, and the next answer equals the answer after an explicit drop
    * (a cold load).
    */
  private def checkWriters(p: String, query: String => Seq[Long],
                           open: String => AnyRef, writers: Seq[Writer]): Unit =
    writers.foreach { case (name, write, drops) =>
      withClue(s"after $name: ") {
        query(p)
        val before = open(p)
        write(p)
        assert(held(p) != drops,
          if (drops) "a serving entry survived the writer" else "the writer dropped the entry")
        val warm = query(p)
        if (!drops) {
          val reused = open(p) eq before
          assert(reused, "the entry was reloaded")
        }
        ServingState.drop(p)
        assert(warm == query(p), "answer differs from a cold load's")
      }
    }

  test("IVF lifecycle: builds drop the serving state, list mutations reuse it") {
    withTree("graft_serve_ivf") { p =>
      IndexLifecycle.build(vecs, p, kOpt = Some(12))
      checkWriters(p,
        IndexLifecycle.query(spark, _, qvec, k = 10, nprobe = 3)
          .collect().map(_.getLong(0)).toSeq,
        ServingState.ivf(spark, _),
        Seq[Writer](
          ("markDirty", IndexLifecycle.markDirty(spark, _, 1L), false),
          ("append", IndexLifecycle.append(copies(n, 20), _), false),
          ("compact", p => assert(IndexLifecycle.compact(spark, p, maxFiles = 1) > 0), false),
          ("delete", IndexLifecycle.delete(vecs.filter(col("id") % 5 === 0).select("id"), _),
            false),
          ("recoverMutation", recover, false),
          ("rebuild", IndexLifecycle.build(vecs, _, kOpt = Some(8)), true),
          // wipes the state record: the tree is bare from here on
          ("writeIndex in place", Ivf.writeIndex(spark, corpusDir, _), true)))
    }
  }

  test("IVF-PQ lifecycle and bare trees: builds drop the serving state, list mutations reuse it") {
    withTree("graft_serve_pq") { p =>
      PqLifecycle.build(spark, corpusDir, p)
      checkWriters(p,
        Pq.queryIvfPq(spark, _, qvec, k = 10, nprobe = 3, refineWith = None)
          .collect().map(_.getLong(0)).toSeq,
        ServingState.pq(spark, _),
        Seq[Writer](
          ("append", PqLifecycle.append(copies(n, 20), _), false),
          ("compact", p => assert(IndexLifecycle.compact(spark, p, maxFiles = 1) > 0), false),
          ("delete", PqLifecycle.delete(vecs.filter(col("id") % 5 === 0).select("id"), _),
            false),
          ("recoverMutation", recover, false),
          ("rebuild", PqLifecycle.rebuild(vecs, _), true),
          // the overwrites below wipe the state record: from here on the
          // tree is bare
          ("writeIvfPq in place", Pq.writeIvfPq(spark, corpusDir, _, m = 4), true),
          ("writeIvfPqFrom in place", Pq.writeIvfPqFrom(vecs, _, m = 16,
            metric = VectorMetric.L2, opq = false), true)))
    }
  }

  test("graph index: every writer drops the serving state, adjacency included") {
    withTree("graft_serve_graph") { p =>
      GraphIndex.build(spark, corpusDir, p)
      val queries = vecs.filter(col("id") < 4L).select((col("id") + 10 * n).as("id"), col("vec"))
      checkWriters(p,
        GraphIndex.queryGraphBatch(spark, _, queries, 5)
          .collect().map(r => r.getLong(0) * 100000 + r.getLong(1)).toSeq,
        ServingState.graph(spark, _),
        Seq[Writer](
          ("append", GraphIndex.append(copies(n, 20), _), true),
          ("compact", p => assert(GraphIndex.compact(spark, p, maxFiles = 1) > 0), true),
          ("delete", GraphIndex.delete(vecs.filter(col("id") % 5 === 0).select("id"), _), true),
          ("rebuild", GraphIndex.rebuild(spark, _), true)))
    }
  }

  /** A plain directory swap, as another session's rebuild lands: no
    * graft writer of this session runs, so no drop happens.
    */
  private def swapIn(p: String, other: String): Unit = {
    assert(new java.io.File(p).renameTo(new java.io.File(s"${p}_old")))
    assert(new java.io.File(other).renameTo(new java.io.File(p)))
  }

  test("a tree replaced behind the registry's back reloads on its stamp") {
    withTree("graft_serve_swap") { p =>
      IndexLifecycle.build(vecs, p, kOpt = Some(12))
      val other = s"${p}_other"
      IndexLifecycle.build(vecs, other, kOpt = Some(8))
      def ask(path: String) = IndexLifecycle.query(spark, path, qvec, k = 10, nprobe = 3)
        .collect().map(_.getLong(0)).toSeq
      ask(p)
      swapIn(p, other)
      assert(ServingState.ivf(spark, p).centroids.length == 8,
        "served the replaced tree's centroids")
      val got = ask(p)
      ServingState.drop(p)
      assert(got == ask(p), "answer differs from a cold load's")
      // a tree deleted outside graft loses its entry at the next load
      graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(p))
      ask(s"${p}_old")
      assert(!held(p), "a deleted tree kept its serving entry")
    }
    withTree("graft_serve_swap_bare") { p =>
      // bare trees: no state record, so only the sidecar files change
      Pq.writeIvfPq(spark, corpusDir, p)
      val other = s"${p}_other"
      Pq.writeIvfPq(spark, corpusDir, other, m = 4)
      def ask(path: String) = Pq.queryIvfPq(spark, path, qvec, k = 10, nprobe = 3,
        refineWith = None).collect().map(_.getLong(0)).toSeq
      ask(p)
      swapIn(p, other)
      assert(ServingState.pq(spark, p).model.m == 4, "served the replaced tree's codebooks")
      val got = ask(p)
      ServingState.drop(p)
      assert(got == ask(p), "answer differs from a cold load's")
    }
  }

  test("temp-tree cleanup drops the serving state of every tree under the root") {
    // a memo dir of its own, so the drop keeps the corpus dir's memos
    val memoDir = s"$corpusDir#temp-tree"
    val p = Memo.tree(memoDir, "serve")(Pq.writeIvfPq(spark, corpusDir, _))
    val root = new java.io.File(p).getParentFile
    Pq.queryIvfPq(spark, p, qvec, k = 5, nprobe = 2).collect()
    assert(held(p))
    Memo.invalidate(memoDir)
    assert(!held(p) && !root.exists())
  }

  test("a probe landing on a list emptied by a delete ranks the other probed lists") {
    def emptyOwnList(p: String, idCol: String): Set[Long] = {
      val lists = spark.read.parquet(p)
      val own = lists.filter(col(idCol) === 3L).select("cluster_id").head().getInt(0)
      lists.filter(col("cluster_id") === own).select(idCol).collect().map(_.getLong(0)).toSet
    }
    withTree("graft_serve_empty_ivf") { p =>
      IndexLifecycle.build(vecs, p, kOpt = Some(12))
      def ask(np: Int) = IndexLifecycle.query(spark, p, qvec, k = 10, nprobe = np)
        .collect().map(_.getLong(0)).toSeq
      ask(3)
      val gone = emptyOwnList(p, "neighbor_id")
      import spark.implicits._
      IndexLifecycle.delete(gone.toSeq.toDF("id"), p)
      val got = ask(3)
      assert(got.nonEmpty && got.toSet.intersect(gone).isEmpty, s"got $got")
      assert(ask(1).isEmpty, "the only probed list is gone: no rows, no failure")
    }
    withTree("graft_serve_empty_pq") { p =>
      PqLifecycle.build(spark, corpusDir, p)
      def ask(np: Int) = Pq.queryIvfPq(spark, p, qvec, k = 10, nprobe = np, refineWith = None)
        .collect().map(_.getLong(0)).toSeq
      ask(3)
      val gone = emptyOwnList(p, "id")
      import spark.implicits._
      PqLifecycle.delete(gone.toSeq.toDF("id"), p)
      val got = ask(3)
      assert(got.nonEmpty && got.toSet.intersect(gone).isEmpty, s"got $got")
      assert(ask(1).isEmpty, "the only probed list is gone: no rows, no failure")
    }
  }
}

/** A generated corpus dir for the serving specs: `embeddings.parquet`
  * with 500 vectors of dim 64 drawn around 16 gaussian centres, the
  * shape of the small fixture corpora. The index builders read it like
  * any corpus dir; [[drop]] releases the session memos they keep per
  * dir, then deletes it.
  */
object ServingCorpus {
  def create(spark: SparkSession): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_serving_corpus").toString
    val rnd = new scala.util.Random(7)
    val centres = Array.fill(16, 64)(rnd.nextGaussian().toFloat)
    import spark.implicits._
    (0 until 500)
      .map(i => (i.toLong, centres(i % 16).map(_ + 0.3f * rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  def drop(dir: String): Unit = {
    Memo.invalidate(dir)
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(dir))
  }
}
