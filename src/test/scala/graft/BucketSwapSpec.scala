package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{BucketSwap, GraphIndex, IndexLifecycle, Pq, PqLifecycle, ServingState,
  Sq8Codec, TierLifecycle}
import graft.operators.BucketSwap.Step
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs an action at a named step of the bucket-swap protocol. */
object Faults {

  /** The exception a fault row throws, standing in for a crash. */
  final class Injected(step: Step) extends RuntimeException(s"injected fault at $step")

  /** Run `body` with `action` hooked to the `nth` call of `step` on the
    * tree at `root`; reports whether the action ran. Other steps, other
    * trees and later calls are left alone, so an action may itself
    * mutate the tree.
    */
  def at[T](root: String, step: Step, nth: Int = 1)(action: => Unit)(body: => T): (T, Boolean) = {
    val calls = new AtomicInteger()
    BucketSwap.beforeStep = (r, s) => if (r == root && s == step && calls.incrementAndGet() == nth) action
    try (body, calls.get() >= nth) finally BucketSwap.beforeStep = (_, _) => ()
  }

  /** Run `body` with an [[Injected]] fault at the `nth` call of `step`;
    * true when the fault fired (and so `body` failed).
    */
  def crash(root: String, step: Step, nth: Int = 1)(body: => Unit): Boolean =
    try { at(root, step, nth)(throw new Injected(step))(body); false }
    catch { case _: Injected => true }
}

/** The fault table of the bucket-swap protocol: one row per lifecycle
  * (IVF, IVF-PQ, SQ8 standing in for the flat tiers, graph) and step
  * that lifecycle runs. Each row throws at its step; the tree must then
  * serve exactly its pre- or post-mutation contents or refuse loudly,
  * and recovery (recoverMutation, or the graph's rebuild) must restore
  * them. The streamed rows replay their batch after recovery, which
  * must land it exactly once. Every tree is a copy of one small base
  * tree per lifecycle.
  */
class BucketSwapSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark

  private val root = java.nio.file.Files.createTempDirectory("graft_bswap")
  private val copies = new AtomicInteger()

  /** 256 vectors of dim 16 around 8 centres. */
  private val corpusDir = s"$root/corpus"
  private lazy val corpus: String = {
    val dir = corpusDir
    val rnd = new scala.util.Random(11)
    val centres = Array.fill(8, 16)(rnd.nextGaussian().toFloat)
    val s = spark
    import s.implicits._
    (0 until 256)
      .map(i => (i.toLong, centres(i % 8).map(_ + 0.3f * rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val vecs: DataFrame = Tables.embeddings(spark, corpus)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val q: Array[Float] =
    vecs.filter(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
  private lazy val allIds: Set[Long] = (0L until 256L).toSet

  override def afterAll(): Unit = {
    Memo.invalidate(corpusDir)
    graft.streaming.Streams.deleteTree(root)
  }

  /** A lifecycle under test: its base tree, its serve path (the ids a
    * query can return; throws when the tree refuses) and its mutations.
    */
  private abstract class Lc(val name: String) {
    protected def buildAt(path: String): Unit
    lazy val base: String = { val p = s"$root/base_$name"; buildAt(p); p }
    def served(p: String): Set[Long]
    def append(p: String, batch: DataFrame, streamBatch: Option[Long]): Unit
    def delete(p: String, ids: DataFrame): Unit
    /** Rebuild over the tree's current contents `ids`. */
    def rebuild(p: String, ids: Set[Long]): Unit
    def recover(p: String): Unit = IndexLifecycle.recoverMutation(spark, p)
    def steps: Seq[Step]
  }

  private def current(ids: Set[Long]): DataFrame =
    vecs.filter(col("id").isin(ids.filter(_ < 256L).toSeq: _*))
      .unionAll(batch.filter(col("id").isin(ids.filter(_ >= 256L).toSeq: _*)))

  private val mutationSteps: Seq[Step] =
    Seq(Step.Refuse, Step.Stage, Step.StateWrite, Step.Swap, Step.MoveIn,
      Step.RestoreAsides, Step.Recover)

  private val ivf = new Lc("ivf") {
    protected def buildAt(p: String): Unit = { IndexLifecycle.build(vecs, p, kOpt = Some(8)); () }
    def served(p: String): Set[Long] =
      IndexLifecycle.query(spark, p, q, k = 1000, nprobe = 1000)
        .collect().map(_.getLong(0)).toSet
    def append(p: String, b: DataFrame, s: Option[Long]): Unit = {
      require(s.isEmpty); IndexLifecycle.append(b, p); ()
    }
    def delete(p: String, ids: DataFrame): Unit = { IndexLifecycle.delete(ids, p); () }
    def rebuild(p: String, ids: Set[Long]): Unit = sys.error("IVF rebuilds by build()")
    def steps: Seq[Step] = mutationSteps
  }

  private val pq = new Lc("ivfpq") {
    protected def buildAt(p: String): Unit = { PqLifecycle.build(spark, corpus, p, m = 4); () }
    def served(p: String): Set[Long] =
      Pq.queryIvfPq(spark, p, q, k = 1000, nprobe = Int.MaxValue, refineWith = None)
        .collect().map(_.getLong(0)).toSet
    def append(p: String, b: DataFrame, s: Option[Long]): Unit = {
      PqLifecycle.append(b, p, s, s.map(_ => "stream")); ()
    }
    def delete(p: String, ids: DataFrame): Unit = { PqLifecycle.delete(ids, p); () }
    def rebuild(p: String, ids: Set[Long]): Unit = { PqLifecycle.rebuild(current(ids), p); () }
    def steps: Seq[Step] = mutationSteps :+ Step.TreeSwap
  }

  private val sq8 = new Lc("sq8") {
    protected def buildAt(p: String): Unit = {
      TierLifecycle.build(Sq8Codec(), spark, corpus, p); ()
    }
    def served(p: String): Set[Long] =
      TierLifecycle.query(Sq8Codec(), spark, p, q, k = 1000)
        .collect().map(_.getLong(0)).toSet
    def append(p: String, b: DataFrame, s: Option[Long]): Unit = {
      TierLifecycle.append(Sq8Codec(), b, p, s, s.map(_ => "stream")); ()
    }
    def delete(p: String, ids: DataFrame): Unit = { TierLifecycle.delete(ids, p); () }
    def rebuild(p: String, ids: Set[Long]): Unit = {
      TierLifecycle.rebuild(Sq8Codec(), current(ids), p); ()
    }
    def steps: Seq[Step] = mutationSteps :+ Step.TreeSwap
  }

  private val graph = new Lc("graph") {
    protected def buildAt(p: String): Unit = { GraphIndex.build(spark, corpus, p); () }
    def served(p: String): Set[Long] = {
      val s = spark
      import s.implicits._
      GraphIndex.queryGraphBatch(spark, p, Seq((-1L, q.toSeq)).toDF("id", "vec"), 1).collect()
      ServingState.graph(spark, p).vectors(spark).collect().map(_.getLong(0)).toSet
    }
    def append(p: String, b: DataFrame, s: Option[Long]): Unit = {
      GraphIndex.append(b, p, s, s.map(_ => "stream")); ()
    }
    def delete(p: String, ids: DataFrame): Unit = { GraphIndex.delete(ids, p); () }
    def rebuild(p: String, ids: Set[Long]): Unit = { GraphIndex.rebuild(spark, p); () }
    // a graph tree recovers inside its rebuild
    override def recover(p: String): Unit = { GraphIndex.rebuild(spark, p); () }
    def steps: Seq[Step] = mutationSteps :+ Step.TreeSwap
  }

  /** 20 arrivals with new ids, copies of the first 20 vectors. */
  private lazy val batch: DataFrame =
    vecs.filter(col("id") < 20L).select((col("id") + 1000L).as("id"), col("vec"))
  private lazy val batchIds: Set[Long] = (1000L until 1020L).toSet
  /** Every 8th id: rows in many buckets of every layout. */
  private lazy val deleted: Set[Long] = allIds.filter(_ % 8 == 0)

  private sealed trait Op
  private case object Append extends Op
  private case object Stream extends Op
  private case object Delete extends Op
  private case object Rebuild extends Op

  /** One row: the mutation, the step its fault hits (and the call of
    * that step), and for the recovery steps the crash that recovery
    * then repairs.
    */
  private case class Row(lc: Lc, op: Op, step: Step, nth: Int = 1,
                         crash: Option[(Step, Int)] = None)

  private def rowsOf(lc: Lc): Seq[Row] = lc.steps.flatMap {
    case Step.Swap => Seq(Row(lc, Delete, Step.Swap))
    // the second file: a partial move-in
    case Step.MoveIn => Seq(Row(lc, Append, Step.MoveIn, 2))
    case Step.RestoreAsides => Seq(Row(lc, Delete, Step.RestoreAsides, 1, Some((Step.Swap, 1))))
    case Step.Recover => Seq(Row(lc, Append, Step.Recover, 1, Some((Step.MoveIn, 2))))
    // before the abort check, and between the move-aside and the swap-in
    case Step.TreeSwap => Seq(Row(lc, Rebuild, Step.TreeSwap, 1), Row(lc, Rebuild, Step.TreeSwap, 2))
    case s => Seq(Row(lc, Append, s))
  } ++ (if (lc eq ivf) Nil else Seq(Row(lc, Stream, Step.MoveIn, 2)))

  /** A fresh copy of `lc`'s base tree. */
  private def copyOf(lc: Lc): String = {
    val p = s"$root/${lc.name}_${copies.incrementAndGet()}"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(lc.base), new java.io.File(p))
    p
  }

  private def servedOrRefused(lc: Lc, p: String): Option[Set[Long]] =
    try Some(lc.served(p)) catch { case _: Exception => None }

  private def run(r: Row): Unit = {
    val lc = r.lc
    val p = copyOf(lc)
    val pre = allIds
    val post = r.op match {
      case Append | Stream => pre ++ batchIds
      case Delete => pre -- deleted
      case Rebuild => pre
    }
    val s0 = IndexLifecycle.status(spark, p)
    def mutate(): Unit = r.op match {
      case Append => lc.append(p, batch, None)
      case Stream => lc.append(p, batch, Some(0L))
      case Delete =>
        val s = spark
        import s.implicits._
        lc.delete(p, deleted.toSeq.toDF("id"))
      case Rebuild => lc.rebuild(p, pre)
    }
    // the mutation crashes at its step; the recovery rows' crash comes
    // first and recovery itself then fails at the row's step
    val (first, nth) = r.crash.getOrElse((r.step, r.nth))
    assert(Faults.crash(p, first, nth)(mutate()), s"no fault at $first (call $nth)")
    def inBounds(ids: Set[Long]): Boolean = ids == pre || ids == post
    servedOrRefused(lc, p).foreach(ids =>
      assert(inBounds(ids), s"served neither the pre- nor the post-mutation contents"))
    if (r.crash.isDefined) {
      assert(Faults.crash(p, r.step, r.nth)(lc.recover(p)), s"no fault at ${r.step} in recovery")
      servedOrRefused(lc, p).foreach(ids =>
        assert(inBounds(ids), s"after a failed recovery served neither contents"))
    }
    lc.recover(p)
    val got = lc.served(p)
    val st = IndexLifecycle.status(spark, p)
    assert(st.size == got.size, s"state size ${st.size} != ${got.size} served")
    r.op match {
      case Delete =>
        // a delete crashed mid-swap removed some of its ids; re-issuing
        // it converges
        assert(post.subsetOf(got) && got.subsetOf(pre), "recovered contents out of bounds")
        mutate()
        assert(lc.served(p) == post)
      case Rebuild =>
        assert(got == pre)
        // a graph tree's recovery already rebuilt it
        if (lc ne graph) mutate()
        assert(lc.served(p) == pre && IndexLifecycle.status(spark, p).version > s0.version)
      case Append =>
        assert(inBounds(got), "recovered neither contents")
        // an append whose state write landed is never lost
        if (r.step != Step.Refuse && r.step != Step.Stage && r.step != Step.StateWrite)
          assert(got == post, "recovery lost an accounted append")
      case Stream =>
        assert(got == post, "recovery lost an accounted streamed batch")
        // the stream replays the batch: it lands exactly once
        mutate()
        assert(lc.served(p) == post && IndexLifecycle.status(spark, p).size == post.size)
    }
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(p))
  }

  Seq(ivf, pq, sq8, graph).foreach { lc =>
    test(s"fault table: ${lc.name}") {
      val t0 = System.nanoTime()
      rowsOf(lc).foreach { r =>
        val t = System.nanoTime()
        withClue(s"${lc.name} ${r.op} fault at ${r.step} (call ${r.nth}): ") { run(r) }
        info(f"${r.op} ${r.step} ${r.nth}: ${(System.nanoTime() - t) / 1e9}%.1f s")
      }
      info(f"${rowsOf(lc).size} rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  test("recovery fails loudly on an unreadable staged part file and keeps the staging") {
    val p = copyOf(ivf)
    val s0 = IndexLifecycle.status(spark, p)
    // an append that crashed after its state write, its staged file unreadable
    val bucket = new java.io.File(s"$p/_append_tmp/cluster_id=0")
    assert(bucket.mkdirs())
    java.nio.file.Files.write(bucket.toPath.resolve("part-00000-0.snappy.parquet"),
      "not parquet".getBytes("UTF-8"))
    IndexLifecycle.writeState(spark, p, s0.copy(isDirty = true, dirtyCount = 1L, size = s0.size + 1))
    intercept[Exception](IndexLifecycle.recoverMutation(spark, p))
    assert(new java.io.File(s"$p/_append_tmp").exists, "recovery discarded the staging")
    intercept[IllegalArgumentException](ivf.served(p))
  }

  test("no crash-consistency move outside BucketSwap: no other operator renames or builds an aside") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, s"run from the repository root (no ${dir.getAbsolutePath})")
    val offenders = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "BucketSwap.scala")
      .filter { f =>
        val src = java.nio.file.Files.readString(f.toPath)
        src.contains(".rename(") || src.contains("_old_")
      }
    assert(offenders.isEmpty,
      s"bucket moves outside BucketSwap: ${offenders.mkString(", ")}; use its steps")
  }
}
