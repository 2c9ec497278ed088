package graft

import graft.operators.{GraphIndex, IndexLifecycle, Pq, PqLifecycle, ServingState}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Job ceilings of a WARM point query over each persisted index kind:
  * once a tree is open, a call runs one job per data pass — IVF and
  * IVF-PQ one over the probed lists, IVF-PQ with exact refine one more
  * over the refine source (whose schema is memoised too), the graph one
  * over its buckets, merged on the driver, the session graph keys one
  * over the broadcast session graph — and no schema inference,
  * sidecar reload, listing of every list or re-symmetrised adjacency.
  * A change that brings back a per-call metadata job or an extra merge
  * stage fails here.
  */
class ServingJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark
  private lazy val corpusDir = ServingCorpus.create(spark)
  override def afterAll(): Unit = {
    ServingCorpus.drop(corpusDir)
    graft.streaming.Streams.deleteTree(graphRoot)
  }

  private lazy val vecs = Tables.embeddings(spark, corpusDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val qvec: Array[Float] =
    vecs.filter(col("id") === 7L).select("vec").head().getSeq[Float](0).toArray

  private def jobsOf(body: => Unit): Int = TestSession.jobsOf(body)

  private def withTree(prefix: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(s"$dir/idx") finally graft.streaming.Streams.deleteTree(dir)
  }

  /** Cold then warm job counts of `call`; the warm answer must equal
    * the cold one.
    */
  private def coldWarm(call: () => Seq[Any]): (Int, Int) = {
    var cold: Seq[Any] = Nil; var warm: Seq[Any] = Nil
    val c = jobsOf { cold = call() }
    val w = jobsOf { warm = call() }
    assert(warm == cold, "a warm call must answer as the cold one did")
    info(s"jobs: cold $c, warm $w")
    (c, w)
  }

  test("IndexLifecycle.query: a warm call runs at most 1 job") {
    withTree("graft_jobs_ivf") { p =>
      // more lists than Spark's parallel-listing threshold (32): a
      // per-call listing of the whole root would be one more job
      IndexLifecycle.build(vecs, p, kOpt = Some(40))
      val (_, warm) = coldWarm(() =>
        IndexLifecycle.query(spark, p, qvec, k = 10, nprobe = 8).collect().toSeq)
      assert(warm <= 1, s"warm IndexLifecycle.query ran $warm jobs")
    }
  }

  test("Pq.queryIvfPq (no refine) over a bare tree: a warm call runs at most 1 job") {
    withTree("graft_jobs_pq") { p =>
      Pq.writeIvfPq(spark, corpusDir, p)
      val (_, warm) = coldWarm(() =>
        Pq.queryIvfPq(spark, p, qvec, k = 10, nprobe = 8, refineWith = None).collect().toSeq)
      assert(warm <= 1, s"warm Pq.queryIvfPq ran $warm jobs")
    }
  }

  test("Pq.queryIvfPq refined from Tables.embeddings, read inside the call: at most 2 jobs") {
    withTree("graft_jobs_pq_refine") { p =>
      Pq.writeIvfPq(spark, corpusDir, p)
      // the serving client's call shape: the refine table is opened
      // per call, so its read counts too
      val (_, warm) = coldWarm(() =>
        Pq.queryIvfPq(spark, p, qvec, k = 10, nprobe = 8,
          refineWith = Some(Tables.embeddings(spark, corpusDir))).collect().toSeq)
      // the shortlist collect, then the id-filtered refine scan
      assert(warm <= 2, s"warm refined Pq.queryIvfPq ran $warm jobs")
    }
  }

  test("PqLifecycle.append keeps the tree open: no model reload, the next query stays warm") {
    withTree("graft_jobs_pq_append") { p =>
      PqLifecycle.build(spark, corpusDir, p)
      def batch(from: Long) =
        vecs.filter(col("id") < 10L).select((col("id") + from).as("id"), col("vec"))
      def ask() =
        Pq.queryIvfPq(spark, p, qvec, k = 10, nprobe = 8, refineWith = None).collect().toSeq
      ServingState.drop(p)
      val cold = jobsOf(PqLifecycle.append(batch(100000L), p))
      val warm = jobsOf(PqLifecycle.append(batch(200000L), p))
      val query = jobsOf(ask())
      info(s"append jobs: cold $cold, warm $warm; query after append $query")
      // a model load is at least three collects (centroids, codebooks, `_meta`)
      assert(warm + 3 <= cold, s"a warm append ran $warm jobs, a cold one $cold")
      assert(query <= 1, s"the query after an append ran $query jobs")
    }
  }

  /** One graph tree for both serving faces, built on first use. */
  private lazy val graphRoot = java.nio.file.Files.createTempDirectory("graft_jobs_graph")
  private lazy val graphTree: String = {
    val p = s"$graphRoot/idx"
    GraphIndex.build(spark, corpusDir, p)
    p
  }
  // one out-of-corpus query as a local frame, as a serving client sends it
  private def graphQuery = {
    import spark.implicits._
    Seq((-1L, qvec.toSeq)).toDF("id", "vec")
  }

  test("GraphIndex.queryGraphBatch: a warm call runs at most 1 job") {
    val p = graphTree
    val (_, warm) = coldWarm(() =>
      GraphIndex.queryGraphBatch(spark, p, graphQuery, 10).collect().toSeq)
    // the bucket tasks; their answers merge on the driver
    assert(warm <= 1, s"warm queryGraphBatch ran $warm jobs")
  }

  private val sf = "/root/testdata/sf0.001"

  test("GraphIndex.graphTopk over sf0.001: a warm call runs at most 1 job") {
    val (_, warm) = coldWarm(() => GraphIndex.graphTopk(spark, sf).collect().toSeq)
    // the kernel tasks over the broadcast session graph
    assert(warm <= 1, s"warm graphTopk ran $warm jobs")
  }

  test("GraphIndex.graphTopkFiltered (label selector) over sf0.001: a warm call runs at most 2 jobs") {
    val sel = Tables.embeddings(spark, sf).filter(col("label").isin(2, 5, 7))
      .select(col("vec_id").as("id"))
    val (_, warm) = coldWarm(() => GraphIndex.graphTopkFiltered(spark, sf, 5, sel).collect().toSeq)
    // the selector pass, then the kernel tasks
    assert(warm <= 2, s"warm graphTopkFiltered ran $warm jobs")
  }

  test("GraphIndex.queryGraphBatchFiltered: a warm call runs at most 10 jobs") {
    // serves from the tree's open state: no sidecar re-read, no
    // `_vectors` inference
    val p = graphTree
    val even = vecs.filter(col("id") % 2 === 0).select("id")
    ServingState.drop(p)
    val (_, warm) = coldWarm(() =>
      GraphIndex.queryGraphBatchFiltered(spark, p, graphQuery, 10, even).collect().toSeq)
    assert(warm <= 10, s"warm queryGraphBatchFiltered ran $warm jobs")
  }
}
