package graft.perfbench

import graft.Tables
import graft.functions.{VectorFunctions, VectorMetric}
import graft.operators._
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A workload: a set-up (input generation and index builds), warm-up
  * calls, a timed round, and the figures it reports.
  */
trait Workload {
  type S
  def name: String
  def setup(h: Harness, dir: String): S
  def warmup(h: Harness, s: S): Unit
  def round(h: Harness, s: S, r: Int): Unit
  /** Fewest timed rounds a run takes, however long they are. */
  def minRounds: Int = 5
  /** Calls made once per run, before the timed rounds. */
  def once(h: Harness, s: S): Unit = ()
  /** Calls made once per traced run, after the timed rounds: layers
    * measured for the per-layer table only, kept out of the untraced
    * runs so those spend their time on the gated rounds.
    */
  def tracedOnly(h: Harness, s: S): Unit = ()
  /** Run-level checks and the figures the run reports. */
  def outcome(h: Harness, s: S): Outcome
  /** Items one batch call handles, for the per-layer rates. */
  def itemsPerCall: Map[String, Double] = Map.empty
}

object Workload {
  val all: Seq[Workload] = Seq(ServePoint, BatchKnn)
  val K = 10
  val Nprobe = 8

  def detail(name: String, xs: Seq[Double], unit: String): (String, Double, String, Int) =
    (name, Stats.median(xs), unit, xs.length)

  def corpusFrame(h: Harness, dir: String) =
    Tables.embeddings(h.spark, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
}

import Workload._

/** Point queries, one client, round robin over three persisted indexes
  * built once over a clustered corpus. Each answer's tasks use a few
  * percent of the cores' time, so latency is job count, planning and
  * driver round trips.
  */
object ServePoint extends Workload {
  val N = 4000; val Dim = 64; val Clusters = 32; val Sigma = 0.4; val NQueries = 256
  /** Lowest mean recall@10 per path a run may report: each path's
    * lowest over ten seeds, less a margin (IVF and graph 1.0, PQ 0.9).
    */
  val RecallFloor = Map("ivf" -> 0.9, "pq" -> 0.8, "graph" -> 0.9)

  final class S(val dir: String, val live: Oracle.LiveSet, val queries: Array[Array[Float]]) {
    val ivf = s"$dir/ivf"; val pq = s"$dir/ivfpq"; val graph = s"$dir/graph"
    val recall = mutable.LinkedHashMap("ivf" -> mutable.ArrayBuffer.empty[Double],
      "pq" -> mutable.ArrayBuffer.empty[Double], "graph" -> mutable.ArrayBuffer.empty[Double])
  }
  def name = "serve_point"

  def setup(h: Harness, dir: String): S = {
    val m = Gen.mixture(h.seed, Clusters, Dim, Sigma)
    val s = h.inPhase("generate") {
      val c = Gen.corpus(m, h.seed, N)
      h.writeCorpus(dir, c)
      new S(dir, new Oracle.LiveSet(c.ids, c.vecs), Gen.queries(m, h.seed, NQueries))
    }
    h.inPhase("build") {
      h.op("IndexLifecycle", "build")(IndexLifecycle.build(corpusFrame(h, dir), s.ivf))
      h.op("Pq", "writeIvfPq")(Pq.writeIvfPq(h.spark, dir, s.pq))
      h.op("GraphIndex", "build")(GraphIndex.build(h.spark, dir, s.graph))
    }
    s
  }

  // a fresh JVM's first rounds run slowest; two warm-up rounds keep
  // the steepest part of that curve out of the timed median
  def warmup(h: Harness, s: S): Unit =
    Seq(s.queries.last, s.queries(NQueries - 2)).foreach(queryAll(h, s, _, record = false))

  override def minRounds = 7

  private def queryAll(h: Harness, s: S, q: Array[Float], record: Boolean): Unit = {
    def rec(path: String, got: Option[Array[(Long, Double)]], d: Oracle.Dist): Unit =
      got.foreach { g =>
        val r = h.checkAnswer(path, q, g, s.live, K, d)
        if (record) s.recall(path) += r
      }
    rec("ivf", h.op("IndexLifecycle", "query")(
      h.ranked(IndexLifecycle.query(h.spark, s.ivf, q, K, Nprobe).collect())), Oracle.l2)
    rec("pq", h.op("Pq", "queryIvfPq")(h.ranked(Pq.queryIvfPq(h.spark, s.pq, q, K, Nprobe,
      refineWith = Some(Tables.embeddings(h.spark, s.dir))).collect())), Oracle.l2)
    rec("graph", h.op("GraphIndex", "queryGraphBatch")(h.ranked(GraphIndex.queryGraphBatch(
      h.spark, s.graph, h.idVecFrame(Array(-1L), Array(q)), K).collect())), Oracle.cosine)
  }

  def round(h: Harness, s: S, r: Int): Unit = queryAll(h, s, s.queries(r % NQueries), record = true)

  def outcome(h: Harness, s: S): Outcome = {
    s.recall.foreach { case (path, v) =>
      h.checkRun(Stats.mean(v) >= RecallFloor(path),
        f"$path mean recall@$K ${Stats.mean(v)}%.3f below floor ${RecallFloor(path)}")
    }
    val ivf = h.timed("IndexLifecycle.query"); val pq = h.timed("Pq.queryIvfPq")
    val graph = h.timed("GraphIndex.queryGraphBatch")
    val rounds = ivf.indices.map(i => ivf(i) + pq.lift(i).getOrElse(0.0) + graph.lift(i).getOrElse(0.0))
    // each serving path weighs the same: a cut of x% on any one path
    // moves the gated figure by about x/3%, where in the round's sum the
    // graph path (over half of it) would drown a cut on IVF
    Outcome(Stats.geomean(Seq(ivf, pq, graph).map(Stats.median(_))),
      Seq(detail("round_p50_ms", rounds, "ms"),
        ("recall", s.recall.values.map(Stats.mean(_)).min, "ratio", ivf.length),
        detail("ivf_p50_ms", ivf, "ms"), ("ivf_p90_ms", Stats.quantile(ivf, 0.9), "ms", ivf.length),
        detail("pq_p50_ms", pq, "ms"), detail("graph_p50_ms", graph, "ms")) ++
        s.recall.map { case (k, v) => (s"${k}_recall", Stats.mean(v), "ratio", v.length) },
      Map("IndexLifecycle.files" -> h.partFiles(s.ivf).toDouble,
        "GraphIndex.files" -> h.partFiles(s.graph).toDouble))
  }
}

/** Bulk k-NN, one call at a time with all cores inside Spark: exact
  * k-NN for an external query batch large enough that the distance
  * kernel dominates the call. The end-to-end round is that call alone.
  *
  * After the rounds, once per traced run and outside the gated
  * figures: one IVF self-join ANN pass over the corpus (unwarmed; its
  * last stage runs on a few tasks, one doing nearly all the work, so
  * its wall time spread ~25% across seeds), a distance-only pass over
  * the k-NN cross product, and the fuzzy-dedup pipeline on one
  * generated text shard, so the `Dedup`/`TextOps`/`MinHashAgg` layers
  * are measured and checked on every traced run.
  */
object BatchKnn extends Workload {
  val N = 4000; val Dim = 64; val Clusters = 256; val Sigma = 0.4
  val Batch = 2048; val Batches = 2; val Sampled = 200; val Docs = 1000
  /** Lowest ANN recall@10 a run may report: 0.982 over ten seeds, less a margin. */
  val AnnRecallFloor = 0.95
  /** Lowest share of planted duplicates the dedup pass must remove. */
  val DedupRecallFloor = 0.9

  final class S(val dir: String, val ids: Array[Long], val vecs: Array[Array[Float]],
                val batches: Array[Array[Array[Float]]], val sample: Array[Int]) {
    lazy val knnTruth: Array[Array[Array[(Long, Double)]]] =
      batches.map(Oracle.topKAll(_, ids, vecs, K, Oracle.l2))
    lazy val annTruth: Array[Array[(Long, Double)]] = sample.map { i =>
      Oracle.topK(vecs(i), ids, vecs, K + 1, Oracle.l2).filter(_._1 != ids(i)).take(K)
    }
    val annRecall = mutable.ArrayBuffer.empty[Double]
    var plantedDups = 0L; var removedDups = 0L
  }
  def name = "batch_knn"

  def setup(h: Harness, dir: String): S = {
    val m = Gen.mixture(h.seed, Clusters, Dim, Sigma)
    val s = h.inPhase("generate") {
      val c = Gen.corpus(m, h.seed, N)
      h.writeCorpus(dir, c)
      val qs = Gen.queries(m, h.seed, Batch * Batches)
      val r = Gen.rng(h.seed, "sample")
      new S(dir, c.ids, c.vecs, qs.grouped(Batch).toArray, Array.fill(Sampled)(r.nextInt(N)))
    }
    h.inPhase("build")(h.op("Ivf", "warmIndex")(Ivf.warmIndex(h.spark, dir)))
    s
  }

  // unchecked: the oracle's brute force runs in `once`, outside set-up;
  // one call per query batch, since a fresh JVM's second k-NN call still
  // ran ~25% slower than the ones after it
  def warmup(h: Harness, s: S): Unit = {
    (0 until Batches).foreach(knn(h, s, _, check = false))
    l2Pass(h, s)
  }

  override def minRounds = 6

  private def queryFrame(h: Harness, b: Array[Array[Float]]) = {
    import h.spark.implicits._
    b.indices.map(i => (i.toLong, b(i).toSeq)).toDF("query_id", "qvec")
  }

  private def knn(h: Harness, s: S, bi: Int, check: Boolean = true): Unit = {
    // reading the corpus runs a Spark job, so it belongs inside the call
    def corpus = Tables.rebalanced(corpusFrame(h, s.dir).withColumnRenamed("id", "neighbor_id"))
    val queries = queryFrame(h, s.batches(bi))
    h.op("Knn", "knn")(Knn.knn(queries, corpus, K, VectorMetric.L2).collect()).filter(_ => check)
      .foreach { rows =>
        val got = h.rankedByQuery(rows)
        val truth = s.knnTruth(bi)
        truth.indices.foreach { qi =>
          val g = got.getOrElse(qi.toLong, Array.empty[(Long, Double)])
          h.check(g.map(_._1).sameElements(truth(qi).map(_._1)), s"knn query $qi ids differ from brute force")
          h.check(g.map(_._2).zip(truth(qi).map(_._2)).forall { case (a, b) => Oracle.sameDistance(a, b) },
            s"knn query $qi distances differ from brute force")
        }
      }
  }

  /** The distance kernel alone over the same cross product as
    * [[knn]], so the top-k aggregate's share is Knn.knn time minus this.
    */
  private def l2Pass(h: Harness, s: S): Unit = {
    val queries = queryFrame(h, s.batches(0))
    h.op("VectorFunctions", "l2Distance")(
      Tables.rebalanced(corpusFrame(h, s.dir)).crossJoin(broadcast(queries))
        .agg(max(VectorFunctions.l2Distance(col("vec"), col("qvec")))).collect())
  }

  private def ann(h: Harness, s: S): Unit =
    h.op("Ivf", "annBatch")(Ivf.annBatch(h.spark, s.dir, K, VectorMetric.L2, Some(Nprobe)).collect())
      .foreach { rows =>
        h.check(rows.length == N * K, s"annBatch returned ${rows.length} rows, want ${N * K}")
        val byQuery = h.rankedByQuery(rows)
        s.sample.indices.foreach { j =>
          val i = s.sample(j)
          val g = byQuery.getOrElse(s.ids(i), Array.empty)
          h.check(g.length == K, s"annBatch query ${s.ids(i)} has ${g.length} neighbours")
          h.check(!g.exists(_._1 == s.ids(i)), s"annBatch served query ${s.ids(i)} as its own neighbour")
          val trueD = g.map { case (id, d) =>
            val t = Oracle.l2(s.vecs(i), s.vecs(id.toInt))
            h.check(d.isNaN || Oracle.sameDistance(d, t), s"annBatch query ${s.ids(i)} id $id distance $d")
            t
          }
          h.check(trueD.sameElements(trueD.sorted), s"annBatch query ${s.ids(i)} not ranked by distance")
          s.annRecall += Oracle.recall(g.map(_._1).toSeq, s.annTruth(j).map(_._1).toSeq)
        }
        h.check(Stats.mean(s.annRecall) >= AnnRecallFloor,
          f"annBatch mean recall@$K ${Stats.mean(s.annRecall)}%.3f below floor $AnnRecallFloor")
      }

  /** The fuzzy-dedup pipeline (language gate, quality floor,
    * MinHash-LSH) on one generated shard with planted near-duplicate
    * families, a MinHash signature pass over it, then the shard's
    * memos dropped through the public hooks.
    */
  private def dedupShard(h: Harness, s: S): Unit = {
    val dir = s"${s.dir}/shard"
    val docs = h.inPhase("generate") {
      val d = Gen.shard(h.seed, 0, Docs)
      h.writeDocs(dir, d.toSeq)
      d
    }
    h.op("TextOps", "pipelineFuzzyDedup")(TextOps.pipelineFuzzyDedup(h.spark, dir).collect())
      .foreach { rows =>
        val survivors = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val (fails, planted, removed) = Oracle.checkShard(docs.toSeq, survivors)
        fails.take(5).foreach(f => h.check(cond = false, s"dedup: $f"))
        s.plantedDups = planted; s.removedDups = removed
        h.check(removed >= DedupRecallFloor * planted,
          s"dedup removed $removed of $planted planted duplicates, floor $DedupRecallFloor")
      }
    h.op("Dedup", "minhashSignatures")(Dedup.minhashSignatures(Tables.documents(h.spark, dir))
      .write.format("noop").mode("overwrite").save())
    Seq(Dedup.invalidate _, Tables.invalidate _).foreach(_(dir))
    h.deleteTree(dir)
  }

  override def once(h: Harness, s: S): Unit = s.knnTruth

  override def tracedOnly(h: Harness, s: S): Unit = { ann(h, s); l2Pass(h, s); dedupShard(h, s) }

  def round(h: Harness, s: S, r: Int): Unit = knn(h, s, r % Batches)

  override def itemsPerCall: Map[String, Double] = Map("Knn.knn" -> Batch.toDouble * N,
    "VectorFunctions.l2Distance" -> Batch.toDouble * N, "Ivf.annBatch" -> N.toDouble,
    "TextOps.pipelineFuzzyDedup" -> Docs.toDouble, "Dedup.minhashSignatures" -> Docs.toDouble)

  def outcome(h: Harness, s: S): Outcome = {
    val knn = h.timed("Knn.knn"); val ann = h.timed("Ivf.annBatch")
    val l2 = h.timed("VectorFunctions.l2Distance"); val dedup = h.timed("TextOps.pipelineFuzzyDedup")
    val pairs = Batch.toDouble * N
    // one kind of call per round, so the gated figure is its median
    Outcome(Stats.median(knn),
      Seq(detail("knn_p50_ms", knn, "ms"),
        ("knn_pairs_per_s", knn.length * pairs / (knn.sum / 1e3), "pairs/s", knn.length),
        detail("l2_distance_ms", l2, "ms"),
        ("ann_queries_per_s", ann.length * N / (ann.sum / 1e3), "queries/s", ann.length),
        ("ann_recall", Stats.mean(s.annRecall.toSeq), "ratio", s.annRecall.length),
        ("docs_per_s", dedup.length * Docs / (dedup.sum / 1e3), "docs/s", dedup.length),
        ("dedup_recall", s.removedDups.toDouble / math.max(1L, s.plantedDups), "ratio", dedup.length))
        .filter(_._4 > 0))
  }
}
