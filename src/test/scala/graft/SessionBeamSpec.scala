package graft

import graft.functions.{VectorFunctions, VectorMetric}
import graft.operators.{GraphIndex, Ivf, Pq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Reference-equality spec for the session graph keys: every one runs
  * GraphKernel.beam over the broadcast session graph
  * (GraphIndex.sessionBeam), and its answer must equal the DataFrame
  * round loop those keys ran before (kept below, in
  * [[SessionBeamSpec.Reference]], as the only copy) bit for bit — ids,
  * ranks and distances — under every metric and at every (rounds, B)
  * point the keys serve; for the filtered key, the pooled loop under
  * the label selector. The corpus has exact distance ties, zero-norm
  * rows and a member whose entry list holds only itself.
  */
class SessionBeamSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SessionBeamSpec._
  lazy val spark = TestSession.spark

  private val k = 5
  private val Metrics = Seq(VectorMetric.L2, VectorMetric.Cosine, VectorMetric.Dot)

  private lazy val corpusDir: String = writeCorpus(spark, corpus(0L))

  override def afterAll(): Unit = {
    Memo.invalidate(corpusDir)
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(corpusDir))
  }

  /** (query_id, neighbor_id, rank, distance bits), sorted. */
  private def rows(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("query_id", "neighbor_id", "rank", "dist").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._3))

  private def ranks(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3))

  private def labelSelector(dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("label").isin(2, 5, 7))
      .select(col("vec_id").as("id"))

  test("the refined graph has no self-edge (graph_stats reads the symmetrised CSR, which drops them)") {
    for (dir <- Seq(corpusDir, "/root/testdata/sf0.001"); m <- Metrics) {
      val selfEdges = GraphIndex.refinedGraph(spark, dir, k, m)
        .filter(col("src") === col("dst")).count()
      assert(selfEdges == 0, s"$dir metric $m: $selfEdges self-edges")
    }
  }

  test("the corpus has a member whose entry list holds only itself") {
    val g = GraphIndex.sessionGraph(spark, corpusDir, k, VectorMetric.L2)
    val b = g.bucket
    val lonely = (0 until b.size).filter { m =>
      val li = java.util.Arrays.binarySearch(b.lists, g.entry(m))
      li >= 0 && b.listStart(li + 1) - b.listStart(li) == 1
    }
    assert(lonely.nonEmpty, "no member's entry list is its own singleton")
    // it is still answered, from its own adjacency
    val got = rows(GraphIndex.sessionBeam(spark, corpusDir, k, VectorMetric.L2,
      GraphIndex.BeamRounds, GraphIndex.beamWidth(k)))
    lonely.foreach(m => assert(got.count(_._1 == b.ids(m)) == k, s"member ${b.ids(m)}"))
  }

  test("the kernel equals the reference round loop bit for bit: every metric, every tune-grid point") {
    var bTies = 0L; var kTies = 0L
    for (m <- Metrics; (rounds, mult) <- GraphIndex.TuneGrid) {
      val b = GraphIndex.beamWidth(k) * mult
      val ref = Reference.beamTopk(spark, corpusDir, k, m, rounds, b)
      val got = rows(GraphIndex.sessionBeam(spark, corpusDir, k, m, rounds, b))
      assert(got == rows(ref.ranked), s"metric $m at (rounds $rounds, B $b)")
      assert(got.size == N * k, s"metric $m: k rows per vector")
      assert(got.forall(r => r._1 != r._2), s"metric $m: a vector returned itself")
      bTies += cutTies(ref.scored.head, b)
      kTies += cutTies(ref.scored.last, k)
    }
    // the corpus must tie at both cuts, or the ties are not tested
    assert(bTies > 0 && kTies > 0, s"ties at the B cut $bTies, at the k cut $kTies")
    info(s"candidates left out at the B-th distance: $bTies; at the k-th: $kTies")
    // zero-norm rows under cosine are 1.0 from everything
    val one = java.lang.Double.doubleToRawLongBits(1.0)
    val cos = rows(GraphIndex.sessionBeam(spark, corpusDir, k, VectorMetric.Cosine,
      GraphIndex.BeamRounds, GraphIndex.beamWidth(k)))
    assert(cos.filter(r => ZeroNorm(r._1)).forall(_._4 == one))
  }

  test("graph_topk and graph_topk_tuned serve the reference at their operating points") {
    for (m <- Metrics) {
      val default = Reference.beamTopk(spark, corpusDir, k, m,
        GraphIndex.BeamRounds, GraphIndex.beamWidth(k)).ranked
      assert(ranks(GraphIndex.graphTopk(spark, corpusDir, k, m)) == ranks(default), s"metric $m")
      val pick = GraphIndex.loadGraphAutotune(spark, GraphIndex.tunedGraphTree(spark, corpusDir), m)
      val (r, b) = pick match {
        case Some((r, b)) if r > 0 && b > 0 => (r.toInt, b.toInt)
        case _ => (GraphIndex.BeamRounds, GraphIndex.beamWidth(k))
      }
      val tuned = Reference.beamTopk(spark, corpusDir, k, m, r, b).ranked
      assert(ranks(GraphIndex.graphTopkTuned(spark, corpusDir, k, m)) == ranks(tuned),
        s"metric $m at the tuned point ($r, $b)")
    }
  }

  test("graph_topk_filtered (label selector) equals the reference pooled loop bit for bit") {
    val sel = labelSelector(corpusDir)
    val kr = k * 4L
    val pass = GraphIndex.selectorPass(sel, kr)
    val n = Tables.embeddingsCount(spark, corpusDir)
    val widen = (n + pass.fEst - 1) / pass.fEst
    assert(!pass.starved && widen <= GraphIndex.MaxBeamWiden, "the label selector must take the beam")
    val allowedIds = pass.ids.toSet
    for (m <- Metrics) {
      val (rounds, beam) = GraphIndex.graphTuneGrid(spark, corpusDir, k, m)
        .filter(_._3 >= GraphIndex.GraphTunedFloor)
        .sortBy { case (r, b, _) => (r.toLong * b, r, b) }.headOption
        .map { case (r, b, _) => (r, b) }
        .getOrElse((GraphIndex.BeamRounds, GraphIndex.beamWidth(k)))
      val ref = Reference.filtered(spark, corpusDir, k, m, rounds, (beam * widen).toInt, sel)
      val want = rows(ref)
      val served = GraphIndex.graphTopkFiltered(spark, corpusDir, k, sel, m)
      assert(ranks(served) == want.map(t => (t._1, t._2, t._3)), s"metric $m")
      val ids = GraphIndex.sessionGraph(spark, corpusDir, k, m).bucket.ids
      val allow = new java.util.BitSet(ids.length)
      ids.indices.filter(j => allowedIds(ids(j))).foreach(allow.set)
      val kernel = rows(GraphIndex.sessionBeam(spark, corpusDir, k, m, rounds,
        (beam * widen).toInt, Some(allow)))
      assert(kernel == want, s"metric $m: distances")
      assert(want.forall(r => allowedIds(r._2)), s"metric $m: a non-selector neighbour")
      // narrow multi-round beams, where members offered in an early
      // round and pruned from the beam still reach the pool's top-k
      for ((r, b) <- Seq((2, k), (3, k), (2, 2 * k)))
        assert(rows(GraphIndex.sessionBeam(spark, corpusDir, k, m, r, b, Some(allow))) ==
          rows(Reference.filtered(spark, corpusDir, k, m, r, b, sel)),
          s"metric $m at (rounds $r, B $b)")
    }
  }

  test("the one selector pass decides as Pq's capped count and sampled estimate do") {
    import spark.implicits._
    val sels = Seq(
      "label" -> labelSelector(corpusDir),
      "label sf0.001" -> labelSelector("/root/testdata/sf0.001"),
      "mod 17" -> (0L until 600L).filter(_ % 17 == 1).toDF("id"),
      "even" -> (0L until 600L).filter(_ % 2 == 0).toDF("id"),
      "starved" -> (100L until 110L).toDF("id"),
      "edge" -> (0L until 21L).toDF("id"),
      "negative" -> (-300L until 300L by 7).toDF("id"))
    for ((name, sel) <- sels; kr <- Seq(20L, 40L)) {
      val pass = GraphIndex.selectorPass(sel, kr)
      assert(pass.starved == Pq.selectorStarved(sel, kr), s"$name at kr $kr: starved")
      assert(pass.fEst == Pq.estimatedSelectorSize(sel, kr), s"$name at kr $kr: estimate")
    }
  }

  test("Memo.invalidate drops the session graph; a rewritten corpus is served from its new data") {
    val dir = writeCorpus(spark, corpus(0L))
    try {
      val m = VectorMetric.L2
      val before = GraphIndex.graphTopk(spark, dir, k, m).collect()
      val g1 = GraphIndex.sessionGraph(spark, dir, k, m)
      Memo.invalidate(dir)
      assert(Memo.get[AnyRef](dir, "graph.session", (k, m)).isEmpty)
      assert(GraphIndex.graphTopk(spark, dir, k, m).collect().toSeq == before.toSeq)
      assert(!(GraphIndex.sessionGraph(spark, dir, k, m) eq g1), "the session graph was not rebuilt")
      // the corpus rewritten in place under other ids and vectors
      val shifted = corpus(7L).map { case (id, v, l) => (id + 10000L, v, l) }
      writeEmbeddings(spark, dir, shifted)
      Memo.invalidate(dir)
      val got = rows(GraphIndex.sessionBeam(spark, dir, k, m,
        GraphIndex.BeamRounds, GraphIndex.beamWidth(k)))
      assert(got.forall(r => r._1 >= 10000L && r._2 >= 10000L), "served from the old bucket")
      assert(got == rows(Reference.beamTopk(spark, dir, k, m,
        GraphIndex.BeamRounds, GraphIndex.beamWidth(k)).ranked))
    } finally {
      Memo.invalidate(dir)
      graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("a warm graph_topk and graph_topk_filtered pin no RDD") {
    val sf = "/root/testdata/sf0.001"
    val sel = labelSelector(sf)
    def calls(): Unit = {
      GraphIndex.graphTopk(spark, sf, k).collect()
      GraphIndex.graphTopkFiltered(spark, sf, k, sel).collect()
    }
    calls()
    // by id, not count: the context cleaner may release an older RDD
    // while a call pins a new one
    val before = spark.sparkContext.getPersistentRDDs.keySet
    calls()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"warm calls left persisted RDDs ${pinned.toSeq.sorted} behind")
  }
}

object SessionBeamSpec {
  private val N = 200
  private val Dim = 8

  /** Rows 1 and 3 are zero-norm. */
  private val ZeroNorm = Set(1L, 3L)

  /** (id, vector, label): coarse-grid floats so distances tie, rows 1
    * and 3 zero-norm, and row 0 far from every other row, so it is the
    * only member of its coarse list (centroids start at the lowest ids).
    */
  private def corpus(seed: Long): Seq[(Long, Seq[Float], Int)] = {
    val rng = new scala.util.Random(seed + 23)
    (0 until N).map { i =>
      val v =
        if (i == 0) Seq.fill(Dim)(40f)
        else if (ZeroNorm(i.toLong)) Seq.fill(Dim)(0f)
        else Seq.fill(Dim)((rng.nextInt(7) - 3) * 0.5f)
      (i.toLong, v, i % 10)
    }
  }

  private def writeEmbeddings(spark: SparkSession, dir: String,
                              rows: Seq[(Long, Seq[Float], Int)]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def writeCorpus(spark: SparkSession, rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_session_beam").toString
    writeEmbeddings(spark, dir, rows)
    dir
  }

  /** Candidates left out at their query's `cut`-th distance in a
    * scored (query_id, cand, dist) frame: the ties only the id order
    * decides.
    */
  private def cutTies(scored: DataFrame, cut: Int): Long = {
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("cand"))
    val ranked = scored.withColumn("rn", row_number().over(w))
    val kth = ranked.filter(col("rn") === cut).select(col("query_id"), col("dist").as("kd"))
    ranked.join(kth, "query_id").filter(col("rn") > cut && col("dist") === col("kd")).count()
  }

  /** The session graph loop as the graph keys ran it before the kernel
    * served them: DataFrame rounds of join → dedup exchange → exact
    * re-score → top-B aggregate over the symmetrised refined graph,
    * seeded by the nprobe = 1 IVF entry ∪ each query's own adjacency,
    * and the filtered key's pooled copy of it. The entry and the
    * loop's eager per-round checkpoints become [[reroot]]: the same
    * lineage cut (each round's plan stays one round deep, so no task
    * binary grows with the rounds) without pinning an RDD.
    */
  object Reference {

    private def distCol(metric: Int, a: Column, b: Column): Column = metric match {
      case VectorMetric.L2     => VectorFunctions.l2Distance(a, b)
      case VectorMetric.Cosine => VectorFunctions.cosineDistance(a, b)
      case VectorMetric.Dot    => -VectorFunctions.dotProduct(a, b)
    }

    /** `df` re-rooted on its collected rows. */
    private def reroot(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

    /** (src, dst) → the symmetrized (undirected) expansion table. */
    private def symmetrize(edges: DataFrame): DataFrame =
      edges.select("src", "dst")
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .dropDuplicates("src", "dst")

    /** The final (query_id, neighbor_id, rank, dist) and every round's
      * scored candidates (query_id, cand, dist) before its prune.
      */
    final case class Run(ranked: DataFrame, scored: Seq[DataFrame])

    /** One round's scored candidates: beam ∪ expansion, self out,
      * deduplicated, exact distances.
      */
    private def scoredRound(beam: DataFrame, e: DataFrame, qvecs: DataFrame,
                            vecs: DataFrame, metric: Int): DataFrame = {
      val expand = beam.join(e, "cand")
        .select(col("query_id"), col("dst").as("cand"))
      val cands = beam.select("query_id", "cand").union(expand)
        .filter(col("cand") =!= col("query_id"))
        .repartition(col("query_id"))
        .dropDuplicates("query_id", "cand")
      cands
        .join(qvecs, "query_id")
        .join(vecs.select(col("id").as("cand"), col("cv")), "cand")
        .select(col("query_id"), col("cand"),
          distCol(metric, col("qv"), col("cv")).as("dist"))
    }

    private def topB(scored: DataFrame, b: Int): DataFrame =
      scored.groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), b).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("p"))
        .select(col("query_id"), col("p.id").as("cand"), col("p.dist").as("dist"))

    private def substrate(spark: SparkSession, dir: String, k: Int, metric: Int) = {
      val sym = symmetrize(GraphIndex.refinedGraph(spark, dir, k, metric).select("src", "dst"))
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("cv"))
      val qvecs = vecs.select(col("id").as("query_id"), col("cv").as("qv"))
      (sym, vecs, qvecs, sym.select(col("src").as("cand"), col("dst")))
    }

    private def entry(spark: SparkSession, dir: String, b: Int, metric: Int,
                      sym: DataFrame): DataFrame =
      Ivf.annBatch(spark, dir, b, metric, nprobeOpt = Some(GraphIndex.EntryNprobe))
        .select(col("query_id"), col("neighbor_id").as("cand"))
        .union(sym.select(col("src").as("query_id"), col("dst").as("cand")))
        .transform(reroot)

    /** `beamTopk` → `beamRounds`: `rounds` rounds at width `b`, the
      * final top-k ranked.
      */
    def beamTopk(spark: SparkSession, dir: String, k: Int, metric: Int,
                 rounds: Int, b: Int): Run = {
      val (sym, vecs, qvecs, e) = substrate(spark, dir, k, metric)
      var beam = entry(spark, dir, b, metric, sym)
      val scored = (1 to rounds).map { r =>
        val s = scoredRound(beam, e, qvecs, vecs, metric)
        if (r < rounds) beam = reroot(topB(s, b).select("query_id", "cand"))
        s
      }
      val ranked = topB(scored.last, b).groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"), col("nn.dist").as("dist"))
      Run(ranked, scored)
    }

    /** `graphTopkFiltered`'s widened-beam branch: the rounds at width
      * `bEff`, every round's scored candidates pooled, deduplicated,
      * semi-joined with the selector, ranked top-k.
      */
    def filtered(spark: SparkSession, dir: String, k: Int, metric: Int,
                 rounds: Int, bEff: Int, sel: DataFrame): DataFrame = {
      val (sym, vecs, qvecs, e) = substrate(spark, dir, k, metric)
      var beam = entry(spark, dir, bEff, metric, sym).dropDuplicates("query_id", "cand")
      val pools = (1 to rounds).map { _ =>
        val s = reroot(scoredRound(beam, e, qvecs, vecs, metric))
        beam = topB(s, bEff).select("query_id", "cand")
        s
      }
      pools.reduce(_.unionAll(_))
        .repartition(col("query_id"))
        .dropDuplicates("query_id", "cand")
        .join(sel.withColumnRenamed("id", "cand"), Seq("cand"), "left_semi")
        .groupBy("query_id")
        .agg(VectorFunctions.topKByDistance(col("dist"), col("cand"), k).as("nn"))
        .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("query_id"), col("nn.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rank"), col("nn.dist").as("dist"))
    }
  }
}
