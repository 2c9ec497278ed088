package graft

import graft.functions.VectorMetric
import graft.operators.{IndexLifecycle, Knn, Overlap}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Metrics` attributes jobs to the call and phase that caused
  * them, across the threads a call starts, and `tools.Profile` reports
  * a key's work split by phase without losing any of it.
  */
class MetricsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val corpusDir = ServingCorpus.create(spark)
  override def afterAll(): Unit = ServingCorpus.drop(corpusDir)

  private lazy val vecs = Tables.embeddings(spark, corpusDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("building a lazy Knn.knn frame counts 0 jobs; running it counts its jobs") {
    val q = vecs.filter(col("id") < 4).select(col("id").as("query_id"), col("vec").as("qvec"))
    val c = vecs.select(col("id").as("neighbor_id"), col("vec"))
    val built = Metrics.measure(spark)(Knn.knn(q, c, 5, VectorMetric.L2))
    assert(built.total.jobs == 0, s"building ran jobs: ${built.total}")
    val ran = Metrics.measure(spark)(built.result.collect())
    assert(ran.result.length == 4 * 5)
    assert(ran.total.jobs >= 1 && ran.total.stages >= 1 && ran.total.tasks >= 1, s"${ran.total}")
    assert(ran.phases.map(_._1) == Seq(Metrics.Unphased))
  }

  test("a warm IndexLifecycle.query counts the 1 job ServingJobsSpec pins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics_ivf")
    try {
      val p = s"$dir/idx"
      IndexLifecycle.build(vecs, p, kOpt = Some(40))
      val qvec = vecs.filter(col("id") === 7L).select("vec").head().getSeq[Float](0).toArray
      def call() = IndexLifecycle.query(spark, p, qvec, k = 10, nprobe = 8).collect().toSeq
      val cold = Metrics.measure(spark)(call())
      val warm = Metrics.measure(spark)(call())
      assert(warm.result == cold.result)
      assert(warm.total.jobs == 1, s"warm query: ${warm.total}")
      assert(TestSession.jobsOf(call()) == 1)
    } finally graft.streaming.Streams.deleteTree(dir)
  }

  test("jobs started inside Overlap.all branches are attributed to the enclosing call") {
    val r = Metrics.measure(spark) {
      Metrics.phase("branches") {
        // one RDD count is exactly one job
        Overlap.all(Seq(10, 20, 30).map(n => () => spark.sparkContext.parallelize(1 to n, 2).count()))
      }
    }
    assert(r.result == Seq(10L, 20L, 30L))
    assert(r.total.jobs == 3, s"${r.total}")
    assert(r.phases.collect { case (p, w) if w.jobs > 0 => p -> w.jobs } == Seq("branches" -> 3))
    // a job outside any measured call is nobody's
    spark.range(5).count()
    assert(Metrics.measure(spark)(()).total.jobs == 0)
  }

  test("Profile on sf0.001 splits stream_index_append by phase; phases sum to the key") {
    val rows = tools.Profile.profile(spark, sf, Seq("stream_index_append"), planDir = None)
    assert(rows.forall(_.error.isEmpty), s"errors: ${rows.flatMap(_.error)}")
    val (key, phases) = rows.partition(_.phase.isEmpty)
    assert(key.size == 1)
    val total = key.head.work
    val names = phases.map(_.phase)
    assert(names.take(3) == Seq("build", "landing_write", "stream_drain_3_appends"), s"$names")
    assert(Seq("mid_stream_maintenance", "disk_read_back_1", "rebuild", "disk_read_back_2")
      .forall(names.contains), s"$names")
    assert(names.count(_ == Metrics.Unphased) == 1, s"$names")
    val sum = phases.map(_.work).reduce(_ + _)
    assert((sum.jobs, sum.stages, sum.tasks) == ((total.jobs, total.stages, total.tasks)),
      s"phases $sum vs key $total")
    assert(phases.find(_.phase == "stream_drain_3_appends").exists(_.work.jobs > 0),
      "the stream's micro-batch jobs carry the drain phase")
  }

  test("no schema inference of a corpus table in Streams: its streams take the schema Tables memoises") {
    val f = new java.io.File("src/main/scala/graft/streaming/Streams.scala")
    assert(f.isFile, s"run from the repository root (no ${f.getAbsolutePath})")
    // a read of a table under the corpus dir whose builder chain names
    // no .schema(…) before the format: one inference job per call
    val bare = "\\.read((?!\\.schema\\()[^\\n;])*\\.(parquet|load|format)\\(s\"\\$dir/".r
    val offenders = java.nio.file.Files.readString(f.toPath).linesIterator
      .filter(l => bare.findFirstIn(l).isDefined).toSeq
    assert(offenders.isEmpty,
      s"Streams reads a corpus table without a declared schema (one inference job per call): $offenders")
  }

  test("no listener outside graft.Metrics: no other main or test source names Spark's listener type") {
    val needle = "Spark" + "Listener" // split so this file does not match itself
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repository root (no ${r.getAbsolutePath})"))
    val offenders = roots.flatMap(files).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Metrics.scala")
      .filter(f => java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(offenders.isEmpty,
      s"hand-rolled listeners: ${offenders.mkString(", ")}; count jobs through graft.Metrics")
  }

  test("no schema inference in Tables: every read outside its schema helper declares a schema") {
    val f = new java.io.File("src/main/scala/graft/Tables.scala")
    assert(f.isFile, s"run from the repository root (no ${f.getAbsolutePath})")
    val src = java.nio.file.Files.readString(f.toPath)
    // the one helper that infers: its body runs up to the next
    // two-space-indented closing brace
    val helper = "(?s)\\n  private def schemaOf\\(.*?\\n  }\\n".r
    assert(helper.findAllIn(src).size == 1, "Tables.schemaOf is the one schema-resolving helper")
    val rest = helper.replaceAllIn(src, "\n")
    // a read whose builder chain names no .schema(…) before the format
    val bare = "\\.read((?!\\.schema\\()[^\\n;])*\\.(parquet|load|format)\\(".r
    val offenders = rest.linesIterator.filter(l => bare.findFirstIn(l).isDefined).toSeq
    assert(offenders.isEmpty,
      s"Tables reads without a declared schema (one inference job per call): $offenders")
  }
}
