package graft

import graft.operators.Ivf
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index path: cluster-partitioned parquet + pruned probes. */
class IvfStorageSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val indexPath = {
    val p = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    (p, Ivf.writeIndex(spark, sf, p))
  }

  test("written index covers the corpus and is laid out by cluster_id") {
    val (path, _) = indexPath
    val df = spark.read.parquet(path)
    assert(df.count() == 500)
    assert(df.columns.toSet == Set("cluster_id", "neighbor_id", "vec"))
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cluster_id="))
    assert(dirs.length > 1, "expected one directory per inverted list")
  }

  test("probe reads only the nprobe partitions (partition pruning) and finds neighbors") {
    val (path, _) = indexPath
    val q = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val nprobe = 3
    val res = Ivf.queryIndex(spark, path, q, k = 5, nprobe = nprobe)
    // pruning: the file scan must touch at most nprobe partition dirs
    val scans = res.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val partitions = scans.head.relation.location.inputFiles
      .map(_.replaceAll(".*cluster_id=([0-9]+).*", "$1")).distinct
    assert(partitions.nonEmpty && partitions.length <= nprobe,
      s"scan read ${partitions.length} list dirs for nprobe = $nprobe")
    val prunedFiles = scans.head.metadata.get("PartitionFilters")
    assert(prunedFiles.exists(_.contains("cluster_id")),
      s"no partition filter in scan metadata: ${scans.head.metadata}")
    val rows = res.collect()
    assert(rows.length == 5)
    // the query vector itself lives in a probed list => rank-1 self match
    assert(rows.head.getLong(0) == 0L)
  }
}
