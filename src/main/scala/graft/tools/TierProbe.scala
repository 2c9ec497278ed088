package graft.tools

import graft.GraftSession
import graft.operators.{IndexLifecycle, Sq8Codec, TierLifecycle}
import org.apache.spark.sql.functions._

/** Scratch probe: the flat-tier mutation claims measured at real row
  * counts (the TrainerProbe/CorpusScaleProbe discipline applied to the
  * round-15 layouts). Questions the SURVEY cites this probe for:
  *   - bucket count: √(n/2) growth vs a fixed 16 — rows per bucket,
  *     and therefore the blast radius of a point mutation;
  *   - build: train + encode + bucket-partitioned land wall time;
  *   - append: frozen-model encode + BucketSwap.landRows (one file per touched
  *     bucket) wall time for a 1k batch;
  *   - delete: the bucket-hint PARTITION-PRUNED rewrite vs the
  *     full-scan twin (same batch size, disjoint ids) — the hint's
  *     measured dividend;
  *   - compact: the shared small-files pass over the appended buckets;
  *   - rebuild: retrain + full re-encode + staged swap (the cost the
  *     dirty-ratio policy amortizes).
  * Run: sbt "runMain graft.tools.TierProbe [n]" (default 10M rows).
  */
object TierProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000000)
    val spark = GraftSession.builder("32", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = ProbeUtil.writeClusteredCorpus(spark, n, "tierprobe")
    val root = java.nio.file.Files.createTempDirectory("graft_tierprobe_idx")
    val path = root.resolve("sq8").toString
    def timed(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[tier] $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    try {
      val buckets = TierLifecycle.bucketsFor(n.toLong)
      println(s"[tier] corpus n=$n dim=64; buckets=$buckets " +
        f"(${n.toDouble / buckets}%.0f rows/bucket; fixed-16 would be ${n / 16} rows/bucket)")
      timed(s"sq8 build n=$n") { TierLifecycle.build(Sq8Codec(), spark, dir, path) }
      val vecs = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val batch = vecs.filter(col("id") < 1000)
        .select((col("id") + n).as("id"), col("vec"))
      timed("append 1000 (frozen model)") { TierLifecycle.append(Sq8Codec(), batch, path) }
      // every 97th id: ~100 deletes spread over ~min(100, buckets) buckets
      val del1 = spark.range(100).select((col("id") * 97L).as("id"))
      timed("delete 100 PRUNED (hint)") { TierLifecycle.delete(del1, path) }
      // +1 offset: never ≡ 0 (mod 97), so the two delete sets are
      // provably disjoint — the unpruned leg deletes 100 LIVE rows
      val del2 = spark.range(100).select((col("id") * 97L + 1L).as("id"))
      timed("delete 100 UNPRUNED (scan)") {
        TierLifecycle.deleteUnpruned(del2, path) }
      timed("compact maxFiles=1") {
        val k = IndexLifecycle.compact(spark, path, maxFiles = 1)
        println(s"[tier]   compact rewrote $k buckets")
      }
      timed("rebuild (retrain + re-encode)") {
        TierLifecycle.rebuild(Sq8Codec(), vecs, path) }
    } finally {
      graft.streaming.Streams.deleteTree(root)
      graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(dir))
    }
    spark.stop()
  }
}
