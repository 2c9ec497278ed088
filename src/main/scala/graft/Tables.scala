package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema'd readers for the driver-generated testdata tables.
  *
  * Mirrors the reference's entity stores (stackai-vector-db
  * app/repositories) re-expressed as parquet-backed DataFrames:
  * `documents` plays Document (its `source` column plays Library),
  * `embeddings` plays the built vector store, derived chunk rows play
  * Chunk. The TPC-H-ish tables + `events` exercise the analytics and
  * streaming surface.
  */
object Tables {
  /** `name` of `dir`, read under its memoised schema: a warm read runs
    * no schema-inference job (a bare `spark.read.parquet` runs one per
    * call).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, dir, name, path)).parquet(path)
  }

  /** The inferred schema of the table at `path`, memoised per (dir,
    * table) and stamped by a driver-side listing of the table's files
    * (path, length, mtime) and the nanos-as-long read flag
    * ([[events]]), so a table rewritten in place is inferred afresh
    * even without [[invalidate]]. The one schema-less read in this
    * file; a missing table fails here with Spark's own error.
    */
  private def schemaOf(spark: SparkSession, dir: String, name: String,
                       path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = if (!fs.exists(p)) Nil else {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      files.result().sorted
    }
    val nanosAsLong = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    Memo(dir, "tables.schema", (name, nanosAsLong, stamp))(spark.read.parquet(path).schema)
  }

  /** Spread a scan across all cores before a CPU-heavy per-row stage.
    *
    * The driver's test parquet is a single row group, so Spark cannot
    * split the scan and every downstream narrow stage runs on ONE core
    * (measured: the whole shingle pipeline serialized behind a
    * 1-partition scan). At 100 TB the storage layout provides thousands
    * of splits and this is a no-op cost-wise; locally the round-robin
    * shuffle moves only the skinny projected rows and unlocks 32×
    * parallelism for the hash/distance work behind it.
    */
  def rebalanced(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  /** events.ts has shipped in three parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (readable only as raw long nanos via
    * the legacy flag), TIMESTAMP_NTZ micros (the current layout), and
    * tz-adjusted TIMESTAMP micros. Normalize every encoding to ONE
    * canonical TimestampType column here so no consumer ever branches
    * on the storage type — round 5 shipped with `unix_micros(ts)`
    * call sites that threw on NTZ because only this reader guarded.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, dir, "events"))
  }

  /** Canonicalize a `ts` column to TimestampType regardless of how the
    * parquet encoded it. The session timezone is pinned to UTC
    * (GraftSession), so the NTZ→timestamp cast is an exact
    * reinterpretation of the stored micros — the same instants DuckDB's
    * `epoch_us` sees on the naive column. Long input is the legacy
    * nanos-as-long read; `div 1000` is exactly DuckDB's ns→µs
    * truncation. Any other encoding fails LOUDLY instead of feeding
    * silently-wrong instants downstream (the round-5 regression class).
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"unsupported $tsCol storage encoding: $other (expected long nanos, " +
          "timestamp_ntz micros, or timestamp)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** embeddings.embedding is canonically array<float>. Guard the
    * element width like [[normalizeTs]] guards the ts encoding: if the
    * generator ever ships array<double>, cast it down (values in the
    * corpus are float-exact by construction); anything else fails
    * loudly. Without this, an element-width change would not throw —
    * the distance kernels would read the wrong bytes per slot and
    * return garbage distances silently, the worst failure mode the ts
    * regression demonstrated.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = table(spark, dir, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _)  => raw
      case ArrayType(DoubleType, _) =>
        raw.withColumn("embedding",
          org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      case other => throw new IllegalArgumentException(
        s"unsupported embedding storage encoding: $other (expected array<float>)")
    }
  }

  /** Memoized embeddings row count per corpus dir — the widening
    * arithmetic in filtered ANN serving needs |corpus| per query, and
    * a per-query count() action is a full scan at 100 TB. Corpus dirs
    * are immutable by the testdata contract; persisted indexes carry
    * their own size in lifecycle state/`_profile` instead.
    */
  def embeddingsCount(spark: SparkSession, dir: String): Long =
    Memo(dir, "tables.embeddingsCount")(embeddings(spark, dir).count())

  /** Drop the session memos for a corpus dir (every module's, see
    * [[Memo]]); kept as a `String => Unit` entry point.
    */
  def invalidate(dir: String): Unit = Memo.invalidate(dir)
}
