package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads each testdata table under a schema memoised per
  * (dir, table) and stamped by the table's file listing: a warm read
  * runs no Spark job, the `events.ts` and `embedding` normalisations
  * still apply to the declared read, and a table rewritten in place is
  * read under its new schema.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dropDir(dir: String): Unit = {
    Memo.invalidate(dir)
    graft.streaming.Streams.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("a warm read of every testdata table runs no job") {
    val readers: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
      "lineitem" -> Tables.lineitem, "orders" -> Tables.orders, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "nation" -> Tables.nation,
      "region" -> Tables.region, "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    for ((name, read) <- readers) {
      val cold = read(spark, sf).schema
      var warm: StructType = null
      val jobs = TestSession.jobsOf { warm = read(spark, sf).schema }
      assert(jobs == 0, s"a warm read of $name ran $jobs jobs")
      assert(warm == cold, s"$name")
    }
    // declared and inferred reads agree on the data, not only the schema
    assert(Tables.orders(spark, sf).collect().toSeq ==
      spark.read.parquet(s"$sf/orders.parquet").collect().toSeq)
  }

  test("declared reads keep the embedding guard: array<double> casts to float, other types fail") {
    val base = spark.range(0, 20).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => ((col("id") * 8 + i) % 100).cast("float") / 100.0f).as("embedding"))
    val (f, d, i) = (tempDir("graft_tab_f"), tempDir("graft_tab_d"), tempDir("graft_tab_i"))
    try {
      base.write.parquet(s"$f/embeddings.parquet")
      base.withColumn("embedding", col("embedding").cast("array<double>"))
        .write.parquet(s"$d/embeddings.parquet")
      base.withColumn("embedding", col("embedding").cast("array<int>"))
        .write.parquet(s"$i/embeddings.parquet")
      for (pass <- Seq("cold", "warm")) {
        val want = Tables.embeddings(spark, f).collect().toSeq
        val got = Tables.embeddings(spark, d)
        assert(got.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType,
          pass)
        assert(got.collect().toSeq == want, pass)
        val e = intercept[IllegalArgumentException](Tables.embeddings(spark, i))
        assert(e.getMessage.contains("unsupported"), pass)
      }
    } finally Seq(f, d, i).foreach(dropDir)
  }

  test("declared reads keep the events.ts normalisation for all three encodings") {
    val us = spark.range(0, 30).select(col("id").as("event_id"),
      (lit(1700000000000000L) + col("id") * 300000000L).as("us"))
    val encodings = Seq(
      "tz" -> timestamp_micros(col("us")),
      "ntz" -> timestamp_micros(col("us")).cast(TimestampNTZType),
      "nanos" -> col("us") * 1000L)
    val dirs = encodings.map { case (kind, ts) =>
      val dir = tempDir(s"graft_tab_$kind")
      us.withColumn("ts", ts).select("event_id", "ts").coalesce(1)
        .write.parquet(s"$dir/events.parquet")
      kind -> dir
    }
    try {
      def read(dir: String) = Tables.events(spark, dir)
      val want = read(dirs.head._2).orderBy("event_id").collect().toSeq
      for ((kind, dir) <- dirs; pass <- Seq("cold", "warm")) {
        val ev = read(dir)
        assert(ev.schema("ts").dataType == TimestampType, s"$kind, $pass")
        assert(ev.orderBy("event_id").collect().toSeq == want, s"$kind, $pass")
      }
    } finally dirs.foreach(d => dropDir(d._2))
  }

  test("a table rewritten in place is read under its new schema, with or without invalidate") {
    val dir = tempDir("graft_tab_rewrite")
    try {
      def write(df: DataFrame): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
      write(spark.range(0, 5).select(col("id").as("n_nationkey"), lit("a").as("n_name")))
      assert(Tables.nation(spark, dir).columns.toSeq == Seq("n_nationkey", "n_name"))
      // rewritten without invalidate: the file listing stamps the memo
      write(spark.range(0, 7).select(col("id").as("n_nationkey"), lit(1.5).as("n_score"),
        lit("b").as("n_name")))
      val after = Tables.nation(spark, dir)
      assert(after.columns.toSeq == Seq("n_nationkey", "n_score", "n_name"))
      assert(after.schema("n_score").dataType == DoubleType)
      assert(after.count() == 7)
      // rewritten again, then invalidated
      write(spark.range(0, 3).select(col("id").cast("int").as("n_nationkey")))
      Tables.invalidate(dir)
      val last = Tables.nation(spark, dir)
      assert(last.schema.map(f => f.name -> f.dataType) == Seq("n_nationkey" -> IntegerType))
      assert(last.collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
    } finally dropDir(dir)
  }
}
