package graft

import graft.operators.Analytics
import graft.streaming.Streams
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** D-series correctness by batch equivalence: the streaming jobs fed the
  * sf0.001 events must reproduce their batch twins (C5/C6).
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("D1 stream_window_agg == C5 batch window agg (counts per hour+type)") {
    val stream = Streams.streamWindowAgg(spark, sf)
      .select("hour", "event_type", "n_events")
    val batch = Analytics.eventsWindowAgg(spark, sf)
      .select("hour", "event_type", "n_events")
    assert(rows(stream) == rows(batch))
  }

  test("D16 stream_kcenter == the batch sequential threshold scan (multi-batch equivalence)") {
    val got = Streams.streamKcenter(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // admission order is ascending id (the oracle's theorem), so the
    // batch twin's picks rank directly
    val want = graft.operators.Coreset.kcenterThresholdPicks(spark, sf)
      .zipWithIndex.map { case ((id, d), i) => (i + 1, id, d) }
    assert(got == want,
      s"streamed coreset diverged from the sequential scan: $got != $want")
    // the key is non-vacuous here: admissions happened beyond the seed
    assert(got.length > 1, "no point admitted beyond the seed — the radius " +
      "calibration is degenerate on this corpus")
    // every admitted distance genuinely exceeds the threshold radius
    val r = graft.operators.Coreset.thresholdRadius(spark, sf)
    assert(got.drop(1).forall(_._3 > r), "an admitted point sits within r")
  }

  test("D16b cosine stream_kcenter == the batch angular threshold scan (multi-batch equivalence)") {
    val cos = graft.functions.VectorMetric.Cosine
    val got = Streams.streamKcenter(spark, sf, cos).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = graft.operators.Coreset.kcenterThresholdPicks(spark, sf, cos)
      .zipWithIndex.map { case ((id, d), i) => (i + 1, id, d) }
    assert(got == want,
      s"cosine streamed coreset diverged from the sequential scan: $got != $want")
    assert(got.length > 1, "no point admitted beyond the seed — the cosine " +
      "radius calibration is degenerate on this corpus")
    // every admitted distance exceeds the COSINE-calibrated radius, and
    // the angular radius really is a different calibration than L2's
    val r = graft.operators.Coreset.thresholdRadius(spark, sf, cos)
    assert(got.drop(1).forall(_._3 > r), "an admitted point sits within r")
    assert(r != graft.operators.Coreset.thresholdRadius(spark, sf),
      "cosine and L2 calibrations coincide — the metric is not plumbed")
  }

  test("D2 stream_dedup keeps every distinct event_id (no dups in source)") {
    val stream = Streams.streamDedup(spark, sf)
    val batch = graft.Tables.events(spark, sf)
      .groupBy("event_type").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .orderBy("event_type")
    assert(rows(stream) == rows(batch))
  }

  test("D3 stream_session == C6 batch sessionization (sessions per user)") {
    val stream = Streams.streamSession(spark, sf)
    val batch = Analytics.eventsSessionize(spark, sf)
    assert(rows(stream.select("user_id", "n_sessions", "n_events")) ==
      rows(batch.select("user_id", "n_sessions", "n_events")))
  }

  test("watermark drops late data across micro-batches (append mode)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toString
    def write(name: String, stamp: Long,
              rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$name")
      // the file source orders files by modification time — stamp the
      // PART FILES (what it lists), not the directory
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    // batch 1: two on-time events in the 00:00 window, one at 02:30 that
    // pushes the watermark to 01:30 (> the 00:00 window's end)
    write("f1", 1000000L, Seq(
      (1L, "2026-01-01 00:10:00", 1L, "A", 1.0),
      (2L, "2026-01-01 00:20:00", 1L, "A", 1.0),
      (3L, "2026-01-01 02:30:00", 1L, "B", 1.0)))
    // batch 2: watermark 01:30 is now active — its commit EVICTS and
    // emits the finalized 00:00 window (count 2)
    write("f2", 2000000L, Seq((4L, "2026-01-01 04:00:00", 1L, "B", 1.0)))
    // batch 3: a LATE event for the already-evicted 00:00 window — the
    // engine must drop it, not resurrect the window (eviction is
    // batch-end, so a guaranteed drop needs the row to arrive AFTER the
    // evicting batch, per the one-directional watermark guarantee)
    write("f3", 3000000L, Seq(
      (5L, "2026-01-01 00:15:00", 1L, "A", 1.0),
      (6L, "2026-01-01 06:00:00", 1L, "B", 1.0)))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .as[Streams.Event]
    val sink = "graft_wm_sink"
    val q = Streams.windowAggJob(stream)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table(sink)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toList
    // exactly one 00:00/A row with the 2 on-time events: the late
    // event_id=5 (a full batch after the window's eviction) must
    // neither bump the count nor resurrect the window
    val w0 = emitted.filter { case (h, _, _) => h.startsWith("2026-01-01 00:00") }
    assert(w0.map(_._3) == List(2L), s"late row not dropped (or window unemitted): $emitted")
  }

  test("flatMapGroupsWithState anomaly state survives micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    // one user, values 10,10,10 then (next batch) 10, 100: only the 100
    // exceeds 2x the running mean, and ONLY if the mean carried over
    // from the first batch (prior count 3 is reached there)
    def write(name: String, stamp: Long, rows: Seq[(Long, String, Double)]): Unit = {
      rows.map { case (id, t, v) => (id, t, 7L, "click", v) }
        .toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    write("f1", 1000000L, Seq(
      (1L, "2026-01-01 00:01:00", 10.0), (2L, "2026-01-01 00:02:00", 10.0),
      (3L, "2026-01-01 00:03:00", 10.0)))
    write("f2", 2000000L, Seq(
      (4L, "2026-01-01 00:04:00", 10.0), (5L, "2026-01-01 00:05:00", 100.0)))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .as[Streams.Event]
    val sink = "graft_state_sink"
    val q = Streams.anomalyJob(stream)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val flagged = spark.table(sink).collect().map(_.getLong(1)).toSet
    assert(flagged == Set(5L),
      s"expected only event 5 flagged (state must carry sum=30,n=3 into batch 2): $flagged")
  }

  test("D10 cross-batch: a dup of a hash landed in batch 1 is dropped in batch 2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_d10")
    val store = root.resolve("store").toString
    val out = root.resolve("survivors").toString
    val landing = root.resolve("landing").toString
    // persisted fingerprint store seeded with one standing hash
    // (subdir layout: the exactly-once protocol globs store subdirs)
    Seq("stored text").toDF("text").select(md5(col("text")).as("text_hash"))
      .write.parquet(s"$store/seed")
    Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text_hash")
      .write.parquet(s"$out/seed")
    def write(name: String, stamp: Long, rows: Seq[(Long, String)]): Unit = {
      rows.map { case (id, t) => (id, t, "src") }.toDF("doc_id", "text", "source")
        .coalesce(1).write.parquet(s"$landing/$name")
      new java.io.File(s"$landing/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    write("f1", 1000000L, Seq((100L, "dup text"), (101L, "unique one")))
    // batch 2: doc 50 duplicates batch 1's hash — the store anti-join,
    // not the within-batch arg-min, must drop it (50 < 100, so a
    // single-batch arg-min would have kept 50 instead); doc 102 hits
    // the SEEDED store; doc 103 is novel
    write("f2", 2000000L, Seq(
      (50L, "dup text"), (102L, "stored text"), (103L, "unique two")))
    val incoming = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, source STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/f*")
    Streams.foreachBatchSink(incoming, _ => Streams.dedupIncrementalBatch(store, out))(
      _.processAllAvailable())
    val survivors = spark.read.parquet(s"$out/*").collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(survivors == Set(100L, 101L, 103L),
      s"expected batch-1 winner kept, batch-2 dup + stored hash dropped: $survivors")
    // the store absorbed exactly the survivors' hashes on top of the seed
    assert(spark.read.parquet(s"$store/*").count() == 4)
    // the exactly-once protocol: re-running a batch's computation with
    // its own subdir EXCLUDED reproduces it byte-for-byte — a
    // foreachBatch retry overwrites the same rows instead of
    // duplicating (append) or losing them (self-anti-join)
    val b2 = spark.read.parquet(s"$landing/f2")
    Streams.dedupIncrementalBatch(store, out)(b2, 1L) // simulate retry of batch 1
    val after = spark.read.parquet(s"$out/*").collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(after == survivors, s"retry changed the output: $after")
    assert(spark.read.parquet(s"$store/*").count() == 4)
  }

  test("D14 cross-batch: store drops a later dup (even at a smaller id), stages are " +
      "monotone per doc, retry is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_d14")
    val store = root.resolve("store").toString
    val out = root.resolve("flags").toString
    val landing = root.resolve("landing").toString
    val passing = "the cat is on the mat and the dog is in the house of a king"
    val passing2 = passing + " with another tale of the sea"
    val passing3 = passing + " and the story of the old night"
    val stored = "the old store text is full of the words and the lines of a book"
    val german = "der hund und die katze ist das haus"
    // fixture guard: the English texts clear both gates, the German
    // one fails at the language gate — computed through the SAME seam
    // the stream runs, so the fixture can't silently rot
    val gate = graft.operators.TextOps.attritionFlagsOn(
      Seq((1L, "en", passing, "s"), (2L, "en", passing2, "s"),
        (3L, "en", passing3, "s"), (4L, "en", stored, "s"),
        (5L, "de", german, "s"))
        .toDF("doc_id", "lang", "text", "source")).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    Seq(1L, 2L, 3L, 4L).foreach(i =>
      assert(gate(i) == ((1L, 1L)), s"fixture text $i must pass both gates: ${gate(i)}"))
    assert(gate(5L) == ((0L, 0L)), s"fixture german text must fail the lang gate")
    Seq(stored).toDF("text").select(md5(col("text")).as("text_hash"))
      .write.parquet(s"$store/seed")
    Seq.empty[(Long, String, String, Long, Long, Long)]
      .toDF("doc_id", "source", "text_hash", "pass_lang", "pass_qual", "pass_exact")
      .write.parquet(s"$out/seed")
    def land(name: String, stamp: Long, rows: Seq[(Long, String, String)]): Unit = {
      rows.map { case (id, lg, t) => (id, lg, t, "src") }
        .toDF("doc_id", "lang", "text", "source")
        .coalesce(1).write.parquet(s"$landing/$name")
      new java.io.File(s"$landing/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(stamp))
    }
    land("f1", 1000000L, Seq((100L, "en", passing), (101L, "en", passing2),
      (104L, "de", german)))
    // batch 2: doc 50 duplicates batch 1's canon text at a SMALLER id
    // (a single-batch arg-min would crown 50 — only the store drop
    // gets this right); doc 102 hits the seeded store; doc 103 is novel
    land("f2", 2000000L, Seq((50L, "en", passing), (102L, "en", stored),
      (103L, "en", passing3)))
    val incoming = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, text STRING, source STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/f*")
    Streams.foreachBatchSink(incoming, _ => Streams.attritionBatch(store, out))(
      _.processAllAvailable())
    def readFlags(): Map[Long, (Long, Long, Long)] =
      spark.read.parquet(s"$out/*").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("pass_lang"), r.getAs[Long]("pass_qual"),
            r.getAs[Long]("pass_exact")))).toMap
    val flags = readFlags()
    assert(flags.size == 6, s"every arrival must keep a flag row: $flags")
    flags.foreach { case (id, (l, qv, e)) =>
      assert(l >= qv && qv >= e, s"doc $id: funnel not monotone ($l,$qv,$e)") }
    assert(flags.filter(_._2._3 == 1L).keySet == Set(100L, 101L, 103L),
      s"canon set wrong: ${flags.filter(_._2._3 == 1L).keySet}")
    assert(flags(104L)._1 == 0L, "german doc must fail the language gate")
    assert(flags(50L) == ((1L, 1L, 0L)), "cross-batch dup passes gates but loses canon")
    assert(flags(102L) == ((1L, 1L, 0L)), "seeded-store dup passes gates but loses canon")
    // store = seed + the three canon hashes
    assert(spark.read.parquet(s"$store/*").count() == 4)
    // exactly-once: retrying batch 2 (own subdir excluded) reproduces it
    val b2 = spark.read.parquet(s"$landing/f2")
    Streams.attritionBatch(store, out)(b2, 1L)
    assert(readFlags() == flags, "retry changed the flag rows")
    assert(spark.read.parquet(s"$store/*").count() == 4)
    Streams.deleteTree(root)
  }

  test("D12 streamed appends accumulate, leave untouched lists byte-identical, " +
      "tie with one batch append, and refuse a half-applied marker") {
    import org.apache.spark.sql.functions._
    import graft.operators.{IndexLifecycle, PqLifecycle}
    val root = java.nio.file.Files.createTempDirectory("graft_d12")
    val idxA = root.resolve("idxA").toString // streamed
    val idxB = root.resolve("idxB").toString // one-shot batch twin
    val landing = root.resolve("landing").toString
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = vecs.count()
    PqLifecycle.build(spark, sf, idxA)
    PqLifecycle.build(spark, sf, idxB)
    // batch 1: four arrivals; batch 2: ONE arrival (so ≥ one cluster
    // list is touched in batch 2 and the other ~15 stay untouched)
    val b1 = vecs.filter(col("id") < 4).select((col("id") + n).as("id"), col("vec"))
    val b2 = vecs.filter(col("id") === 4).select((col("id") + n).as("id"), col("vec"))
    def land(name: String, df: org.apache.spark.sql.DataFrame, stamp: Long): Unit = {
      df.coalesce(1).write.parquet(s"$landing/$name")
      new java.io.File(s"$landing/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(stamp))
    }
    def codeFiles(idx: String): Map[String, Seq[Byte]] = {
      val base = new java.io.File(idx)
      base.listFiles().filter(d => d.isDirectory && d.getName.startsWith("cluster_id="))
        .flatMap(_.listFiles().filter(_.getName.startsWith("part-")))
        .map(f => f.getPath ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    land("f1", b1, 1000000L)
    val schema = spark.read.parquet(s"$landing/f1").schema
    val incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/f*")
    Streams.foreachBatchSink(incoming, Streams.indexAppendBatch(idxA, _)) { q =>
      q.processAllAvailable() // batch 1 landed
      val snap1 = codeFiles(idxA)
      land("f2", b2, 2000000L)
      q.processAllAvailable() // batch 2 landed
      val after = codeFiles(idxA)
      // append never rewrites: every batch-1-era file survives bytewise
      snap1.foreach { case (p, bytes) =>
        assert(after.get(p).contains(bytes), s"pre-existing list file $p changed") }
      // batch 2 landed exactly one new file, in exactly one list dir
      val fresh = after.keySet -- snap1.keySet
      assert(fresh.size == 1, s"expected one new part file, got $fresh")
    }
    // cross-batch accumulation: streamed state == one batch append of
    // the SAME arrival set, and the landed codes are row-identical
    PqLifecycle.append(b1.union(b2), idxB)
    val sA = IndexLifecycle.status(spark, idxA)
    val sB = IndexLifecycle.status(spark, idxB)
    assert(sA.size == sB.size && sA.dirtyCount == sB.dirtyCount &&
      sA.isDirty && sA.dirtyCount == 5L)
    def codeRows(idx: String) = spark.read.parquet(idx)
      .select(col("cluster_id").cast("int"), col("id"), col("codes"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(codeRows(idxA) == codeRows(idxB))
    // a half-applied marker refuses further ingest LOUDLY mid-stream
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(idxA).resolve("_append_tmp"))
    val incoming2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/f*")
    // a fresh checkpoint → re-reads f1
    val ex = Streams.foreachBatchSink(incoming2, Streams.indexAppendBatch(idxA, _)) { q2 =>
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    assert(causes(ex).exists(_.contains("half-applied")),
      s"expected the half-applied refusal, got: ${causes(ex)}")
    Streams.deleteTree(root)
  }

  test("D17 BQ streamed appends: accumulation ties with one batch append; replay no-ops") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BqCodec, IndexLifecycle, TierLifecycle}
    val root = java.nio.file.Files.createTempDirectory("graft_d17")
    val idxA = root.resolve("idxA").toString // streamed (sink body)
    val idxB = root.resolve("idxB").toString // one-shot batch twin
    try {
      val vecs = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val n = vecs.count()
      TierLifecycle.build(BqCodec, spark, sf, idxA)
      TierLifecycle.build(BqCodec, spark, sf, idxB)
      val b1 = vecs.filter(col("id") < 4).select((col("id") + n).as("id"), col("vec"))
      val b2 = vecs.filter(col("id") === 4).select((col("id") + n).as("id"), col("vec"))
      Streams.bqAppendBatch(idxA, "ckptA")(b1, 0L)
      Streams.bqAppendBatch(idxA, "ckptA")(b2, 1L)
      val s1 = IndexLifecycle.status(spark, idxA)
      assert(s1.dirtyCount == 5L && s1.size == n + 5 && s1.isDirty)
      val diskBefore = spark.read.parquet(idxA).count()
      // a sink retry replaying an applied batch must change NOTHING
      Streams.bqAppendBatch(idxA, "ckptA")(b2, 1L)
      val s2 = IndexLifecycle.status(spark, idxA)
      assert(s2.size == s1.size && s2.dirtyCount == s1.dirtyCount)
      assert(spark.read.parquet(idxA).count() == diskBefore,
        "a replayed batch landed duplicate code rows")
      // cross-batch accumulation: streamed codes == one batch append
      // of the SAME arrival set (both frozen-threshold encodes)
      TierLifecycle.append(BqCodec, b1.union(b2), idxB)
      def codeRows(idx: String) = spark.read.parquet(idx)
        .select(col("cluster_id").cast("int"), col("id"), col("codes"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(codeRows(idxA) == codeRows(idxB))
    } finally Streams.deleteTree(root)
  }

  test("D12 replay of an applied batchId is a no-op (at-least-once safety)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{IndexLifecycle, PqLifecycle}
    val root = java.nio.file.Files.createTempDirectory("graft_d12r")
    val idx = root.resolve("idx").toString
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = vecs.count()
    PqLifecycle.build(spark, sf, idx)
    val b = vecs.filter(col("id") < 3).select((col("id") + n).as("id"), col("vec"))
    Streams.indexAppendBatch(idx, "ckptA")(b, 0L)
    val s1 = IndexLifecycle.status(spark, idx)
    val rows1 = spark.read.parquet(idx).count()
    assert(s1.dirtyCount == 3L && s1.appliedBatchFor("ckptA") == 0L)
    // the replay: foreachBatch re-delivers batch 0 after a crash
    // between the completed append and the checkpoint commit — the
    // state already accounts for it, so the retry must not land
    // duplicate code rows or double-count dirt
    Streams.indexAppendBatch(idx, "ckptA")(b, 0L)
    val s2 = IndexLifecycle.status(spark, idx)
    assert(s2 == s1, s"replay mutated state: $s2")
    assert(spark.read.parquet(idx).count() == rows1,
      "replay landed duplicate code rows")
    // a NEW batch id still appends normally
    Streams.indexAppendBatch(idx, "ckptA")(
      b.select((col("id") + 100L).as("id"), col("vec")), 1L)
    val s3 = IndexLifecycle.status(spark, idx)
    assert(s3.dirtyCount == 6L && s3.appliedBatchFor("ckptA") == 1L)
    assert(spark.read.parquet(idx).count() == rows1 + 3)
    // a FRESH stream identity (new checkpoint) restarts its batch
    // numbering at 0 — the old stream's watermark (1) must NOT swallow
    // it: the batch applies under its OWN map entry
    Streams.indexAppendBatch(idx, "ckptB")(
      b.select((col("id") + 200L).as("id"), col("vec")), 0L)
    val s4 = IndexLifecycle.status(spark, idx)
    assert(s4.dirtyCount == 9L && s4.appliedBatchFor("ckptB") == 0L &&
      s4.appliedBatchFor("ckptA") == 1L,
      s"fresh-checkpoint batch was swallowed by a stale watermark: $s4")
    assert(spark.read.parquet(idx).count() == rows1 + 6)
    // INTERLEAVED streams keep separate watermarks: ckptA's replay of
    // its batch 1 must STILL no-op even though ckptB wrote since (a
    // single last-writer pair would re-land it here)
    Streams.indexAppendBatch(idx, "ckptA")(
      b.select((col("id") + 100L).as("id"), col("vec")), 1L)
    val s5 = IndexLifecycle.status(spark, idx)
    assert(s5 == s4, s"interleaved replay mutated state: $s5")
    assert(spark.read.parquet(idx).count() == rows1 + 6,
      "interleaved replay landed duplicate code rows")
    Streams.deleteTree(root)
  }

  test("store compaction collapses landed subdirs content-neutrally; " +
      "post-compact stream still drops cross-batch dups") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_cmp")
    val store = root.resolve("store").toString
    val out = root.resolve("survivors").toString
    Seq("stored text").toDF("text").select(md5(col("text")).as("text_hash"))
      .write.parquet(s"$store/seed")
    Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text_hash")
      .write.parquet(s"$out/seed")
    // two landed batches (the D10 batch core invoked directly)
    Streams.dedupIncrementalBatch(store, out)(
      Seq((100L, "batch zero text", "src")).toDF("doc_id", "text", "source"), 0L)
    Streams.dedupIncrementalBatch(store, out)(
      Seq((101L, "batch one text", "src")).toDF("doc_id", "text", "source"), 1L)
    val before = spark.read.parquet(s"$store/*").collect()
      .map(_.getString(0)).toSet
    assert(before.size == 3)
    def subdirs(): Set[String] = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs() == Set("seed", "b0", "b1"))
    // collapse: 3 subdirs absorbed into one, content identical
    assert(Streams.compactStore(spark, store) == 3)
    assert(subdirs() == Set("seed"))
    assert(spark.read.parquet(s"$store/*").collect()
      .map(_.getString(0)).toSet == before, "compaction changed store content")
    // idempotent: nothing to do on a compacted store
    assert(Streams.compactStore(spark, store) == 0)
    // a crash DURING the staging write leaves only a bare _compact_tmp
    // (no _old_* asides): every landed subdir is intact, so serving
    // continues and the next compact deletes the stale staging instead
    // of bricking a store whose recovery is just that deletion
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(store).resolve("_compact_tmp"))
    assert(Streams.readStoreExcept(spark, store, 99L).count() == before.size,
      "bare staging leftover must not refuse an intact store")
    assert(Streams.compactStore(spark, store) == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store).resolve("_compact_tmp")),
      "stale staging must be cleaned up by the next compact")
    // the post-compact store still drops a dup of an ABSORBED hash
    Streams.dedupIncrementalBatch(store, out)(
      Seq((102L, "batch zero text", "src"), (103L, "novel text", "src"))
        .toDF("doc_id", "text", "source"), 2L)
    val survivors = spark.read.parquet(s"$out/*").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(survivors == Set(100L, 101L, 103L),
      s"post-compact store failed to drop the dup: $survivors")
    // a half-applied compaction marker refuses both compact and serve
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(store).resolve("_old_bX"))
    intercept[IllegalArgumentException] { Streams.compactStore(spark, store) }
    intercept[IllegalArgumentException] { Streams.readStoreExcept(spark, store, 99L) }
    Streams.deleteTree(root)
  }

  test("D13 cross-batch fuzzy: near-dup of a batch-1 survivor drops in batch 2 via the store") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_d13")
    val store = root.resolve("store").toString
    val out = root.resolve("survivors").toString
    val landing = root.resolve("landing").toString
    // 50-word deterministic texts: long enough that a one-word edit
    // keeps shingle-Jaccard ≈ 0.98 (minhash agreement ≥ the 103/128
    // bar with overwhelming concentration)
    def text(seed: Int): String =
      (0 until 50).map(i => s"w${(i * 7 + seed * 13) % 97}").mkString(" ")
    def nearDup(t: String): String = t + " extraword"
    val standing = text(1)
    // seed the persisted signature+band store with ONE standing doc
    val seedSigs = graft.operators.Dedup
      .minhashSignatures(Seq((1L, standing)).toDF("doc_id", "text"))
      .select("doc_id", "mh").localCheckpoint()
    seedSigs.write.parquet(s"$store/sigs/seed")
    graft.operators.Dedup.bandsOf(seedSigs).write.parquet(s"$store/bands/seed")
    Seq.empty[(Long, String)].toDF("doc_id", "source").write.parquet(s"$out/seed")
    def land(name: String, stamp: Long, rows: Seq[(Long, String)]): Unit = {
      rows.map { case (id, t) => (id, t, "src") }.toDF("doc_id", "text", "source")
        .coalesce(1).write.parquet(s"$landing/$name")
      new java.io.File(s"$landing/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    // batch 1: 100 near-dups the STANDING doc (drops via seed store);
    // 101 is novel (survives, its signature+bands absorbed)
    land("f1", 1000000L, Seq((100L, nearDup(standing)), (101L, text(2))))
    // batch 2: 50 near-dups batch-1's SURVIVOR — only the store can
    // drop it (50 < 101, a within-batch-greedy union would keep 50);
    // 102 repeats the standing text verbatim (seed-store hit);
    // 200/201 are mutual near-dups, both novel vs the store — the
    // within-batch greedy keeps the smaller id, drops the larger;
    // 103 is novel (survives)
    land("f2", 2000000L, Seq(
      (50L, nearDup(text(2))), (102L, standing),
      (200L, text(3)), (201L, nearDup(text(3))), (103L, text(4))))
    val incoming = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, source STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$landing/f*")
    Streams.foreachBatchSink(incoming, _ => Streams.dedupFuzzyBatch(store, out))(
      _.processAllAvailable())
    val survivors = spark.read.parquet(s"$out/*").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(survivors == Set(101L, 200L, 103L),
      s"expected store-drop of 50/100/102 and within-batch drop of 201: $survivors")
    // the store absorbed exactly the survivors' signatures atop the seed
    assert(spark.read.parquet(s"$store/sigs/*").count() == 4)
    // exactly-once: retrying batch 2 (own subdir excluded from store
    // reads, batch-scoped overwrite) reproduces the same state — the
    // retried arrivals cannot match their OWN half-landed signatures
    val b2 = spark.read.parquet(s"$landing/f2")
    Streams.dedupFuzzyBatch(store, out)(b2, 1L)
    val after = spark.read.parquet(s"$out/*").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(after == survivors, s"retry changed the output: $after")
    assert(spark.read.parquet(s"$store/sigs/*").count() == 4)
    Streams.deleteTree(root)
  }

  test("D13b reconciler: component pass over the store emits the canonical-survivor delta") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_d13b")
    val store = root.resolve("store").toString
    val out = root.resolve("survivors").toString
    def text(seed: Int): String =
      (0 until 50).map(i => s"w${(i * 7 + seed * 13) % 97}").mkString(" ")
    def nearDup(t: String): String = t + " extraword"
    // the seed is the UN-deduplicated standing corpus — exactly the
    // gap the periodical closes: docs 1~2 are near-dups BOTH in the
    // store, 3 and 5 distinct; 2~4 chains into the same family
    val standingDocs = Seq(
      (1L, text(1)), (2L, nearDup(text(1))), (3L, text(2)), (5L, text(5)))
    val seedSigs = graft.operators.Dedup
      .minhashSignatures(standingDocs.toDF("doc_id", "text"))
      .select("doc_id", "mh").localCheckpoint()
    seedSigs.write.parquet(s"$store/sigs/seed")
    graft.operators.Dedup.bandsOf(seedSigs).write.parquet(s"$store/bands/seed")
    Seq.empty[(Long, String)].toDF("doc_id", "source").write.parquet(s"$out/seed")
    // a streamed batch: 10 is novel (survives, absorbed); 11 near-dups
    // the standing doc 1 (store-dropped, never absorbed)
    Streams.dedupFuzzyBatch(store, out)(
      Seq((10L, text(3), "src"), (11L, nearDup(text(1)), "src"))
        .toDF("doc_id", "text", "source"), 0L)
    // the store now holds {1, 2, 3, 5, 10}: the reconciler's component
    // pass sees the seed-side dup pair (1, 2) the stream never checked
    val delta = Streams.reconcileFuzzyStore(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == Set((2L, 1L)),
      s"expected the seed-side non-canonical (2 -> 1), got $delta")
    // no-orphan invariant (moved out of the served key, which stays
    // O(store) pure): every canonical the delta defers to is itself a
    // store member — canonicals never leave the store
    val storeIds = spark.read.parquet(s"$store/sigs/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(delta.forall { case (_, canon) => storeIds.contains(canon) },
      s"delta defers to a non-store canonical: $delta vs store $storeIds")
    // delta ≡ a from-scratch batch component pass over the SAME doc
    // set (signatures recomputed from the texts, same verify bar):
    // the store round-trip loses nothing
    val allDocs = (standingDocs ++ Seq((10L, text(3)))).toDF("doc_id", "text")
    val sig = graft.operators.Dedup.minhashSignatures(allDocs)
      .select("doc_id", "mh").localCheckpoint()
    val bands = graft.operators.Dedup.bandsOf(sig)
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("cand_a"), col("b.doc_id").as("cand_b"))
      .dropDuplicates("cand_a", "cand_b")
      .join(sig.select(col("doc_id").as("cand_a"), col("mh").as("mh_a")), "cand_a")
      .join(sig.select(col("doc_id").as("cand_b"), col("mh").as("mh_b")), "cand_b")
      .filter(Streams.minhashAgree >= graft.operators.Dedup.MinhashMatchMin)
      .select("cand_a", "cand_b")
    val scratch = graft.operators.Dedup.componentsFromPairs(pairs)
      .filter(col("doc_id") =!= col("component_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == scratch,
      s"store-based delta $delta != from-scratch component delta $scratch")
    Streams.deleteTree(root)
  }

  test("D9 stream_heavy_hitters == C22 batch heavy hitters") {
    assert(rows(Streams.streamHeavyHitters(spark, sf)) ==
      rows(Analytics.eventsHeavyHitters(spark, sf)))
  }

  test("D9 Space-Saving state merges across micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_hh").toString
    def write(name: String, stamp: Long, rows: Seq[(Long, Long)]): Unit = {
      rows.map { case (id, u) => (id, "2026-01-01 00:01:00", u, "click", 1.0) }
        .toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    // user 7: 3 events in batch 1, 2 more in batch 2 — est 5 only if
    // the sketch buffer carried across the boundary
    write("f1", 1000000L, Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 8L)))
    write("f2", 2000000L, Seq((5L, 7L), (6L, 7L), (7L, 9L)))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .as[Streams.Event]
    val sink = "graft_hh_sink"
    val q = Streams.heavyHittersJob(stream)
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(sink)
      .select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.est")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(7L -> 5L, 8L -> 1L, 9L -> 1L),
      s"sketch state did not merge across batches: $got")
  }

  test("D8 stream_funnel == C16 batch funnel (reach counts)") {
    val got = Streams.streamFunnel(spark, sf).collect().head
    val want = Analytics.eventsFunnel(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((want.getLong(0), want.getLong(1), want.getLong(2))))
  }

  test("funnel stage machine state survives micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    // view lands in batch 1; click and purchase in batch 2 — the click
    // only qualifies if seenView carried over, the purchase only if
    // seenQClick was set within batch 2 processing
    def write(name: String, stamp: Long, rows: Seq[(Long, String, String)]): Unit = {
      rows.map { case (id, t, typ) => (id, t, 9L, typ, 1.0) }
        .toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(stamp))
    }
    write("f1", 1000000L, Seq((1L, "2026-01-01 00:01:00", "view")))
    write("f2", 2000000L, Seq(
      (2L, "2026-01-01 00:02:00", "click"),
      (3L, "2026-01-01 00:03:00", "purchase")))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .as[Streams.Event]
    val sink = "graft_funnel_sink"
    val q = Streams.funnelJob(stream)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val stages = spark.table(sink).collect()
      .map(r => r.getString(1)).sorted.toSeq
    assert(stages == Seq("click", "purchase", "view"),
      s"all three transitions must fire across the two batches: $stages")
  }

  test("file-streamed harness == MemoryStream harness (same job, same rows)") {
    val viaFiles = Streams.streamWindowAgg(spark, sf)
    val viaMemory = Streams.runOnMemory(spark, sf, "complete")(Streams.windowAggJob)
      .orderBy("hour", "event_type")
    assert(rows(viaFiles) == rows(viaMemory))
  }

  test("D7 streaming knn enrichment == per-event batch argmin over the same corpus") {
    import org.apache.spark.sql.functions._
    val corpus = Tables.embeddings(spark, sf).select("vec_id", "embedding", "label")
    val viaStream = Streams.streamKnn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // batch twin computed the EXPENSIVE way — per event, not per
    // distinct text — proving the lookup-table optimization preserves
    // per-event semantics exactly
    val client = new graft.functions.FakeEmbeddingClient(64)
    val dist = graft.functions.VectorFunctions
      .cosineDistance(col("embedding"), col("qvec"))
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), client.embedColumn(col("event_type")).as("qvec"))
      .crossJoin(broadcast(corpus))
      .select(col("event_id"), dist.as("dist"), col("vec_id"), col("label"))
      .groupBy("event_id")
      .agg(min(struct(col("dist"), col("vec_id"), col("label"))).as("m"))
      .groupBy(col("m.label").as("label"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("label")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(viaStream == batch)
  }
}
