package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line of per-query seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Measurement hygiene (the round-2 lesson):
  *   - Queries run in DETERMINISTIC (sorted-key) order. `SparkEntry
  *     .queries` is an unordered Map, so adding a key used to reshuffle
  *     execution order — and silently reassign which query paid for the
  *     shared session memos (a measured 11× "regression" on ivf_query
  *     was the memo bill landing on a different key).
  *   - Shared memos (the shingle-set table, the IVF index) are
  *     materialized FIRST as their own timed line items
  *     (memo_shingle_sets, memo_ivf_index), so every query number
  *     measures that query.
  *   - A warmup pass at sf0.001 runs every query first so the timed
  *     pass measures engine throughput, not one-time JVM/janino
  *     compilation (Spark's codegen cache is keyed by generated source,
  *     which the tiny-SF pass compiles exactly). SPARK_GRAFT_WARMUP=0
  *     measures cold.
  */
object Bench {
  /** Time a thunk, capturing (not swallowing) any failure. Round 5's
    * version discarded the exception, so a key that threw at PLAN time
    * benched as a ~0.05s "result" — a broken operator masquerading as a
    * fast one, which is exactly how the ts regression shipped unnoticed.
    * Errored keys now land in the emitted `errors` map and are EXCLUDED
    * from per-query seconds and the total (pinned by HarnessSpec).
    */
  private[graft] def timed(f: () => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err = try { f(); None } catch { case e: Throwable =>
      Some(e.toString.linesIterator.take(1).mkString.take(300))
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Executor-storage snapshot after a pass: (cached RDD count, memory
    * bytes, disk bytes). Recorded per pass in the artifact so a
    * "pass 2 ran 50% slower" question is adjudicated from DATA — a
    * session-lifetime cache leak shows as monotonically growing
    * entries/bytes across passes, host noise shows flat storage with
    * inflated wall-clock (the round-6 [150, 229, 229] archaeology this
    * field exists to make structural).
    */
  private[graft] def storageSnapshot(spark: SparkSession): (Int, Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  private[graft] def passJson(label: String, s: (Int, Long, Long)): String =
    s"""{"pass":${Verify.jsonString(label)},"cached_rdds":${s._1},""" +
      s""""storage_mem_bytes":${s._2},"storage_disk_bytes":${s._3}}"""

  /** Compact artifact summary — everything EXCEPT the per-key maps,
    * guaranteed to fit well inside a 2000-char stdout tail. The driver
    * captures only the tail of sbt stdout, and the full JSON line
    * (130+ keys) is longer than that window, so its head was cut off
    * and BENCH_r05/r06 recorded "parsed": null. This line is printed
    * LAST; per-key queries/spread live in the full line above it and
    * in the file named by queries_file.
    */
  private[graft] def compactJson(total: Double, sfDir: String, runsN: Int,
      runTotals: String, passes: String, errJson: String, out: String,
      calJson: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","runs":$runsN,""" +
      s""""run_totals":$runTotals,"calibration":$calJson,"passes":$passes,""" +
      s""""errors":$errJson,"queries_file":${Verify.jsonString(out)}}"""

  /** Fixed synthetic CPU+IO calibration work — CONSTANT by
    * construction (no corpus, no SF, no model): a 20M-row codegen'd
    * hash aggregation plus a 1M-row parquet write/read round trip
    * through a temp dir. Timed once per run as the `calibration` line,
    * so a cross-window comparison (the recurring 1.3-2x same-code
    * swing between the builder's host window and the driver's) can be
    * NORMALIZED per artifact: divide a window's per-key medians by its
    * calibration median before comparing rounds — a host that runs
    * calibration 1.5x slower runs everything 1.5x slower, and the
    * divisor makes that structural instead of an adjudication argument
    * (SURVEY §8d/§8h).
    */
  private[graft] def calibration(spark: SparkSession): Unit = {
    // bit_xor, not sum: full-range hash values overflow a long sum
    // under ANSI mode
    spark.range(20L * 1000 * 1000)
      .selectExpr("bit_xor(xxhash64(id)) AS h")
      .queryExecution.toRdd.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_cal")
    try {
      val p = tmp.resolve("t.parquet").toString
      spark.range(1000000L).selectExpr("id", "xxhash64(id) AS h")
        .repartition(8).write.mode("overwrite").parquet(p)
      spark.read.parquet(p).queryExecution.toRdd.count()
      ()
    } finally streaming.Streams.deleteTree(tmp)
  }

  /** Shared session memos as named warmers — timed line items in the
    * bench, plain warmers in the warmup pass.
    */
  private def memoWarmers(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "memo_shingle_sets" -> (() => operators.Dedup.warmShingles(spark, dir)),
    // E2's df-ordered prefix table and E3's signature table: memoized
    // per dir (a per-invocation cache leaks for the session — measured
    // as 264→474→691s pass degradation in the first median-of-3 run)
    "memo_jaccard_prefix" -> (() => operators.Dedup.warmJaccardPrefix(spark, dir)),
    // the VERIFIED exact pair graph (round-16 memo): E2's key, the
    // E13/E35 components build and E49's exact contract share it —
    // after memo_jaccard_prefix so this line measures the candidate
    // join + verify, not the prefix build
    "memo_jaccard_pairs"  -> (() => { operators.Dedup.ngramJaccardPairs(spark, dir).count(); () }),
    "memo_minhash_sig"    -> (() => operators.Dedup.warmMinhashSig(spark, dir)),
    "memo_ivf_index"    -> (() => operators.Ivf.warmIndex(spark, dir)),
    // the exact cosine probe-all edge list shared by ann_topk_batch /
    // knn_graph_mutual / ann_recall_report / ann_param_sweep — after
    // memo_ivf_index so the k-means build isn't billed here
    "memo_exact_edges_cos" -> (() => operators.Ivf.warmExactEdges(spark, dir)),
    // E56's exact top-C shortlist (C=20) — its own attributable line so
    // ann_topk_mmr measures the greedy fold, not the probe-all pass
    "memo_exact_edges_mmr" -> (() =>
      operators.Ivf.warmExactEdges(spark, dir, operators.Mmr.Candidates)),
    // E37c's converged NN-Descent graph (init + rounds): memoized per
    // (dir, k) — warmed here so the key line measures serving the
    // edge list, and the BUILD cost is its own attributable line
    "memo_descent_graph" -> (() => { operators.Dedup.descentGraph(spark, dir); () }),
    // E13/E35 + E33 share the component-label tables; warmed here so
    // the query lines measure the reports, not the propagation. MUST
    // come after memo_ivf_index: the vector-side labels derive from
    // Ivf.pairStream, and warming first would bill the k-means build
    // to this line (the memo-attribution artifact this list exists to
    // prevent)
    // ONE line per label table (a single memo_components line hid three
    // builds — growth now attributes to the table that grew)
    "memo_components_doc" -> (() => operators.Dedup.warmDocComponents(spark, dir)),
    // E42's substrate: LSH candidates + exact verify + contraction —
    // after memo_minhash_sig so the signature build isn't billed here
    "memo_components_lsh" -> (() => operators.Dedup.warmLshComponents(spark, dir)),
    "memo_components_vec" -> (() => operators.Dedup.warmVecComponents(spark, dir)),
    "memo_components_clustered" ->
      (() => operators.Dedup.warmClusteredComponents(spark, dir)),
    "memo_pq_codes"     -> (() => { operators.Pq.encode(spark, dir); () }),
    // the residual (cluster_id, id, codes) table behind ivfpq_topk and
    // the quant report's pqr tier — after memo_ivf_index (it rides the
    // coarse assignment)
    "memo_pq_codes_res" -> (() => { operators.Pq.encodeResidual(spark, dir); () }),
    // the rotated-residual codes behind ivfpq_topk_opq
    "memo_pq_codes_res_opq" -> (() =>
      { operators.Pq.encodeResidual(spark, dir, opq = true); () }),
    "memo_sq8_codes"    -> (() => { operators.Sq8.encode(spark, dir); () }),
    "memo_bq_codes"     -> (() => { operators.Bq.encode(spark, dir); () }),
    "memo_pca_reduced"  -> (() => { operators.Pca.reduce(spark, dir); () }),
    // the cosine (normalized-corpus) variants behind ann_topk_batch_pq_cos
    "memo_ivf_index_cos" -> (() =>
      operators.Ivf.warmIndex(spark, dir, functions.VectorMetric.Cosine)),
    "memo_pq_codes_cos"  -> (() =>
      { operators.Pq.encode(spark, dir, metric = functions.VectorMetric.Cosine); () }),
    // the learned-rotation model + rotated codes behind pq_topk_opq
    "memo_pq_codes_opq"  -> (() =>
      { operators.Pq.encode(spark, dir, opq = true); () }),
    // the cosine RESIDUAL codes behind the mid-selectivity filtered
    // graph route (round 13) — after memo_ivf_index_cos (they ride the
    // normalized-corpus assignment)
    "memo_pq_codes_res_cos" -> (() =>
      { operators.Pq.encodeResidual(spark, dir,
          metric = functions.VectorMetric.Cosine); () }),
    // the L2 descent graph behind graph_topk_l2 (round 13) — its own
    // line so the key measures serving, not the build
    "memo_descent_graph_l2" -> (() =>
      { operators.Dedup.descentGraph(spark, dir,
          metric = functions.VectorMetric.L2); () }),
    // the DOT descent graph behind graph_topk_dot — same attribution
    "memo_descent_graph_dot" -> (() =>
      { operators.Dedup.descentGraph(spark, dir,
          metric = functions.VectorMetric.Dot); () }),
    // the phase-2 refined graphs the SERVING keys run on (round 14's
    // two-phase builder) — after their descent memos, so these lines
    // measure ONLY the refinement scan+merge
    "memo_refined_graph" -> (() => operators.GraphIndex.warmRefinedGraph(spark, dir)),
    "memo_refined_graph_l2" -> (() => operators.GraphIndex
      .warmRefinedGraph(spark, dir, functions.VectorMetric.L2)),
    "memo_refined_graph_dot" -> (() => operators.GraphIndex
      .warmRefinedGraph(spark, dir, functions.VectorMetric.Dot)),
    // the l2/dot exact probe-all contracts the PER-METRIC tune grids
    // measure against (round 15 — cosine's is memo_exact_edges_cos
    // above); their own lines so the grid lines measure grading, not
    // the exact pass
    "memo_exact_edges_l2" -> (() =>
      operators.Ivf.warmExactEdges(spark, dir, metric = functions.VectorMetric.L2)),
    "memo_exact_edges_dot" -> (() =>
      operators.Ivf.warmExactEdges(spark, dir, metric = functions.VectorMetric.Dot)),
    // the measured (rounds, beam) grids, one line per metric — after
    // their refined-graph and exact-edge memos, so each line measures
    // ONLY the 4-config serving measurement; the autotune/tuned keys
    // then serve the pinned grids
    "memo_graph_tune_grid" -> (() =>
      operators.GraphIndex.warmGraphTuneGrid(spark, dir)),
    "memo_graph_tune_grid_l2" -> (() =>
      operators.GraphIndex.warmGraphTuneGrid(spark, dir, functions.VectorMetric.L2)),
    "memo_graph_tune_grid_dot" -> (() =>
      operators.GraphIndex.warmGraphTuneGrid(spark, dir, functions.VectorMetric.Dot)),
    // the persisted tuned graph tree (build + per-metric sidecar)
    // behind graph_topk_tuned / graph_autotune / the persisted
    // filtered key — after the grid memos it now persists, not measures
    "memo_graph_tuned_tree" -> (() =>
      operators.GraphIndex.warmGraphTunedTree(spark, dir)),
    // the learned merge table behind bpe_train/token_count_bpe/E39b —
    // warmed so whichever of the three keys runs first doesn't bill
    // the driver merge loop to itself
    "memo_bpe_model"     -> (() => { operators.Bpe.train(spark, dir); () }),
    // E53's measurement grids (shared with the E50/A24 dashboard keys):
    // warmed LAST so they ride the model/code/edge memos above and
    // these two lines measure only the grid MEASUREMENT itself — the
    // dashboard keys then serve the pinned grids
    "memo_sweep_grid" -> (() => { operators.Autotune.sweepGrid(spark, dir); () }),
    "memo_tier_grid"  -> (() => { operators.Autotune.tierGrid(spark, dir); () }),
    // the persisted tuned tree behind ivfpq_topk_tuned — after the
    // grids (writeAutotune reads them) and the residual codes, so this
    // line measures ONLY the tree persist + sidecar write
    "memo_ivfpq_tuned_tree" -> (() => { operators.Pq.tunedTree(spark, dir); () }))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "/root/testdata/sf0.001")
    val spark = GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    if (warmup != "0") {
      memoWarmers(spark, warmup).foreach { case (_, f) => try f() catch { case _: Throwable => () } }
      // same toRdd action as the timed pass, so warmup compiles the
      // SAME generated code the measurement will run
      ordered.foreach { case (_, fn) =>
        try { fn(spark, warmup).queryExecution.toRdd.count(); () }
        catch { case _: Throwable => () }
      }
    }
    // memos are one-time by design (graft.Memo session entries) — timed once;
    // the QUERY set runs SPARK_GRAFT_BENCH_RUNS times (default 3) and each
    // key reports its MEDIAN, with min/max spread alongside, so a single
    // noisy pass on this virtualized disk (measured 2-4× swings between
    // identical runs) can no longer masquerade as a regression.
    val memoTimed = memoWarmers(spark, sfDir).map { case (name, f) => name -> timed(f) }
    val passSnaps = scala.collection.mutable.ArrayBuffer(
      "memos" -> storageSnapshot(spark))
    val runsN = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // evaluate through the physical plan of the key's OWN output
    // schema, not through count(): count() re-optimizes with zero
    // needed columns, which legally ELIMINATES key-unique left joins
    // and unused windows — a grid-report key (E45/E48's shape) would
    // bench its 7-row grid scan instead of its pair pass. toRdd keeps
    // every output column live and still never collects to the driver.
    val perRun: Seq[Seq[(String, (Double, Option[String]))]] = (1 to runsN).map { i =>
      // the constant-work calibration line leads each run: same
      // median/spread treatment as a query, no SF dependence
      val r = ("calibration" -> timed(() => calibration(spark))) +:
        ordered.map { case (name, fn) =>
          name -> timed(() => { fn(spark, sfDir).queryExecution.toRdd.count(); () })
        }
      passSnaps += s"run$i" -> storageSnapshot(spark)
      r
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val byKey = ("calibration" +: ordered.map(_._1)).map { name =>
      name -> perRun.map(_.toMap.apply(name))
    }
    // a key that errored in ANY pass is reported in `errors` and kept
    // OUT of queries/total — its wall-clock is meaningless
    val errors: Seq[(String, String)] =
      memoTimed.collect { case (n, (_, Some(e))) => n -> e } ++
        byKey.flatMap { case (n, xs) => xs.flatMap(_._2).headOption.map(n -> _) }
    val memoResults = memoTimed.collect { case (n, (s, None)) => n -> s }
    val greenByKey = byKey.collect {
      case (n, xs) if xs.forall(_._2.isEmpty) => n -> xs.map(_._1)
    }
    val queryResults = greenByKey.map { case (name, xs) => name -> median(xs) }
    val results = memoResults ++ queryResults
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = greenByKey.map { case (k, xs) => s"\"" + k + s"\":[${xs.min},${xs.max}]" }
      .mkString("{", ",", "}")
    val runTotals = perRun.map { r =>
      memoResults.map(_._2).sum +
        r.collect { case (n, (s, None)) if greenByKey.exists(_._1 == n) => s }.sum
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val errJson = errors
      .map { case (k, e) => s"${Verify.jsonString(k)}:${Verify.jsonString(e)}" }
      .mkString("{", ",", "}")
    val passes = passSnaps.map { case (l, s) => passJson(l, s) }
      .mkString("[", ",", "]")
    // the calibration median/spread must live in the COMMITTED file
    // artifact too (not just stdout): §8h's normalization divisor has
    // to be reproducible from BENCH_LOCAL.json alone
    val calJson = byKey.find(_._1 == "calibration")
      .map { case (_, xs) => xs.collect { case (sec, None) => sec } }
      .filter(_.nonEmpty) // errored runs' wall-clock is meaningless
      .map(ss => s"""{"median":${median(ss)},"spread":[${ss.min},${ss.max}]}""")
      .getOrElse("null")
    // memo lines are SINGLE-SHOT warmers (graft.Memo fills — they
    // cannot re-run under the median-of-3), so their run-to-run noise
    // band is ~2× where query medians are tight; the artifact marks
    // them explicitly so round-over-round tooling excludes them BY
    // FLAG instead of by the memo_ prefix convention (the round-14
    // verdict's false-regression finding: memo_descent_graph_l2 read
    // 1.83× on identical code)
    val memoKeys = memoResults.map { case (k, _) => Verify.jsonString(k) }
      .mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""memo_keys":$memoKeys,""" +
      s""""sf":"$sfDir","runs":$runsN,"run_totals":$runTotals,"spread":$spread,""" +
      s""""calibration":$calJson,"passes":$passes,"errors":$errJson}"""
    // the CURATED artifact (BENCH_LOCAL.json) is written only on
    // explicit opt-in: an explicit SPARK_GRAFT_BENCH_OUT path, or
    // SPARK_GRAFT_BENCH_COMMIT=1 — the artifact at HEAD only ever
    // changes by an explicit builder commit (the round-12 hygiene).
    // Any other run (the driver's end-of-round pass in particular)
    // lands in BENCH_FULL_LATEST.json beside the round artifacts: the
    // round-13 verdict found the driver's full per-query map surviving
    // only as a /tmp scratch file (BENCH_r13.json's 2000-char stdout
    // tail truncates the ~204-line full JSON), so round-over-round
    // analysis needs a persisted sibling. The file is clearly labeled
    // as the LATEST run on this host, never the curated median — the
    // two names cannot be confused.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (sys.env.get("SPARK_GRAFT_BENCH_COMMIT").contains("1")) "BENCH_LOCAL.json"
      else "BENCH_FULL_LATEST.json"
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: java.io.IOException =>
      // loud, not fatal: a silently-failed write would leave a PREVIOUS
      // run's numbers in the file masquerading as this run's
      System.err.println(s"[bench] could not write $out: $e")
    }
    // full artifact first (humans + whole-stdout parsers), COMPACT
    // summary as the very last line: the driver keeps only a ~2000-char
    // stdout tail, which beheaded the 130-key full line (BENCH_r05/r06
    // "parsed": null); the summary always fits the window intact.
    println(json)
    println(compactJson(total, sfDir, runsN, runTotals, passes, errJson, out, calJson))
    spark.stop()
  }
}
