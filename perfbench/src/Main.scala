package graft.perfbench


/** Workload benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * Main --check-generators
  * }}}
  *
  * Prints every metric by name with its unit, then, as the last line,
  * one JSON object: correct, attempted, failed and the metrics (the
  * end-to-end set untraced, the per-layer set traced). Writes the full
  * artifact (run metadata, named per-workload figures, failures and,
  * traced, the spans) under `--out`. Exits 1 when any check failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--check-generators")) sys.exit(if (GenCheck.run()) 0 else 1)
    val workload = Workload.all.find(_.name == opts("workload"))
      .getOrElse(sys.error(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val out = opts("out")
    sys.exit(run(workload, seed, seconds, trace, out))
  }

  def run(w: Workload, seed: Long, seconds: Int, trace: Boolean, out: String): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = s"$out/work-${w.name}-$seed"
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(nproc.toString, nproc.toString)
      .appName(s"perfbench-${w.name}").getOrCreate()
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, trace)
    val h = new Harness(spark, tracer, seed, seconds)
    try {
      def secondsOf[T](body: => T): (T, Double) = {
        val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
      }
      val (setupS, warmS, s, rounds, cachedStart, cachedEnd, rddsEnd) = tracer.span("workload", w.name) {
        val (st, setup) = secondsOf(w.setup(h, work))
        val (_, warm) = secondsOf(h.inPhase("warmup")(w.warmup(h, st)))
        val c0 = h.cachedMb
        val n = h.timedRounds(w.minRounds, w.once(h, st), if (trace) w.tracedOnly(h, st)) { r =>
          w.round(h, st, r); h.sampleStorage()
        }
        (setup, warm, st, n, c0, h.cachedMb, h.cachedRdds)
      }
      // constant-work timing, so host drift between runs shows in the artifact
      val calibrationS =
        h.inPhase("calibration")(secondsOf(h.harness("calibration")(graft.Bench.calibration(spark)))._2)
      val o = w.outcome(h, s)
      h.deleteTree(work)

      val e2e = Seq(("setup_s", startS + setupS + warmS, "s"), ("call_p50_geomean_ms", o.callP50GeomeanMs, "ms"))
      val traced = tracer.listener.map { l =>
        l.drain(spark.sparkContext)
        Layers.report(w, h, l, o.layerState, startS, rddsEnd, cachedEnd - cachedStart)
      }
      traced.foreach(_.failures.foreach(f => h.check(cond = false, f)))
      val correct = h.failed == 0 && h.attempted > 0
      val metrics = traced.map(_.metrics).getOrElse(e2e)

      val meta = Json.obj(
        "workload" -> Json.str(w.name), "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> trace.toString, "nproc" -> nproc.toString,
        "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "spark" -> Json.str(spark.version),
        "calibration_s" -> Json.num(calibrationS),
        "session_start_s" -> Json.num(startS),
        "setup_s" -> Json.num(setupS),
        "warmup_s" -> Json.num(warmS),
        "rounds" -> rounds.toString,
        "peak_cached_mb" -> Json.num(h.peakCachedMb))
      val artifact = Json.obj(
        "meta" -> meta,
        "correct" -> correct.toString, "attempted" -> h.attempted.toString, "failed" -> h.failed.toString,
        "failed_ratio" -> Json.num(h.failed.toDouble / math.max(1L, h.attempted)),
        "end_to_end" -> Json.metrics(e2e),
        "workload_metrics" -> Json.obj(o.detail.map { case (n, v, u, c) =>
          n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u), "samples" -> c.toString)
        }: _*),
        "per_layer" -> traced.map(t => Json.metrics(t.metrics)).getOrElse("null"),
        "attribution" -> traced.map(_.attribution).getOrElse("null"),
        "calls" -> Json.obj(tracer.calls.groupBy(c => s"${c.phase}/${c.key}").toSeq.sortBy(_._1)
          .map { case (k, cs) => k -> Json.obj("n" -> cs.size.toString,
            "wall_ms" -> Json.num(cs.map(_.wallMs).sum)) }: _*),
        "failures" -> Json.arr(h.failures.toSeq.map(Json.str)))
      val file = s"$out/${w.name}-seed$seed-trace${if (trace) 1 else 0}.json"
      Json.write(file, artifact)
      traced.foreach(t => Json.write(s"$out/${w.name}-seed$seed-spans.json", t.spans))

      println(s"# ${w.name} seed=$seed nproc=$nproc rounds=$rounds calibration_s=${"%.3f".format(calibrationS)}")
      e2e.foreach { case (n, v, u) =>
        println(f"# e2e  $n%-20s $v%.4f $u" + (if (n == "setup_s") "" else s" (rounds=$rounds)"))
      }
      o.detail.foreach { case (n, v, u, c) => println(f"# work $n%-20s $v%.4f $u (n=$c)") }
      println(f"# failed_ratio ${h.failed.toDouble / math.max(1L, h.attempted)}%.4f (${h.failed}/${h.attempted})")
      h.failures.take(10).foreach(f => println(s"# FAILED: $f"))
      println(s"# artifact: $file")
      println(Json.obj("correct" -> correct.toString, "attempted" -> h.attempted.toString,
        "failed" -> h.failed.toString, "metrics" -> Json.metrics(metrics)))
      if (correct) 0 else 1
    } finally spark.stop()
  }
}

/** Minimal JSON rendering (values are pre-rendered strings). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
  def write(path: String, s: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
  }
}
