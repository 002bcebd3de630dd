package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `run.py` builds and launches it.
  *
  *   --workload tagpipe|lifecycle  --seed N  --seconds S
  *   --trace 0|1  --scratch DIR  --spans FILE  [--digests FILE]
  *
  * Both modes set up three times (median is `setup_s`), so their first
  * pass starts from the same JVM state. trace 0: untraced passes for S
  * seconds, output checks on the last one, the end-to-end metrics.
  * trace 1: one traced pass, the per-layer metrics, every span written
  * to FILE. The last stdout line is the JSON result. */
object Main {
  val TagpipeRows = 4000L
  val Docs = 600L
  val Vecs = 400L
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val scratch = a("scratch")
    val slots = math.min(Runtime.getRuntime.availableProcessors, 4)
    val digests = a.get("digests").map(readDigests).getOrElse(Map.empty)
    val w: Workload = a("workload") match {
      case "tagpipe" => new TagPipe(TagpipeRows, digests)
      case "lifecycle" => new Lifecycle(Docs, Vecs)
      case other => sys.error(s"unknown workload $other")
    }
    val (ctx, setupTimes) = setUp(w, seed, slots, scratch, SetupReps)
    try {
      if (traced) tracedRun(ctx, w, scratch, a("spans"))
      else timedRun(ctx, w, scratch, seconds, setupTimes)
    } finally ctx.spark.stop()
  }

  /** Recorded tagpipe output digests: lines of `<seed> <digest>`. */
  private def readDigests(path: String): Map[Long, String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(s, d) = l.split("\\s+"); s.toLong -> d }.toMap
    finally src.close()
  }

  private def session(scratch: String, slots: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()

  /** Session start plus the workload's set-up, `reps` times from a
    * fresh session; the last one is kept. */
  private def setUp(w: Workload, seed: Long, slots: Int, scratch: String,
                    reps: Int): (Ctx, Seq[Double]) = {
    var ctx: Ctx = null
    val times = (1 to reps).map { i =>
      if (ctx != null) {
        ctx.spark.stop()
        Disk.delete(s"$scratch/setup-${i - 1}")
      }
      val t0 = System.nanoTime()
      val spark = session(scratch, slots)
      spark.sparkContext.setLogLevel("ERROR")
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      ctx = new Ctx(spark, new Trace(spark.sparkContext, listener), seed,
        slots, new Ops)
      w.setup(ctx, s"$scratch/setup-$i")
      (System.nanoTime() - t0) / 1e9
    }
    (ctx, times)
  }

  private def timed(body: => Long): PassResult = {
    val t0 = System.nanoTime()
    val n = body
    PassResult(n, (System.nanoTime() - t0) / 1e9)
  }

  /** The environment stamp and the input record. `steal` is the share
    * of the machine's CPU time the hypervisor took while the passes
    * ran: a run with much of it is noisy. */
  private def env(ctx: Ctx, w: Workload, steal: Double): Unit = {
    println(s"env slots=${ctx.slots} spark=${ctx.spark.version} " +
      s"jvm=${System.getProperty("java.version")} seed=${ctx.seed} " +
      "flush=local-filesystem-no-fsync " + f"steal=$steal%.4f " +
      s"source=${sys.env.getOrElse("PERFBENCH_SOURCE", "unknown")}")
    val digest = w.inputDirs.map(d =>
      Digest.of(ctx.spark.read.parquet(d))).mkString("/")
    println(s"input workload=${w.name} rows=${w.inputRows} " +
      s"bytes=${w.inputBytes} digest=$digest")
  }

  private def check(ctx: Ctx, w: Workload, dir: String): Seq[Option[String]] =
    w.checks(ctx, dir).map { case (n, r) =>
      println(s"check $n " + r.fold("ok")(why => s"FAILED $why"))
      r
    }

  /** Ops and output checks attempted, and how many of them failed: a
    * failed check counts as a failed op. */
  private def outcome(ctx: Ctx, checks: Seq[Option[String]]): (Int, Int) =
    (ctx.ops.attempted + checks.size,
      ctx.ops.failed + checks.count(_.isDefined))

  private def result(ctx: Ctx, checks: Seq[Option[String]],
                     metrics: Seq[(String, Double, String)]): Unit = {
    ctx.ops.errors.take(20).foreach(e => println(s"op-failure $e"))
    val (attempted, failed) = outcome(ctx, checks)
    println(f"failed_ratio ${failed.toDouble / attempted}%.6f ($failed of " +
      s"$attempted ops and checks)")
    metrics.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    val m = metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(m)))))
  }

  /** Untraced passes for `seconds`, then the end-to-end metrics. */
  private def timedRun(ctx: Ctx, w: Workload, scratch: String,
                       seconds: Double, setupTimes: Seq[Double]): Unit = {
    ctx.trace.drain()
    val written0 = ctx.trace.listener.total().diskBytes
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val ticks0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      val k = passes.size
      if (k > 0) Disk.delete(s"$scratch/pass-${k - 1}")
      passes += timed(w.pass(ctx, s"$scratch/pass-$k"))
    } while (elapsed + passes.map(_.wallS).sum / passes.size <= seconds)
    ctx.trace.drain()
    val written = ctx.trace.listener.total().diskBytes - written0
    val last = s"$scratch/pass-${passes.size - 1}"
    val t1 = System.nanoTime()
    env(ctx, w, Host.stealShare(ticks0, Host.cpuTicks()))
    val lat = ctx.ops.latencies.toSeq
    val beyond = lat.size - math.ceil(0.9 * lat.size).toInt
    println(s"samples passes=${passes.size} ops=${lat.size} " +
      s"beyond_p90=$beyond")
    val storeBytes = w.storeBytes(last)
    val checks = check(ctx, w, last)
    println(setupTimes.map(t => f"$t%.1f").mkString("phases setup=", "+", "s ") +
      f"passes=${(t1 - t0) / 1e9}%.1fs " +
      f"checks=${(System.nanoTime() - t1) / 1e9}%.1fs")
    val (attempted, failed) = outcome(ctx, checks)
    val in = w.inputBytes.toDouble
    result(ctx, checks, Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("wall_s", Stats.median(passes.map(_.wallS).toSeq), "s"),
      ("items_per_s", Stats.median(passes.map(p => p.items / p.wallS).toSeq),
        "1/s"),
      ("op_p50_s", Stats.quantile(lat, 0.5), "s"),
      ("op_p90_s", Stats.quantile(lat, 0.9), "s"),
      ("success_ratio", 1.0 - failed.toDouble / attempted, "ratio"),
      ("peak_rss_mb", Disk.peakRssMb(), "MiB"),
      ("write_bytes_per_input_byte", written.toDouble / passes.size / in,
        "ratio"),
      ("store_bytes_per_input_byte", storeBytes / in, "ratio")))
  }

  /** Per-layer metrics of `spans` with their Spark cost. */
  private def layerMetrics(ctx: Ctx, spans: Seq[Span], costs: Map[Long, Cost])
      : Seq[(String, Double, String)] = {
    val g = Trace.group(spans, costs) _
    Trace.Layers.flatMap(l =>
      Trace.layerMetrics(l, g(_.layer == l), ctx.slots)) ++ {
      val v = g(_.validator)
      Seq(("validators.calls", v.calls.toDouble, "count"),
        ("validators.jobs", v.cost.jobs.toDouble, "count"),
        ("validators.busy_s", v.busyNs / 1e9, "s"))
    }
  }

  /** One traced pass: per-layer metrics, the tracing overhead, the
    * span file. */
  private def tracedRun(ctx: Ctx, w: Workload, scratch: String,
                        spansFile: String): Unit = {
    val dir = s"$scratch/pass-0"
    ctx.trace.run = "traced"
    ctx.trace.on = true
    val ticks0 = Host.cpuTicks()
    val traced = try timed(w.pass(ctx, dir)) finally ctx.trace.on = false
    val steal = Host.stealShare(ticks0, Host.cpuTicks())
    val overhead = ctx.trace.bookkeepingNs / 1e9
    ctx.trace.drain()
    val spans = ctx.trace.spansOf("traced")
    val costs = ctx.trace.listener.snapshot()
    // the ratios' own counting jobs run under their own run id, so
    // they never land in the traced pass's layers
    ctx.trace.run = "aux"
    ctx.trace.on = true
    val ratios = try w.ratios(ctx, dir, Trace.group(spans, costs)).toMap
    finally ctx.trace.on = false
    env(ctx, w, steal)
    val checks = check(ctx, w, dir)
    writeSpans(ctx, spansFile)
    println(s"spans ${spans.size} written to $spansFile")
    val ratioNames = Seq("cdc.changed_row_ratio",
      "sources.rows_written_per_changed_row",
      "operators.incremental.rows_rewritten_per_retracted_row")
    result(ctx, checks,
      layerMetrics(ctx, spans, costs) ++
        ratioNames.map(n => (n, ratios.getOrElse(n, 0.0), "ratio")) ++
        Seq(("trace.wall_s", traced.wallS, "s"),
          ("trace.overhead_s", overhead, "s")))
  }

  private def writeSpans(ctx: Ctx, file: String): Unit = {
    val f = new java.io.File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    val out = new java.io.PrintWriter(f, "UTF-8")
    try ctx.trace.spanLines().foreach(out.println) finally out.close()
  }
}
