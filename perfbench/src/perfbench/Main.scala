package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark entry point: one workload, one JVM, one JSON result line.
  *
  * Untraced (`--trace 0`): set up, run the closed loop for `--seconds`,
  * check every output against the model, and print the end-to-end
  * metrics. Traced (`--trace 1`): the same set-up, then one window of the
  * same length in which every other unit operation is traced, then the
  * per-layer probes; prints the per-layer metrics, per-layer self time and
  * the tracing overhead, and writes the spans to `--trace-out`. */
object Main {
  /** Input sizes; see perfbench/README.md for why these and not larger. */
  val BulkDocs = 1000
  val TickDocs = 1000
  val ProbeDocs = 500
  val WarmTicks = 1
  val WarmCycles = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: Path, launchMs: Long, benchDir: Path, traceOut: String,
                        recordOps: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("run-dir")), kv("launch-ms").toLong, Paths.get(kv("bench-dir")),
      kv("trace-out"), argv.contains("--record-ops-digests"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try { run(a); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def info(s: String): Unit = println(s"# $s")

  private def run(a: Args): Unit = {
    Files.createDirectories(a.runDir)
    val spark = GraftSession.build()
    val readyS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val tracer = new Tracer(false)
    val outcome = new Outcome
    val jobs = if (a.trace) Some(new SparkJobs(spark.sparkContext)) else None
    val ctx = new Ctx(spark, a.seed, a.runDir, tracer, outcome)
    val wl: Workload = a.workload match {
      case "bulk_build" => new BulkBuild(ctx, BulkDocs, WarmCycles)
      case "lens_tick" => new LensTick(ctx, TickDocs, WarmTicks)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val t0 = System.nanoTime()
      wl.setup()
      val fixtureS = (System.nanoTime() - t0) / 1e9
      val setupS = readyS + fixtureS
      info(f"${a.workload}: engine ready ${readyS}%.2f s, fixture ${fixtureS}%.2f s; unit op = ${wl.unitOp}")

      val jvm = new JvmWindow
      jobs.foreach(_.drain())
      tracer.on = a.trace
      val w = wl.window(a.seconds)
      tracer.on = false
      val heapMb = jvm.heapPeakMb
      val gcS = jvm.gcSeconds
      val p50 = Stats.median(w.latMs)
      val (tail, pct, samples) = Stats.tail(w.latMs)
      info(f"window ${w.wallS}%.2f s, ${w.latMs.size} ops; p50 ${p50}%.2f ms, tail p$pct%.1f of n=$samples = ${tail}%.2f ms; rate ${w.rate}%.3f/s")

      val metrics =
        if (!a.trace) Seq(
          Metric("setup_s", setupS, "s"),
          Metric("p50_ms", p50, "ms"),
          Metric("throughput_per_s", w.rate, "1/s"))
        else traced(a, ctx, jobs.get, w, heapMb, gcS)
      wl.verify()
      outcome.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
      val body = metrics.map { m =>
        s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
      }.mkString(", ")
      println(s"""{"correct": ${outcome.failed.get == 0}, "attempted": ${math.max(1L, outcome.attempted.get)}, """ +
        s""""failed": ${outcome.failed.get}, "metrics": {$body}}""")
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Self-time report of the traced window, then the probes. */
  private def traced(a: Args, ctx: Ctx, jobs: SparkJobs, w: Window,
                     heapMb: Double, gcS: Double): Seq[Metric] = {
    val ran = jobs.drain()
    val spans = ctx.tracer.all
    val roots = spans.count(_.parent == 0L).max(1)
    // Spark jobs become child spans of the innermost span open at their
    // start (every workload has one client, so that span caused the job);
    // overlapping jobs of one owner merge into one span, so the spark
    // layer's self time is busy wall time, not a sum over concurrent jobs.
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ran.flatMap { j =>
      val s = j.startMs * 1000000L + offsetNs
      val e = math.max(s, j.endMs * 1000000L + offsetNs)
      spans.filter(p => p.startNs <= s && s <= p.endNs).maxByOption(_.startNs).map(o => (o, s, e))
    }.groupBy(_._1).foreach { case (o, js) =>
      js.map(j => (j._2, j._3)).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, pe max e) :: rest
        case (acc, iv) => iv :: acc
      }.foreach { case (s, e) => ctx.tracer.add("spark.jobs", o.trace, o.id, s, e) }
    }
    val all = ctx.tracer.all
    Tracer.writeJsonl(all, a.traceOut)
    val self = Tracer.selfByLayer(all)
    val ops = ctx.tracer.rootMs.asScala.toVector
    val overhead = Tracer.overhead(ops)
    info(f"traced window: ${all.size} spans in $roots traced ops, ${ops.count(!_._1)} untraced ops; " +
      f"tracing overhead ${overhead * 100}%.1f%% (traced op vs its untraced neighbours)")
    val layers = Seq("client", "api", "store", "lens", "spark")
    layers.foreach(l => info(f"self time per traced op  $l%-7s ${self.getOrElse(l, 0L) / 1e6 / roots}%10.2f ms"))
    val busy = ran.map(j => j.endMs - j.startMs).sum / 1000.0 / w.wallS
    val probes = new Probes(ctx, jobs, ProbeDocs)
    layers.map(l => Metric(s"trace.self_ms.$l", self.getOrElse(l, 0L) / 1e6 / roots, "ms")) ++
      Seq(Metric("trace.overhead_share", overhead, "ratio"),
        Metric("spark.job_busy_share", busy, "ratio"),
        Metric("jvm.heap_peak_mb", heapMb, "MB"),
        Metric("jvm.gc_s", gcS, "s")) ++
      probes.run() ++ probes.ops(a.benchDir.resolve("ops_expected.json"), a.recordOps)
  }
}
