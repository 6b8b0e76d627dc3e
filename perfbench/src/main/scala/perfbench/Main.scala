package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM at local[nproc].
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <checkout> --out <result.json> [--launch-ms <epoch ms>]
  * }}}
  *
  * Writes one JSON object (`correct`, `attempted`, `failed`, `metrics`) to
  * `--out`. With `--trace 0` the metrics are the end-to-end ones; with
  * `--trace 1` they are the per-layer ones (see README.md).
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, out: Path, launchMs: Long) {
    val work: Path = root.resolve(".bench_build").resolve("work")
    val data: Path = root.resolve("perfbench").resolve("data")
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath,
      m.get("launch-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  /** What a workload hands back: per-operation latencies and their total
    * (seconds), rows produced, failures with their kind, the repeated
    * input-staging times and the warm-up time, and its per-layer metrics. */
  final case class Outcome(
      latencies: Seq[Double],
      timedWallS: Double,
      rows: Long,
      failures: Seq[String],
      stageS: Seq[Double],
      warmupS: Double,
      layers: Seq[(String, Double, String)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Ctx => Outcome =
      a.workload match {
        case "pipeline_batch" => PipelineWorkload.batch
        case "pipeline_generations" => PipelineWorkload.generations
        case "ingest_stream" => IngestWorkload.run
        case "gates" => GatesWorkload.run
        case other =>
          System.err.println(s"[perfbench] unknown workload $other")
          sys.exit(2)
      }
    Uuid5.selfTest()
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val ctx = new Ctx(spark, a)
    val o = workload(ctx)
    val heapMb = retainedHeapMb()

    val setupS = sessionS + o.warmupS + Stats.median(o.stageS)
    System.err.println(f"[perfbench] ${a.workload}: session $sessionS%.2f s, staging " +
      f"${Stats.median(o.stageS)}%.3f s, warm-up ${o.warmupS}%.2f s, timed ${o.timedWallS}%.2f s " +
      s"over ${o.latencies.size} operations: ${o.latencies.map(x => f"$x%.2f").mkString(" ")}")
    val attempted = o.latencies.size
    val failed = o.failures.size
    o.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", Stats.median(o.latencies), "s"),
        ("rows_per_s", o.rows / o.timedWallS, "rows/s"),
        ("retained_heap_mb", heapMb, "MB"))
      else {
        val t = ctx.probe.total
        val got = (Seq(
          ("spark.jobs", t.jobs.get.toDouble),
          ("spark.tasks", t.tasks.get.toDouble),
          ("spark.busy_s", t.busyMs.get / 1000.0),
          ("spark.cpu_s", t.cpuNs.get / 1e9),
          ("spark.gc_s", t.gcMs.get / 1000.0),
          ("spark.shuffle_read_mb", t.shuffleRead.get / 1e6),
          ("spark.shuffle_write_mb", t.shuffleWrite.get / 1e6),
          ("spark.spill_mb", t.spill.get / 1e6),
          ("spark.output_mb", t.output.get / 1e6)) ++
          o.layers.map { case (n, v, _) => (n, v) }).toMap
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        // every traced run reports every per-layer metric; a layer the
        // workload does not enter reads 0, and the launcher fills in
        // trace.overhead_pct from the untraced runs
        PerLayer.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
      }
    if (a.trace)
      ctx.tracer.writeJson(a.root.resolve(".bench_build")
        .resolve(s"trace-${a.workload}-${a.seed}.json"))
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    // op_p50_s rides along in traced runs too: the launcher compares it with
    // the untraced runs for the tracing overhead, then drops it
    val json = s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$body,"op_p50_s":${Json.num(Stats.median(o.latencies))}}"""
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, json.getBytes("UTF-8"))
    spark.stop()
    deleteTree(a.work)
  }

  /** Every per-layer metric: (name, unit). */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.busy_s" -> "s",
      "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.output_mb" -> "MB",
      "trace.overhead_pct" -> "%",
      "extract.s" -> "s", "extract.pages" -> "count", "extract.retries" -> "count",
      "runner.s" -> "s", "runner.rows_in" -> "count", "runner.rows_out" -> "count",
      "validate.s" -> "s", "validate.violations" -> "count",
      "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
      "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
      "stream.commit_offsets_ms" -> "ms", "state.mb" -> "MB", "state.files" -> "count",
      "batch.write_mb" -> "MB", "ingest.write_amp" -> "ratio",
      "ops.DedupOps.s" -> "s", "ops.GraphOps.s" -> "s", "ops.IncrementalOps.s" -> "s",
      "ops.Staging.s" -> "s", "streaming.IncrementalPipeline.s" -> "s") ++
      GatesWorkload.IterativeGates.flatMap(g => Seq(s"iter.$g.build_s" -> "s",
        s"iter.$g.run_s" -> "s", s"iter.$g.jobs" -> "count", s"iter.$g.shuffle_mb" -> "MB")) ++
      GatesWorkload.ScanGates.map(_._1).flatMap(m => Seq(s"scan.$m.build_s" -> "s",
        s"scan.$m.run_s" -> "s", s"scan.$m.tasks" -> "count", s"scan.$m.shuffle_mb" -> "MB"))

  /** One run's shared state. In a traced run the listener is registered
    * when the timed phase starts, so set-up and warm-up stay uncounted. */
  final class Ctx(val spark: SparkSession, val a: Args) {
    val tracer = new Tracer(spark.sparkContext)
    val probe = new Probe

    def measure(minOps: Int)(op: Int => Double): (Seq[Double], Double) = {
      if (a.trace) spark.sparkContext.addSparkListener(probe)
      val r = timedLoop(a.seconds, minOps)(op)
      if (a.trace) probe.quiesce()
      r
    }
  }

  /** local[nproc] with shuffle partitions = nproc; the heap is sized by the
    * launcher from MemTotal. Scratch space stays inside the checkout. */
  def session(a: Args): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val local = a.root.resolve(".bench_build").resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections. Spark's context cleaner drops
    * blocks of unreachable broadcasts and shuffles only after a collection
    * has found them, so collect, give it time, and collect again. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Run operations until their timed parts add up to `seconds` (at least
    * `minOps` operations). Each operation returns the seconds it timed;
    * its output checks run outside that figure. */
  def timedLoop(seconds: Double, minOps: Int)(op: Int => Double): (Seq[Double], Double) = {
    val lat = Vector.newBuilder[Double]
    var wall = 0.0
    var i = 0
    while (i < minOps || wall < seconds) {
      val d = op(i)
      lat += d
      wall += d
      i += 1
    }
    (lat.result(), wall)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Bytes and file count under `p`; with `since`, only files whose
    * modification time is at or after `since` (epoch ms). */
  def du(p: Path, since: Long = Long.MinValue): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f =>
          if (Files.getLastModifiedTime(f).toMillis >= since) {
            bytes += Files.size(f); files += 1
          }
        }
        (bytes, files)
      } finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
