package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import perfbench.Main.{Ctx, Outcome}

/** Passes over a fixed set of registered gates on the committed tables:
  * four fixpoint gates that share one staged directed trade graph, and one
  * scan gate from each of five query modules. An operation is one pass.
  *
  * Each gate is timed as `build` (the `Q.fn` call: analysis plus eager
  * pins) and `run` (one action over the gate's intact plan: a `noop` write
  * with an observed row count and an order-independent checksum over every
  * output column). The shared-stage memos are cleared at the start of each
  * pass, so the first gate of each shared set pays for the build.
  */
object GatesWorkload {

  /** Fixpoint gates that share one staged directed trade graph, kept whole
    * and in order, so the first pays for the stage. */
  val IterativeGates: Seq[String] = Seq(
    "graph_pagerank", "graph_ppr", "graph_katz", "graph_hits")

  /** Scan gates, one per query module: an aggregate, a profile, a sketch,
    * a layout key and native uuid5 keys. */
  val ScanGates: Seq[(String, String)] = Seq(
    "RelationalQueries" -> "q1_pricing_summary",
    "ProfilingQueries" -> "profile_table",
    "SketchQueries" -> "sketch_cms_freq",
    "LayoutQueries" -> "layout_rendezvous_shard",
    "PipelineQueries" -> "e1_uuid5_keys")

  val Gates: Seq[String] = IterativeGates ++ ScanGates.map(_._2)

  /** Scale factor of the committed tables the gates read. */
  val Sf = "sf0.01"

  final case class Expected(gate: String, rows: Long, checksum: String, oracle: String)

  def expected(ctx: Ctx): Map[String, Expected] =
    Files.readAllLines(ctx.a.root.resolve("perfbench/gates/expected.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t") match {
        case Array(g, r, c, o) => g -> Expected(g, r.toLong, c, o)
        case bad => sys.error(s"bad expected.tsv line: ${bad.mkString("\t")}")
      }).toMap

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val registry = graft.Registry.all.map(q => q.name -> q).toMap
    // Gate-name guard: a missing or renamed gate fails the run loudly.
    val exp = expected(ctx)
    val missing = Gates.filterNot(registry.contains) ++
      exp.keys.filterNot(Gates.contains) ++ Gates.filterNot(exp.contains)
    if (missing.nonEmpty) {
      System.err.println("[perfbench] gates do not match the registry and " +
        s"perfbench/gates/expected.tsv: ${missing.distinct.mkString(", ")}")
      sys.exit(3)
    }
    val dir = ctx.a.data.resolve(Sf).toString

    final case class GateRun(build: Double, run: Double, rows: Long, sum: String)

    def gate(name: String, tag: String): GateRun = {
      val (df, b) = Main.time(ctx.tracer(s"build:$name#$tag")(registry(name).fn(spark, dir)))
      val (obs, r) = Main.time(ctx.tracer(s"run:$name#$tag")(materialize(df)))
      val row = obs.get
      GateRun(b, r, row("n").asInstanceOf[Long], s"${row("lo")}:${row("hi")}")
    }

    // One pass: clear the shared-stage memos, then every gate in order. A
    // gate that throws or misses its expected rows/checksum fails the pass.
    def pass(tag: String): (Seq[(String, GateRun)], Seq[String]) = {
      graft.queries.GraphQueries.clearSweepMemos()
      val runs = Gates.map(g => g -> (try Right(gate(g, tag)) catch {
        case e: Throwable => Left(s"$g: exception ${e.getClass.getSimpleName}: ${e.getMessage}")
      }))
      val ok = runs.collect { case (g, Right(r)) => g -> r }
      val bad = runs.collect { case (_, Left(err)) => err } ++ ok.collect {
        case (g, r) if r.rows != exp(g).rows || r.sum != exp(g).checksum =>
          s"$g: output check failed (rows ${r.rows}, checksum ${r.sum}; " +
            s"expected ${exp(g).rows}, ${exp(g).checksum})"
      }
      for ((g, r) <- ok)
        System.err.println(f"[perfbench] gate $g%-24s pass $tag%-2s build ${r.build}%.3f s run ${r.run}%.3f s")
      (ok, bad)
    }

    // Set-up: table relations, then one warm-up pass so JIT, codegen and
    // class loading land before the timed phase.
    val stage = (1 to 3).map { _ =>
      Main.time(Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .foreach(t => graft.T(spark, dir, t).schema))._2
    }
    val ((_, warmBad), warm) = Main.time(pass("w"))
    warmBad.foreach(e => System.err.println(s"[perfbench] warm-up: $e"))

    val passes = Vector.newBuilder[(Seq[(String, GateRun)], Seq[String])]
    val (latencies, wall) = ctx.measure(minOps = 2) { p =>
      val (r, s) = Main.time(pass(p.toString))
      passes += r
      s
    }
    val all = passes.result()
    val failures = all.zipWithIndex.collect {
      case ((_, bad), p) if bad.nonEmpty => s"pass $p: ${bad.mkString("; ")}"
    }
    val rows = all.collect { case (ok, bad) if bad.isEmpty => ok.map(_._2.rows).sum }.sum

    // Per-layer, per iterative gate and per scan module: times are medians
    // over passes, counts are per pass.
    def median(g: String, f: GateRun => Double) =
      Stats.median(all.flatMap(_._1.collect { case (`g`, r) => f(r) }))
    def perPass(g: String, f: Probe#Cell => Long) =
      all.indices.map(p => f(ctx.probe.span(s"build:$g#$p")) +
        f(ctx.probe.span(s"run:$g#$p"))).sum.toDouble / math.max(1, all.size)
    def layer(prefix: String, g: String, count: (String, Probe#Cell => Long)) = Seq(
      (s"$prefix.build_s", median(g, _.build), "s"),
      (s"$prefix.run_s", median(g, _.run), "s"),
      (s"$prefix.${count._1}", perPass(g, count._2), "count"),
      (s"$prefix.shuffle_mb", perPass(g, _.shuffleWrite.get) / 1e6, "MB"))
    val layers = if (!ctx.a.trace) Nil else
      IterativeGates.flatMap(g => layer(s"iter.$g", g, "jobs" -> (_.jobs.get))) ++
        ScanGates.flatMap { case (m, g) => layer(s"scan.$m", g, "tasks" -> (_.tasks.get)) }
    Outcome(latencies, wall, rows, failures, stage, warm, layers)
  }

  /** One action that computes every output column of the gate's plan: a
    * `noop` write carrying an observed row count and the sums of the low
    * and high 32-bit halves of each row's xxhash64 (order-independent). */
  def materialize(df: DataFrame): Observation = {
    val obs = Observation()
    val h = xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    df.observe(obs, count(lit(1)).as("n"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(shiftrightunsigned(h, 32)).as("hi"))
      .write.format("noop").mode("overwrite").save()
    obs
  }
}
