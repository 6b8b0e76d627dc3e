package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.IncrementalPipeline
import perfbench.Main.{Ctx, Outcome}

/** Closed-loop incremental dedup ingest with one client: a seeded base of
  * issue texts is loaded during set-up, then fixed-size deltas go into the
  * stream behind `IncrementalPipeline.toIncrementalDedupSink` one at a
  * time, each only after the previous one committed. An operation is one
  * micro-batch, timed from the delta becoming visible to the source until
  * its commit.
  */
object IngestWorkload {
  val BaseSize = 250
  val DeltaSize = 5
  val MaxDeltas = 400

  private val T0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime

  def ts(batch: Long): java.sql.Timestamp = new java.sql.Timestamp(T0 + batch * 86400000L)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val stage = (1 to 3).map(_ => Main.time(
      CorpusGen.corpus(ctx.a.seed, BaseSize, DeltaSize, MaxDeltas))._2)
    val corpus = CorpusGen.corpus(ctx.a.seed, BaseSize, DeltaSize, MaxDeltas)
    val dir = ctx.a.work.resolve("ingest")
    val state = dir.resolve("state")

    val progress = new ConcurrentHashMap[Long, Map[String, Long]]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.put(p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        ctx.tracer.record(s"batch:${p.batchId}", "stream",
          System.nanoTime() - p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L,
          System.nanoTime())
      }
    }
    spark.streams.addListener(listener)

    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = IncrementalPipeline.toIncrementalDedupSink(
        input.toDF().toDF("id", "text"), "id", "text",
        state.toString, dir.resolve("checkpoint").toString,
        k = 3, threshold = 0.8, effectiveTs = ts, trigger = Trigger.ProcessingTime(0))
      .start()
    def send(docs: Seq[CorpusGen.Doc]): Unit = {
      input.addData(docs.map(d => (d.id, d.text)))
      q.processAllAvailable()
    }

    // set-up: the base, then one delta so the steady-state path is warm
    val (_, preload) = Main.time(send(corpus.base))
    val (_, warm) = Main.time(send(corpus.deltas(0)))

    val failures = Vector.newBuilder[String]
    final case class Batch(write: Long, deltaBytes: Long)
    val batches = Vector.newBuilder[Batch]
    // a traced run samples the micro-batch thread through the timed phase
    val sampler = if (!ctx.a.trace) None else Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("stream execution thread")).map(new Sampler(_))
    var committed = 0L
    val (lat, wall) = ctx.measure(minOps = 2) { i =>
      val d = corpus.deltas(i + 1)
      val since = System.currentTimeMillis()
      val (_, s) = Main.time(
        try { send(d); committed += d.size } catch { case e: Throwable =>
          failures += s"batch ${i + 2}: exception ${e.getClass.getSimpleName}: ${e.getMessage}"
        })
      batches += Batch(Main.du(state, since)._1, d.map(x => x.text.getBytes("UTF-8").length + 8L).sum)
      s
    }
    q.stop()
    sampler.foreach(_.stop())
    val timedBatches = lat.size
    val ingested = corpus.base ++ corpus.deltas.take(timedBatches + 1).flatten
    val arrival: Map[Long, Long] = (corpus.base.map(_.id -> 0L) ++
      corpus.deltas.take(timedBatches + 1).zipWithIndex.flatMap { case (ds, b) =>
        ds.map(_.id -> (b + 1L)) }).toMap

    // output checks: labels are the planted clusters; dim holds one open
    // version per document, stamped with the batch that brought it
    val labels = spark.read.parquet(state.resolve("labels").toString)
      .select($"id", $"component").as[(Long, Long)].collect().toMap
    val wantLabels = ingested.map(d => d.id -> d.root).toMap
    if (labels != wantLabels)
      failures += s"labels: ${(wantLabels.toSet -- labels.toSet).size} expected (id, component) " +
        s"pairs missing, ${(labels.toSet -- wantLabels.toSet).size} unexpected"
    val dim = spark.read.parquet(state.resolve("dim").toString)
      .select($"doc_id", $"component", $"kept", $"valid_from".cast("long"), $"valid_to".isNull)
      .as[(Long, Long, Int, Long, Boolean)].collect().toSet
    val wantDim = ingested.map(d => (d.id, d.root, if (d.id == d.root) 1 else 0,
      ts(arrival(d.id)).getTime / 1000, true)).toSet
    if (dim != wantDim)
      failures += s"dim: ${(wantDim -- dim).size} expected version rows missing, " +
        s"${(dim -- wantDim).size} unexpected"

    // per-layer, from the timed batches (ids 2 onward)
    val timedIds = (0 until timedBatches).map(_ + 2L)
    val deadline = System.currentTimeMillis() + 5000
    while (timedIds.exists(b => !progress.containsKey(b)) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    spark.streams.removeListener(listener)
    def dur(key: String) = Stats.median(timedIds.flatMap(b => Option(progress.get(b)))
      .map(_.getOrElse(key, 0L).toDouble))
    val tb = batches.result()
    val (stateBytes, stateFiles) = Main.du(state)
    val layers = if (!ctx.a.trace) Nil else Seq(
      ("stream.trigger_ms", dur("triggerExecution"), "ms"),
      ("stream.add_batch_ms", dur("addBatch"), "ms"),
      ("stream.query_planning_ms", dur("queryPlanning"), "ms"),
      ("stream.wal_commit_ms", dur("walCommit"), "ms"),
      ("stream.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("state.mb", stateBytes / 1e6, "MB"),
      ("state.files", stateFiles.toDouble, "count"),
      ("batch.write_mb", Stats.median(tb.map(_.write / 1e6)), "MB"),
      ("ingest.write_amp", Stats.median(tb.map(b => b.write.toDouble / b.deltaBytes)), "ratio")) ++
      Seq("ops.DedupOps", "ops.GraphOps", "ops.IncrementalOps", "ops.Staging",
        "streaming.IncrementalPipeline")
        .map(m => (s"$m.s", sampler.fold(0.0)(_.seconds(m)) / math.max(1, tb.size), "s"))
    Outcome(lat, wall, committed, failures.result(),
      stage, preload + warm, layers)
  }
}
