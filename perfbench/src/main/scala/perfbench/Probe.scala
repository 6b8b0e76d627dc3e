package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters for the traced run. Every job is attributed to the span
  * that submitted it (the `perfbench.span` local property, or the streaming
  * batch id for micro-batch jobs). */
final class Probe extends SparkListener {

  final class Cell {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val busyMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val output = new AtomicLong
  }

  val total = new Cell
  private val spans = new ConcurrentHashMap[String, Cell]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def cell(span: String): Cell = spans.computeIfAbsent(span, _ => new Cell)

  def span(name: String): Cell = spans.getOrDefault(name, new Cell)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val name = props.flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map("batch:" + _))
      .getOrElse("_untraced")
    js.stageIds.foreach(stageSpan.put(_, name))
    total.jobs.incrementAndGet()
    cell(name).jobs.incrementAndGet()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val c = cell(stageSpan.getOrDefault(te.stageId, "_untraced"))
      for (x <- Seq(total, c)) {
        x.tasks.incrementAndGet()
        x.busyMs.addAndGet(m.executorRunTime)
        x.cpuNs.addAndGet(m.executorCpuTime)
        x.gcMs.addAndGet(m.jvmGCTime)
        x.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        x.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        x.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        x.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Wait (bounded) for the asynchronous listener bus to drain: sample the
    * counters until two consecutive reads agree. */
  def quiesce(maxWaitMs: Long = 5000L): Unit = {
    def snap = (total.jobs.get, total.tasks.get, total.busyMs.get)
    var prev = snap
    var waited = 0L
    var stable = 0
    while (waited < maxWaitMs && stable < 2) {
      Thread.sleep(100L)
      waited += 100L
      val cur = snap
      if (cur == prev) stable += 1 else stable = 0
      prev = cur
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}

/** Samples one thread's stack every few milliseconds and charges the time
  * to the module (`ops.GraphOps`, `streaming.IncrementalPipeline`, ...) of
  * the innermost graft frame, so a call's wall time, waits on its Spark jobs
  * included, splits by the module that was running. */
final class Sampler(target: Thread, periodMs: Long = 5L) {
  private val charged = new ConcurrentHashMap[String, AtomicLong]()
  @volatile private var running = true
  private val Graft = """^graft\.(ops|streaming|pipeline|queries|expr)\.([A-Za-z0-9]+)""".r.unanchored

  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      target.getStackTrace.iterator.map(_.getClassName).collectFirst {
        case Graft(pkg, cls) => s"$pkg.$cls"
      }.foreach(m => charged.computeIfAbsent(m, _ => new AtomicLong).addAndGet(now - last))
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  def seconds(module: String): Double =
    Option(charged.get(module)).map(_.get / 1e9).getOrElse(0.0)
}

/** Spans around every public call the benchmark makes. Jobs submitted
  * inside a span carry its name as a local property so [[Probe]] can
  * attribute them. Spans are kept in memory and written out at exit. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

final class Tracer(sc: SparkContext) {

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Probe.SpanKey)
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    sc.setLocalProperty(Probe.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Probe.SpanKey, prev)
      synchronized { spans += Span(name, parent, t0, t1) }
    }
  }

  /** Record a span measured elsewhere (a micro-batch seen by a listener). */
  def record(name: String, parent: String, startNs: Long, endNs: Long): Unit =
    synchronized { spans += Span(name, parent, startNs, endNs) }

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = synchronized(spans.toList).map { s =>
      s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
