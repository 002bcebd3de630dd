package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a module. `parent` is the id of the span that was
  * open when this one started (0 at the top). */
final class Span(val id: Long, val layer: String, val fn: String,
                 val validator: Boolean, val parent: Long, val run: String,
                 val start: Long) {
  var end: Long = -1L
  def durNs: Long = end - start
}

/** Spark work charged to one span. */
final class Cost {
  var jobs, stages, tasks, runMs, shuffleBytes, spillBytes = 0L
  var writeBytes, rowsWritten = 0L

  def add(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    writeBytes += o.writeBytes; rowsWritten += o.rowsWritten
  }

  /** Bytes the tasks put on local disk: output files, shuffle files
    * and spill. */
  def diskBytes: Long = writeBytes + shuffleBytes + spillBytes
}

/** Charges every job to the span named by the local property the job
  * was submitted under, and every stage and task to its job's span.
  * Jobs submitted with no span open land on span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val costs = mutable.HashMap.empty[Long, Cost]

  private def cost(span: Long): Cost = costs.getOrElseUpdate(span, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.Prop))).map(_.toLong).getOrElse(0L)
    cost(span).jobs += 1
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      cost(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cost(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.writeBytes += m.outputMetrics.bytesWritten
      c.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Everything charged so far, by span id. Call after [[Trace.drain]]. */
  def snapshot(): Map[Long, Cost] = synchronized {
    costs.map { case (k, v) => val c = new Cost; c.add(v); k -> c }.toMap
  }

  /** Sum over every span: the whole JVM's Spark work so far. */
  def total(): Cost = synchronized {
    val t = new Cost; costs.valuesIterator.foreach(t.add); t
  }
}

/** The span recorder. When off, [[span]] is a plain call: no local
  * property, no record. Single client thread by design. */
final class Trace(sc: SparkContext, val listener: SpanListener) {
  var on = false
  var run = ""
  /** Client-thread time spent recording spans: the tracing overhead on
    * the path the user waits on. */
  var bookkeepingNs = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](layer: String, fn: String, validator: Boolean = false)
             (body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val s = new Span(nextId, layer, fn, validator,
        stack.headOption.fold(0L)(_.id), run, t0)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Trace.Prop, s.id.toString)
      bookkeepingNs += System.nanoTime() - t0
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.Prop,
          stack.headOption.map(_.id.toString).orNull)
        bookkeepingNs += System.nanoTime() - s.end
      }
    }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spansOf(runId: String): Seq[Span] = spans.filter(_.run == runId).toSeq

  /** All spans as JSON lines, each with its own Spark cost. */
  def spanLines(): Seq[String] = {
    val costs = listener.snapshot()
    spans.toSeq.map { s =>
      val c = costs.getOrElse(s.id, new Cost)
      Json.obj(Seq(
        "id" -> s.id, "name" -> s"${s.layer}.${s.fn}", "layer" -> s.layer,
        "parent" -> s.parent, "run" -> s.run,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "validator" -> s.validator, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "exec_run_ms" -> c.runMs))
    }
  }
}

object Trace {
  val Prop = "perfbench.span"

  /** The modules the per-layer metrics are named after. */
  val Layers: Seq[String] = Seq("sources", "ops", "cdc", "core", "reports",
    "operators.incremental", "operators.search", "operators.dedup",
    "operators.textanalysis", "operators.quantization")

  val LayerMetrics: Seq[(String, String)] = Seq(
    "calls" -> "count", "busy_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "exec_run_s" -> "s",
    "slot_idle_ratio" -> "ratio", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "write_bytes" -> "bytes")

  /** Per-span self time: duration minus the time its child spans cover
    * (children of one span never overlap: one client thread). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(_.durNs).sum).toMap
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  final case class Group(calls: Long, busyNs: Long, cost: Cost)

  /** The spans of `all` that `p` selects, with their self time (child
    * spans of any layer excluded) and Spark cost. */
  def group(all: Seq[Span], costs: Map[Long, Cost])(p: Span => Boolean)
      : Group = {
    val self = selfNs(all)
    val picked = all.filter(p)
    val c = new Cost
    picked.foreach(s => costs.get(s.id).foreach(c.add))
    Group(picked.size, picked.map(s => self(s.id)).sum, c)
  }

  /** The ten metrics of one layer, named `<prefix>.<metric>`. */
  def layerMetrics(prefix: String, g: Group, slots: Int)
      : Seq[(String, Double, String)] = {
    val busy = g.busyNs / 1e9
    val run = g.cost.runMs / 1e3
    val idle = if (busy > 0) 1.0 - run / (busy * slots) else 0.0
    val v = Map(
      "calls" -> g.calls.toDouble, "busy_s" -> busy,
      "jobs" -> g.cost.jobs.toDouble, "stages" -> g.cost.stages.toDouble,
      "tasks" -> g.cost.tasks.toDouble, "exec_run_s" -> run,
      "slot_idle_ratio" -> idle,
      "shuffle_bytes" -> g.cost.shuffleBytes.toDouble,
      "spill_bytes" -> g.cost.spillBytes.toDouble,
      "write_bytes" -> g.cost.writeBytes.toDouble)
    LayerMetrics.map { case (m, unit) => (s"$prefix.$m", v(m), unit) }
  }
}
