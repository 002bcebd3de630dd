package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload pass can reach: the session, the span recorder, the
  * seed, and its op recorder. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val slots: Int, val ops: Ops) {

  /** A call into module `layer`: a span when tracing is on. */
  def call[T](layer: String, fn: String)(body: => T): T =
    trace.span(layer, fn)(body)

  /** A call into one of the operator modules' eager validators: counted
    * in its module and again in the `validators` group. */
  def validate[T](layer: String, fn: String)(body: => T): T =
    trace.span(layer, fn, validator = true)(body)

  /** One call the user waits for, timed. A throw counts as a failed op;
    * the pass goes on. */
  def op(name: String)(body: => Any): Unit = {
    val t0 = System.nanoTime()
    try trace.span("bench", s"op.$name")(body)
    catch {
      case NonFatal(e) =>
        ops.errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    ops.latencies += (System.nanoTime() - t0) / 1e9
  }
}

/** Latencies and failures of the ops of one or more passes. */
final class Ops {
  val latencies = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]

  def attempted: Int = latencies.size
  def failed: Int = errors.size
}

/** Result of one pass. `items` is the workload's unit of work: rows for
  * tagpipe, ids handled by the store verbs for lifecycle. */
final case class PassResult(items: Long, wallS: Double)

trait Workload {
  def name: String

  /** Generate the inputs under `root` from the seed. Timed as set-up. */
  def setup(ctx: Ctx, root: String): Unit

  /** Input rows and on-disk bytes, for the record and the per-byte
    * ratios. */
  def inputRows: Long
  def inputBytes: Long
  /** The generated input tables, for the input digest. */
  def inputDirs: Seq[String]

  /** One pass writing under `dir`; every user-visible call goes
    * through `ctx.op`. Returns items handled. */
  def pass(ctx: Ctx, dir: String): Long

  /** Output checks of the pass in `dir`, outside the timed window:
    * (name, None when it holds, Some(reason) when it does not). */
  def checks(ctx: Ctx, dir: String): Seq[(String, Option[String])]

  /** Bytes of the durable state the pass in `dir` left on disk. */
  def storeBytes(dir: String): Long

  /** Workload-specific per-layer ratios of the traced pass in `dir`,
    * computed after it, outside its timing. */
  def ratios(ctx: Ctx, dir: String, group: (Span => Boolean) => Trace.Group)
      : Seq[(String, Double)]
}

object Checks {
  def holds(name: String)(cond: => Boolean, why: => String)
      : (String, Option[String]) =
    try { if (cond) name -> None else name -> Some(why) }
    catch { case NonFatal(e) => name -> Some(s"threw ${e.getMessage}") }
}
