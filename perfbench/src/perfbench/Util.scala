package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Minimal JSON writer: numbers, strings, booleans, nested objects. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a nonempty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Disk {
  /** Bytes of every regular file under `dir`, Hadoop checksum files
    * excluded. */
  def bytes(dir: String): Long = files(dir)
    .filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.endsWith(".crc"))
    .map(Files.size).sum

  def delete(dir: String): Unit =
    files(dir).reverseIterator.foreach(Files.deleteIfExists)

  private def files(dir: String): Seq[Path] = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Host {
  /** Hypervisor steal and total CPU time of this machine so far, in
    * clock ticks (the `cpu` line of /proc/stat). */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already inside user and nice
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } finally src.close()
  }

  /** Share of this machine's CPU time that the hypervisor stole between
    * two [[cpuTicks]] readings. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total > 0) (to._1 - from._1).toDouble / total else 0.0
  }
}

object Digest {
  /** Order-independent digest of a frame: the sum and xor of per-row
    * 64-bit hashes plus the row count, as hex. Rows are hashed over
    * every column in name order. */
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(c))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r: Row = df.select(h.as("h")).agg(
      count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    f"${r.getLong(0)}%x-${r.getDecimal(1).toBigInteger.toString(16)}-${r.getLong(2)}%x"
  }

  /** Rows in exactly one of the two frames, counted as a multiset: 0
    * means the two frames hold the same rows. One job. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.toSeq.map(col)
    a.select(cols :+ lit(1L).as("__side"): _*)
      .unionByName(b.select(cols :+ lit(-1L).as("__side"): _*))
      .groupBy(cols: _*).agg(sum("__side").as("__n"))
      .agg(coalesce(sum(abs(col("__n"))), lit(0L))).head().getLong(0)
  }
}
