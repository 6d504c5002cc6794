package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Attempted/failed accounting per operation kind. Every exception is
  * recorded with its message (and printed to stderr), never swallowed
  * silently; output mismatches are recorded the same way. */
final class Ledger {
  val attempted: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val failed: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var mismatches = 0L
  var checks = 0L

  def attempt[A](kind: String)(f: => A): Option[A] = {
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        fail(kind, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }
  }

  def fail(kind: String, msg: String): Unit = {
    failed(kind) = failed.getOrElse(kind, 0L) + 1
    if (errors.size < 50) errors += s"$kind: $msg"
    System.err.println(s"[perfbench] FAILED $kind: $msg")
  }

  /** One output check; a mismatch counts as a failed operation. */
  def check(kind: String, ok: Boolean, msg: => String): Unit = {
    checks += 1
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    if (!ok) { mismatches += 1; fail(kind, msg) }
  }

  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failed.values.sum
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toArray
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON rendering for the result file (no dependency needed). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Host diagnostics recorded with every run (never gated): a fixed integer
  * spin and a fixed memcpy, so a contended or throttled window is visible
  * in the run's own output, and the JVM's peak resident set. */
object Probe {
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def memcpyGBps(): Double = {
    val n = 64 << 20
    val a = new Array[Byte](n)
    val b = new Array[Byte](n)
    java.util.Arrays.fill(a, 1.toByte)
    System.arraycopy(a, 0, b, 0, n) // fault the pages in before timing
    val reps = 8
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { System.arraycopy(a, 0, b, 0, n); r += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    reps.toDouble * n / s / 1e9
  }

  /** VmHWM of this process in MB (peak resident set). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
