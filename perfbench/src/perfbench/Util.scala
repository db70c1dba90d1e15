package perfbench

import scala.collection.immutable.ListMap

/** Minimal JSON rendering for the benchmark's records (ordered objects). */
object Json {
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.iterator.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Latency at the highest nearest-rank percentile that still has at least
    * ten samples above it, never below the median. Returns (value,
    * percentile, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    val r = math.max(n - 11, n / 2)
    (s(r), 100.0 * (r + 1) / n, n - 1 - r)
  }
}

/** Host and process state, read from /proc where the kernel provides it. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def load1: Double = scala.util.Try(java.nio.file.Files
    .readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
    .getOrElse(Double.NaN)

  /** (busy, own, idle) CPU clock ticks: busy and idle over the whole
    * machine from /proc/stat (steal counts as busy), own = this process. */
  def cpuTicks: (Long, Long, Long) = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    val idle = f(3) + f(4)
    val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    val after = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, after(11).toLong + after(12).toLong, idle)
  }.getOrElse((0L, 0L, 0L))

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = scala.util.Try {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Double.NaN)
}
