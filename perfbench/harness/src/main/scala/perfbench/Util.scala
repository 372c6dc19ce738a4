package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Clocks, process statistics and JSON output shared by the phases. */
object Util {

  /** `key=value` arguments into a map; anything else is an error. */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap

  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L

  /** Epoch microseconds, monotonic within the process. Harness spans,
    * record creation stamps and sink stamps all use this clock; listener
    * events carry epoch milliseconds, which it agrees with. */
  def nowMicros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  /** Epoch microseconds at which the JVM started. */
  def jvmStartMicros(): Long =
    ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  /** CPU seconds (user + system) used by this process so far. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean =>
      b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Collector time of every JVM garbage collector so far, in seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMib(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Linear-interpolation percentile (`p` in 0..100) of a non-empty
    * sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Minimal JSON rendering of maps (insertion-ordered via Seq of pairs
    * or Map), sequences, strings, numbers, booleans and null. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case Obj(fields) =>
      fields.map { case (k, x) => quote(k) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** A JSON object whose fields keep the given order. */
  final case class Obj(fields: Seq[(String, Any)])

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

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def writeFile(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }
}
