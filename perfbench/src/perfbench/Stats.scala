package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics and the result line. */
object Stats {

  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def nanosToMs(ns: Long): Double = ns / 1e6
  def nanosToS(ns: Long): Double = ns / 1e9

  /** Time one call; (result, elapsed nanoseconds). */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    finally src.close()
  }

  /** Total collector time of this JVM so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports: every operation it attempted, the ones whose
  * output was wrong or missing (`wrong`) or that threw (`thrown`), and its
  * metrics. `metrics` are the result line's, the same names on every
  * workload; `details` are the workload's own breakdown, printed to stderr.
  */
final class Outcome {
  var attempted = 0
  var wrong = 0
  var thrown = 0
  val metrics = ArrayBuffer.empty[Metric]
  val details = ArrayBuffer.empty[Metric]
  val notes = ArrayBuffer.empty[String]

  def failed: Int = wrong + thrown
  def add(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)
  def detail(name: String, value: Double, unit: String): Unit = details += Metric(name, value, unit)

  /** The last stdout line: `correct` is false when any output was wrong;
    * an operation that threw is a failure but not a wrong output.
    */
  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
      else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${wrong == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
