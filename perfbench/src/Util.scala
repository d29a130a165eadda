package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

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

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private val mapper = new ObjectMapper()

  /** A JSON text with object keys sorted at every level, so two renderings
    * of the same row compare equal whatever their column order. */
  def canonical(line: String): String = render(mapper.readTree(line))

  private def render(n: JsonNode): String =
    if (n.isObject)
      n.fields().asScala.toSeq.sortBy(_.getKey)
        .map(e => str(e.getKey) + ":" + render(e.getValue))
        .mkString("{", ",", "}")
    else if (n.isArray) n.elements().asScala.map(render).mkString("[", ",", "]")
    else n.toString
}

/** Phase timings on stderr, for tuning the benchmark's own cost. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the `numpy.percentile` default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Collection time summed over the JVM's garbage collectors. */
object Gc {
  private val beans = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.toSeq
  def ms: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Live heap measured after a full collection at fixed points of a run
  * (outside every timed region): the peak is the run's largest live set. */
final class HeapProbe {
  private var peak = 0L
  /** GC time spent in the probe's own collections, to keep out of jvm.gc_ms. */
  var probeGcMs = 0L
  def checkpoint(): Unit = {
    val before = Gc.ms
    System.gc()
    probeGcMs += Gc.ms - before
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
