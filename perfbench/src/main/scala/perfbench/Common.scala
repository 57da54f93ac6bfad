package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything one workload hands back to [[Main]].
  *
  * `latenciesMs` and `timedS` come from the untraced slices only;
  * `layers` from the traced slices (empty without `--trace 1`).
  */
final case class Result(
    setupS: Double,
    latenciesMs: Seq[Double],
    timedS: Double,
    heapMb: Double,
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    layers: Seq[Metric],
    detail: Seq[(String, Any)],
    /** Traced spans as CSV rows of [[Result.SpanHeader]]. */
    spans: Seq[String] = Nil)

object Result {
  val SpanHeader = "op,layer,name,start_ns,end_ns,self_ns"
}

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: String,
    cpus: Int,
    tablesDir: Option[String]) {

  /** The timed phase as (traced, seconds) slices. A traced run splits it
    * into untraced, traced, traced, untraced slices of equal length, so
    * that a steady drift (JIT, cache warm-up) cancels out of the tracing
    * overhead.
    */
  def slices: Seq[(Boolean, Double)] =
    if (!trace) Seq(false -> seconds)
    else Seq(false, true, true, false).map(_ -> seconds / 4)
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Length of [lo, hi) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** 0 instead of NaN for a ratio over an empty set, so every emitted
    * number is valid JSON.
    */
  def orZero(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, in MiB: the least of several
    * readings, with pauses that let Spark's ContextCleaner drop what the
    * previous collection made unreachable.
    */
  def heapAfterGcMb: Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

object Json {
  /** An object whose fields keep their order. */
  final case class Obj(fields: Seq[(String, Any)])

  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null | None       => "null"
    case Some(x)           => render(x)
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case Obj(fields)       => fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _]      => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }
                                .sortBy(_._1)))
    case m: Metric         => render(Obj(Seq("value" -> m.value, "unit" -> m.unit)))
    case xs: Iterable[_]   => xs.map(render).mkString("[", ",", "]")
    case other             => str(other.toString)
  }
}
