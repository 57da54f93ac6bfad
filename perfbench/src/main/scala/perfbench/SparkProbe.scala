package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The `spark` layer under every module, seen from outside: one
  * SparkListener (jobs, stages, task metrics), one QueryExecutionListener
  * (the `QueryExecution.tracker` planning phases) and the codegen
  * counters. Records only between [[start]] and [[stop]], i.e. in traced
  * slices; a run with `--trace 0` never creates it.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var on = false
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  /** (operation tag, start, end) of every traced job, in epoch ms. */
  val jobIntervals = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private var codegenNs0, codegenCount0, gcMs0 = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def add(key: String, v: Long): Unit = counters.computeIfAbsent(key, _ => new LongAdder).add(v)
  def get(key: String): Long = Option(counters.get(key)).map(_.sum).getOrElse(0L)

  private def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  def start(): Unit = {
    drain()
    codegenNs0 = CodeGenerator.compileTime
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    gcMs0 = Jvm.gcMs
    on = true
  }

  def stop(): Unit = {
    drain()
    on = false
    add("codegen_ns", CodeGenerator.compileTime - codegenNs0)
    add("codegen_classes", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount0)
    add("gc_ms", Jvm.gcMs - gcMs0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    add("jobs", 1)
    jobStarts.put(e.jobId,
      (e.time, Option(e.properties).map(_.getProperty(SparkProbe.OpTag)).orNull))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, tag) =>
      jobIntervals.add((tag, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("tasks", 1)
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wall time of `ops` not covered by Spark jobs tagged with the same
    * operation, summed, in ms. `ops` are (tag, start, end) in epoch µs.
    */
  def driverMs(ops: Seq[(String, Long, Long)]): Double = {
    val byTag = jobIntervals.asScala.toSeq.groupBy(_._1)
    ops.map { case (tag, a, b) =>
      val jobs = byTag.getOrElse(tag, Nil).map { case (_, s, e) => (s * 1000L, e * 1000L) }
      (b - a) - Stats.covered(jobs, a, b)
    }.sum / 1000.0
  }

  /** The `spark.*`, `tables.*` and `jvm.*` per-layer metrics, per
    * operation over `ops` traced operations.
    */
  def metrics(ops: Long, driverMsTotal: Double): Seq[Metric] = {
    val n = math.max(1L, ops).toDouble
    def per(key: String, scale: Double = 1.0) = get(key) * scale / n
    Seq(
      Metric("spark.analysis_ms", per("analysis_ms"), "ms/op"),
      Metric("spark.optimization_ms", per("optimization_ms"), "ms/op"),
      Metric("spark.planning_ms", per("planning_ms"), "ms/op"),
      Metric("spark.codegen_compile_ms", per("codegen_ns", 1e-6), "ms/op"),
      Metric("spark.codegen_classes", per("codegen_classes"), "count/op"),
      Metric("spark.jobs", per("jobs"), "count/op"),
      Metric("spark.stages", per("stages"), "count/op"),
      Metric("spark.tasks", per("tasks"), "count/op"),
      Metric("spark.task_run_ms", per("task_run_ms"), "ms/op"),
      Metric("spark.task_cpu_ms", per("task_cpu_ns", 1e-6), "ms/op"),
      Metric("spark.task_gc_ms", per("task_gc_ms"), "ms/op"),
      Metric("spark.shuffle_write_bytes", per("shuffle_write_bytes"), "bytes/op"),
      Metric("spark.shuffle_read_bytes", per("shuffle_read_bytes"), "bytes/op"),
      Metric("spark.spill_bytes", per("spill_bytes"), "bytes/op"),
      Metric("spark.driver_ms", driverMsTotal / n, "ms/op"),
      Metric("spark.cached_rdds_end",
        spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
      Metric("tables.input_bytes", per("input_bytes"), "bytes/op"),
      Metric("tables.input_rows", per("input_rows"), "rows/op"),
      Metric("jvm.gc_ms", per("gc_ms"), "ms/op"))
  }
}

object SparkProbe {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpTag = "perfbench.op"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** A `System.nanoTime` reading on the epoch-µs axis of listener events. */
  def epochUs(nanoTime: Long): Long = baseMs * 1000L + (nanoTime - baseNs) / 1000L
}
