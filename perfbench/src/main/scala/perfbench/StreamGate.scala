package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{ConnectorStreamSource, MonotonicGate, StreamBuffer}
import graft.streaming.MonotonicGate.Update

/** Workload `stream_gate`: an open-loop generator pushes
  * `MonotonicGate.Update`s at a fixed rate into a `ConnectorStreamSource`
  * buffer (capacity 1024, the reference channel size); one streaming query
  * runs the ST9 allow-set filter, the streaming ST8 gate, and a sink that
  * stamps each emitted update with its emission time.
  *
  * An update's `arrival` is the instant it was due to be generated, so its
  * latency (emission − arrival) includes any wait a stall imposed on later
  * updates. Emitted updates are compared with `MonotonicGate.batchReplay`
  * over every update the buffer accepted.
  */
object StreamGate {
  val Capacity = 1024
  /** Updates per second. The backlog is about two micro-batches of input:
    * at 1,000/s it reached 834 of the buffer's 1,024 on 4 cores, and at
    * 500/s a run whose batches slowed to ~1 s (a busy host) overflowed it.
    * 250/s leaves room for batches four times slower than usual.
    */
  val RatePerS = 250.0
  val Symbols: Seq[String] = (0 until 64).map(i => f"T$i%02d")
  /** ST9: the last 8 symbols are unassigned and filtered out. */
  val Allowed: Set[String] = Symbols.take(56).toSet
  val OutOfOrderShare = 0.05
  val WarmupUpdates = 2000

  /** Seeded update stream: ts advances 10 per update; a fixed share of
    * updates carries a ts far behind its symbol's latest (out of order).
    */
  final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private var i = 0L
    def next(arrival: Long): Update = {
      i += 1
      val sym = Symbols(rnd.nextInt(Symbols.size))
      val ts = if (rnd.nextDouble() < OutOfOrderShare) i * 10 - 10000 - rnd.nextInt(1000) else i * 10
      Update(sym, arrival, ts)
    }
  }

  final case class Progress(atNs: Long, durations: Map[String, Long], rows: Long,
      stateRows: Long, stateBytes: Long)

  private final class Running(val name: String, val buffer: StreamBuffer, val query: StreamingQuery,
      val emitted: ConcurrentLinkedQueue[(Update, Long)]) {

    /** Waits until the query has committed everything pushed so far.
      * (`processAllAvailable` never returns here: the gate's processing-time
      * state timeout makes the query run a no-data batch on every trigger.)
      */
    def awaitProcessed(): Unit = {
      val target = buffer.latest
      val deadline = System.nanoTime() + 60000000000L
      while (buffer.earliest < target) {
        query.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline, s"stream query stalled at ${buffer.earliest} of $target")
        Thread.sleep(2)
      }
    }
  }

  private def start(spark: SparkSession, name: String, checkpoint: String): Running = {
    import spark.implicits._
    val buffer = StreamBuffer.register(name, Capacity)
    val emitted = new ConcurrentLinkedQueue[(Update, Long)]()
    val updates = MonotonicGate.allowSetFilter(ConnectorStreamSource.readStream(spark, name), Allowed)
      .as[Update]
    val sink: (Dataset[Update], Long) => Unit = { (batch, _) =>
      val rows = batch.collect()
      val at = System.nanoTime()
      rows.foreach(u => emitted.add((u, at)))
    }
    val query = MonotonicGate.streamingGate(updates).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
    new Running(name, buffer, query, emitted)
  }

  def run(ctx: Ctx, sessionS: Double): Result = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed)
    val accepted = mutable.ArrayBuffer.empty[Update]
    var lastArrival = 0L
    def arrivalNow(): Long = { lastArrival = math.max(lastArrival + 1, System.nanoTime()); lastArrival }

    // Set-up, twice: register a buffer, start the query, push a burst of
    // updates and wait until they are processed. The second query keeps
    // running and is the one timed.
    var running: Running = null
    val setups = (1 to 2).map { i =>
      if (running != null) { running.query.stop(); StreamBuffer.unregister(running.name) }
      accepted.clear()
      val t0 = System.nanoTime()
      running = start(spark, s"perfbench-gate-$i", s"${ctx.workDir}/checkpoint-$i")
      (1 to WarmupUpdates).foreach { _ =>
        val u = gen.next(arrivalNow())
        if (running.buffer.push(u, timeoutMs = 10000L)) accepted += u
      }
      running.awaitProcessed()
      (System.nanoTime() - t0) / 1e9
    }

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val progress = new ConcurrentLinkedQueue[Progress]()
    val tracing = new AtomicBoolean(false)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (tracing.get && e.progress.numInputRows > 0) {
          val p = e.progress
          val state = p.stateOperators.headOption
          progress.add(Progress(System.nanoTime(),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
            state.map(_.numRowsTotal).getOrElse(0L), state.map(_.memoryUsedBytes).getOrElse(0L)))
        }
    }
    if (ctx.trace) spark.streams.addListener(listener)

    // Open-loop generator: update k is due at t0 + k / rate, whatever the
    // query is doing; a full buffer rejects (drops) the update.
    val stop = new AtomicBoolean(false)
    val dropped = new AtomicLong(0L)
    val generated = new AtomicLong(0L)
    val backlogMax = new AtomicLong(0L)
    val lateMaxNs = new AtomicLong(0L)
    val timedFrom = accepted.size
    val genStart = System.nanoTime()
    val generator = new Thread(() => {
      var k = 0L
      while (!stop.get) {
        val due = genStart + (k * 1e9 / RatePerS).toLong
        val now = System.nanoTime()
        if (now < due) LockSupport.parkNanos(due - now)
        else {
          val u = gen.next(due)
          if (running.buffer.push(u)) accepted.synchronized(accepted += u)
          else dropped.incrementAndGet()
          generated.incrementAndGet()
          backlogMax.accumulateAndGet(running.buffer.latest - running.buffer.earliest, math.max)
          lateMaxNs.accumulateAndGet(now - due, math.max)
          k += 1
        }
      }
    }, "perfbench-generator")

    val windows = mutable.Buffer.empty[(Boolean, Long, Long)]
    var untracedNs = 0L
    var tracedS = 0.0
    generator.start()
    ctx.slices.foreach { case (traced, seconds) =>
      if (traced) { probe.foreach(_.start()); tracing.set(true) }
      val t0 = System.nanoTime()
      LockSupport.parkNanos((seconds * 1e9).toLong)
      val t1 = System.nanoTime()
      windows += ((traced, t0, t1))
      if (traced) { probe.foreach(_.stop()); tracing.set(false); tracedS += (t1 - t0) / 1e9 }
      else untracedNs += t1 - t0
    }
    stop.set(true)
    generator.join()
    running.awaitProcessed()
    if (ctx.trace) spark.streams.removeListener(listener)
    running.query.stop()
    StreamBuffer.unregister(running.name)
    // after the stop: a running query's no-data micro-batch in flight
    // would make the reading vary from run to run
    val heapMb = Jvm.heapAfterGcMb

    // The check: batch replay of the gate over every accepted update.
    import spark.implicits._
    val acceptedAll = accepted.synchronized(accepted.toVector)
    val allowedInput = acceptedAll.filter(u => Allowed(u.symbol))
    val expected = MonotonicGate.batchReplay(allowedInput.toDF()).as[Update].collect().toSet
    val emitted = running.emitted.asScala.toVector
    val emittedSet = emitted.map(_._1).toSet
    val missing = expected -- emittedSet
    val unexpected = emittedSet -- expected
    val duplicates = emitted.size - emittedSet.size

    def windowOf(arrival: Long) = windows.find { case (_, a, b) => arrival >= a && arrival < b }
    val latencies = emitted.flatMap { case (u, at) =>
      windowOf(u.arrival).map { case (traced, _, _) => (traced, (at - u.arrival) / 1e6) }
    }
    val untracedLat = latencies.filterNot(_._1).map(_._2)
    val tracedLat = latencies.filter(_._1).map(_._2)

    val layers = probe.toSeq.flatMap { p =>
      val batches = progress.asScala.toSeq
      def meanOf(key: String) = Stats.orZero(Stats.mean(batches.map(_.durations.getOrElse(key, 0L).toDouble)))
      val tracedWindows = windows.filter(_._1).map { case (_, a, b) => (SparkProbe.epochUs(a), SparkProbe.epochUs(b)) }
      val jobs = p.jobIntervals.asScala.toSeq.map { case (_, s, e) => (s * 1000L, e * 1000L) }
      val jobUs = tracedWindows.map { case (a, b) => Stats.covered(jobs, a, b) }.sum
      val triggerMs = batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
      val last = batches.lastOption
      p.metrics(tracedLat.size, math.max(0.0, triggerMs - jobUs / 1000.0)) ++ Seq(
        Metric("streaming.trigger_ms", meanOf("triggerExecution"), "ms/batch"),
        Metric("streaming.add_batch_ms", meanOf("addBatch"), "ms/batch"),
        Metric("streaming.query_planning_ms", meanOf("queryPlanning"), "ms/batch"),
        Metric("streaming.latest_offset_ms", meanOf("latestOffset"), "ms/batch"),
        Metric("streaming.wal_commit_ms", meanOf("walCommit"), "ms/batch"),
        Metric("streaming.batches", batches.size / math.max(tracedS, 1e-9), "count/s"),
        Metric("streaming.rows_per_batch", Stats.orZero(Stats.mean(batches.map(_.rows.toDouble))), "rows/batch"),
        Metric("streaming.state_rows", last.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
        Metric("streaming.state_memory_bytes", last.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"),
        Metric("streaming.backlog_max", backlogMax.get.toDouble, "updates"),
        Metric("streaming.buffer_dropped", dropped.get.toDouble, "count"),
        Metric("streaming.gate_dropped", (allowedInput.size - expected.size).toDouble, "count"),
        Metric("trace.overhead_pct", Stats.orZero(
          100.0 * (Stats.median(tracedLat) / Stats.median(untracedLat) - 1)), "%"))
    }

    val failures =
      (if (dropped.get > 0) Seq(s"${dropped.get} updates dropped by the full buffer") else Nil) ++
      missing.take(5).map(u => s"missing from the gate output: $u") ++
      unexpected.take(5).map(u => s"not in the batch replay: $u") ++
      (if (duplicates > 0) Seq(s"$duplicates updates emitted twice") else Nil)
    Result(
      setupS = sessionS + Stats.median(setups),
      latenciesMs = untracedLat,
      timedS = untracedNs / 1e9,
      heapMb = heapMb,
      attempted = generated.get,
      failed = dropped.get + missing.size + unexpected.size + duplicates,
      failures = failures,
      layers = layers,
      detail = Seq(
        "setups_s" -> setups,
        "rate_per_s" -> RatePerS,
        "generated" -> generated.get,
        "accepted_timed" -> (acceptedAll.size - timedFrom),
        "emitted" -> emitted.size,
        "expected" -> expected.size,
        "filtered_by_allow_set" -> (acceptedAll.size - allowedInput.size),
        "gate_dropped" -> (allowedInput.size - expected.size),
        "bar_latency_p50_ms" -> Stats.median(untracedLat),
        "bar_latency_p99_ms" -> Stats.quantile(untracedLat, 0.99),
        "generator_late_ms_max" -> lateMaxNs.get / 1e6,
        "backlog_max" -> backlogMax.get,
        "buffer_dropped" -> dropped.get))
  }
}
