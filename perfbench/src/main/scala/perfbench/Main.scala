package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as one JSON object.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file> --cpus <n> [--tables <dir> --prep-s <s>]
  * }}}
  *
  * run.py starts this with the classpath its build wrote, checks the
  * outputs it cannot check itself (the DuckDB oracle), and prints the
  * summary line.
  */
object Main {

  /** Every per-layer metric with its unit, in report order. A workload
    * reports the layers it exercises; the others read 0 (no work done).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.analysis_ms" -> "ms/op", "spark.optimization_ms" -> "ms/op",
    "spark.planning_ms" -> "ms/op", "spark.codegen_compile_ms" -> "ms/op",
    "spark.codegen_classes" -> "count/op", "spark.jobs" -> "count/op",
    "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_run_ms" -> "ms/op", "spark.task_cpu_ms" -> "ms/op",
    "spark.task_gc_ms" -> "ms/op", "spark.shuffle_write_bytes" -> "bytes/op",
    "spark.shuffle_read_bytes" -> "bytes/op", "spark.spill_bytes" -> "bytes/op",
    "spark.driver_ms" -> "ms/op", "spark.cached_rdds_end" -> "count",
    "tables.input_bytes" -> "bytes/op", "tables.input_rows" -> "rows/op",
    "timeseries.resample_ms" -> "ms", "timeseries.merge_ms" -> "ms",
    "timeseries.infer_ms" -> "ms", "timeseries.adjust_ms" -> "ms",
    "timeseries.flags_currency_ms" -> "ms", "operators.asof_ms" -> "ms",
    "operators.range_join_ms" -> "ms", "operators.salting_ms" -> "ms",
    "sparkentry.relational_ms" -> "ms", "sparkentry.events_ms" -> "ms",
    "router.history_call_ms" -> "ms", "router.action_ms" -> "ms",
    "router.route_self_us" -> "us", "router.providers_tried" -> "count/op",
    "connector.middleware_self_us" -> "us", "connector.provider_calls" -> "count/op",
    "connector.cache_hit_ratio" -> "ratio",
    "streaming.trigger_ms" -> "ms/batch", "streaming.add_batch_ms" -> "ms/batch",
    "streaming.query_planning_ms" -> "ms/batch", "streaming.latest_offset_ms" -> "ms/batch",
    "streaming.wal_commit_ms" -> "ms/batch", "streaming.batches" -> "count/s",
    "streaming.rows_per_batch" -> "rows/batch", "streaming.state_rows" -> "rows",
    "streaming.state_memory_bytes" -> "bytes", "streaming.backlog_max" -> "updates",
    "streaming.buffer_dropped" -> "count", "streaming.gate_dropped" -> "count",
    "jvm.gc_ms" -> "ms/op", "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val work = opt("work")
    val cpus = opt("cpus").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the session settings of graft.Bench: without the larger codegen
      // class cache every query pass recompiles every stage
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1", work,
      cpus, opts.get("tables"))
    val r = workload match {
      case "core_queries"    => CoreQueries.run(ctx, opts.get("prep-s").fold(0.0)(_.toDouble), sessionS)
      case "requests_warm"   => Requests.run(ctx, sessionS)
      case "stream_gate"     => StreamGate.run(ctx, sessionS)
      case other             => sys.error(s"unknown workload $other")
    }

    val n = r.latenciesMs.size
    val endToEnd = Seq(
      Metric("setup_s", r.setupS, "s"),
      Metric("op_p50_ms", Stats.median(r.latenciesMs), "ms"),
      Metric("op_p90_ms", Stats.quantile(r.latenciesMs, 0.90), "ms"),
      Metric("ops_per_s", n / r.timedS, "1/s"),
      Metric("heap_used_mb", r.heapMb, "MB"))
    val reported = r.layers.map(m => m.name -> m).toMap
    val unknown = reported.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Main.PerLayer: $unknown")
    val layers = PerLayer.map { case (name, unit) =>
      Metric(name, reported.get(name).fold(0.0)(_.value), unit)
    }

    val out = Json.Obj(Seq(
      "workload" -> workload,
      "trace" -> ctx.trace,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures.take(20),
      "samples" -> n,
      "end_to_end" -> Json.Obj(endToEnd.map(m => m.name -> m)),
      "per_layer" -> (if (ctx.trace) Json.Obj(layers.map(m => m.name -> m)) else Json.Obj(Nil)),
      "detail" -> Json.Obj(Seq("session_start_s" -> sessionS) ++ r.detail)))
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    if (ctx.trace)
      Files.writeString(Paths.get(work, "spans.csv"), (Result.SpanHeader +: r.spans).mkString("", "\n", "\n"))
    spark.stop()
  }
}
