package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Workload `core_queries`: paper-core declared queries (`q1_*`, `qi_*`;
  * one per kernel family, see [[Timed]]) over generated tables, one
  * client, one query at a time, whole round-robin passes.
  *
  * Each query is timed through `collect()`, an action that materializes
  * every output column (`count()` would let the optimizer prune the
  * projection under test). The outputs of the last run of every query are
  * written for the DuckDB oracle compare that run.py performs after the
  * timed phase.
  */
object CoreQueries {

  /** The timed queries, one per kernel family, with the per-layer metric
    * that reports the family: the query's median traced time.
    *
    * A pass over all 39 core queries takes ~16 s warm and ~42 s cold on 4
    * cores (the suite is bound by per-query overhead), which does not fit
    * a run of the benchmark's length.
    */
  val Timed: Seq[(String, String)] = Seq(
    "qi_r2_daily" -> "timeseries.resample_ms",         // Resample.toDaily
    "qi_m1_merge" -> "timeseries.merge_ms",            // Merge.firstWins
    "qi_i2_subdaily" -> "timeseries.infer_ms",         // Infer.isSubdaily
    "qi_adjust_splits" -> "timeseries.adjust_ms",      // Adjust.backAdjustSplits
    "qi_c2_currency" -> "timeseries.flags_currency_ms", // Currency.violations
    "qi_asof_price" -> "operators.asof_ms",            // AsOfJoin.backward
    "qi_range_join" -> "operators.range_join_ms",      // RangeJoin.pointInInterval
    "qi_skew_salted" -> "operators.salting_ms",        // Salting.saltedAggSum
    "q1_tpch_agg" -> "sparkentry.relational_ms",       // TPC-H Q1 aggregate
    "qi_funnel" -> "sparkentry.events_ms")             // signup -> purchase funnel

  /** Set-up passes (the first one cold); the median is reported. */
  val SetupPasses = 2

  /** A warm pass over [[Timed]] on 4 cores, in seconds: the timed phase is
    * `round(seconds / NominalPassS)` whole passes (at least one), which
    * keeps the timed multiset of queries identical from run to run.
    */
  val NominalPassS = 4.5

  private final case class Run(query: String, tag: String, traced: Boolean, startNs: Long, endNs: Long)

  def run(ctx: Ctx, prepS: Double, sessionS: Double): Result = {
    val spark = ctx.spark
    val dir = ctx.tablesDir.getOrElse(sys.error("core_queries needs --tables"))
    val declared = SparkEntry.queries
    val queries = Timed.map(_._1).filter(declared.contains).map(q => q -> declared(q))
    val lastOutput = mutable.Map.empty[String, (StructType, Array[Row])]
    val failures = mutable.Buffer.empty[String]
    var attempted, failed = 0L

    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Boolean =
      try {
        val df = fn(spark, dir)
        lastOutput(name) = (df.schema, df.collect())
        true
      } catch {
        case e: Exception =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          false
      }

    // Set-up: passes over the timed queries (read every table, compile
    // every plan); the first one is cold.
    val setupPasses = (1 to SetupPasses).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach { case (n, fn) => runOne(n, fn) }
      (System.nanoTime() - t0) / 1e9
    }
    failures.clear()
    Timed.map(_._1).filterNot(declared.contains)
      .foreach(q => failures += s"$q is no longer a declared query")

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val runs = mutable.Buffer.empty[Run]
    var next = 0
    val passes = mutable.Buffer.empty[(Boolean, Double)]
    var untracedS = 0.0
    ctx.slices.foreach { case (traced, seconds) =>
      if (traced) probe.foreach(_.start())
      val t0 = System.nanoTime()
      // Whole passes only, so that every run times the same multiset of
      // queries: as many passes as `seconds` holds at the nominal pass time.
      (1 to math.max(1, math.round(seconds / NominalPassS).toInt)).foreach { _ =>
        val p0 = System.nanoTime()
        queries.foreach { case (name, fn) =>
          next += 1
          val tag = s"q$next"
          spark.sparkContext.setLocalProperty(SparkProbe.OpTag, tag)
          val s = System.nanoTime()
          val ok = runOne(name, fn)
          val e = System.nanoTime()
          attempted += 1
          if (ok) runs += Run(name, tag, traced, s, e) else failed += 1
        }
        passes += ((traced, (System.nanoTime() - p0) / 1e9))
      }
      if (traced) probe.foreach(_.stop())
      else untracedS += (System.nanoTime() - t0) / 1e9
    }
    val heapMb = Jvm.heapAfterGcMb
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size

    // Outputs for the oracle compare (outside the timed phase).
    val checkDir = s"${ctx.workDir}/check"
    lastOutput.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(checkDir, "oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(q => lastOutput.contains(q._1))))

    def ms(r: Run) = (r.endNs - r.startNs) / 1e6
    val untraced = runs.filterNot(_.traced)
    val traced = runs.filter(_.traced)
    val passesS = passes.filterNot(_._1).map(_._2).toSeq
    val perQuery = untraced.groupBy(_.query).view.mapValues(rs => Stats.median(rs.map(ms).toSeq)).toMap

    val layers = probe.toSeq.flatMap { p =>
      val tracedMedian = traced.groupBy(_.query).view.mapValues(rs => Stats.median(rs.map(ms).toSeq)).toMap
      val familyMs = Timed.map { case (q, family) => Metric(family, tracedMedian.getOrElse(q, 0.0), "ms") }
      val ops = traced.map(r => (r.tag, SparkProbe.epochUs(r.startNs), SparkProbe.epochUs(r.endNs)))
      p.metrics(traced.size, p.driverMs(ops.toSeq)) ++ familyMs :+
        Metric("trace.overhead_pct", Stats.orZero(
          100.0 * (Stats.mean(traced.map(ms).toSeq) / Stats.mean(untraced.map(ms).toSeq) - 1)), "%")
    }

    Result(
      setupS = prepS + sessionS + Stats.median(setupPasses),
      latenciesMs = untraced.map(ms).toSeq,
      timedS = untracedS,
      heapMb = heapMb,
      attempted = attempted,
      failed = failed + Timed.count(q => !declared.contains(q._1)),
      failures = failures.toSeq,
      layers = layers,
      detail = Seq(
        "queries" -> queries.size,
        "setup_passes_s" -> setupPasses,
        "suite_s" -> Stats.median(passesS),
        "passes_s" -> passesS,
        "query_p50_ms" -> Stats.median(untraced.map(ms).toSeq),
        "query_p95_ms" -> Stats.quantile(untraced.map(ms).toSeq, 0.95),
        "per_query_median_ms" -> perQuery,
        "runs_per_query" -> runs.groupBy(_.query).view.mapValues(_.size.toLong).toMap,
        "cached_rdds_end" -> cachedRdds,
        "check_dir" -> checkDir),
      spans = traced.map(r => s"${r.tag},query,${r.query},${r.startNs},${r.endNs},${r.endNs - r.startNs}").toSeq)
  }
}
