package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row

import graft.Graft
import graft.connector.{Clock, Connector, Middleware, MockConnector, WrappedConnector}
import graft.core.Errors.BorsaError
import graft.core.Model._
import graft.router.{HistoryOrchestrator, HistoryRouter}
import graft.routing.Policy

/** Workload `requests_warm`: routed `Graft` verbs from one closed-loop
  * client over two `MockConnector`s behind the default middleware stack
  * (cache → blacklist → quota). Every symbol is pre-filled in set-up, so
  * the middleware serves only hits and the Spark side of each verb does
  * the work.
  *
  * The stacks are built here with `Middleware.buildStack` and a
  * [[RequestClock]] that advances per request, then handed to
  * `new Graft(..., middleware = false)` — the code path Graft takes itself,
  * but with TTL expiry a function of the request index instead of wall
  * time.
  *
  * Every result is compared with a closed form of the mock's fixtures,
  * computed here without Spark.
  */
object Requests {

  /** The benchmark clock: one millisecond per request. A run issues a few
    * hundred requests, far below the shortest TTL (quote, 2 s), so no
    * pre-filled entry ever expires.
    */
  final class RequestClock extends Clock {
    val index = new AtomicLong(0L)
    def nowMs: Long = 1700000000000L + index.get
  }

  val Providers = Seq("alpha", "beta")
  val Universe: Seq[String] = (0 until 16).map(i => f"SYM$i%03d")
  val Start = 1704067200L // 2024-01-01, the mock's default series start
  val D1 = HistoryRequest(Interval.D1, Some(Start), Some(Start + 30 * 86400L), None)
  val H1 = HistoryRequest(Interval.I1h, Some(Start), Some(Start + 30 * 86400L), None)

  /** Requests of each kind per block; every block is a seeded shuffle of
    * exactly these counts. The block places the median inside Deep history
    * (lookups 20%, Fallback 20%, Deep 40%) and the 90th percentile inside
    * download (15%), each inside one verb's distribution rather than
    * between two.
    */
  val Mix: Seq[(String, Int)] = Seq("history_deep" -> 8, "history_fallback" -> 4, "download" -> 3,
    "history_autodaily" -> 1, "quote" -> 1, "quotes" -> 1, "search" -> 1, "info" -> 1)
  val BlockSize: Int = Mix.map(_._2).sum
  val Lookups = Set("quote", "quotes", "search", "info")

  /** Warm-up requests per set-up, three blocks: after a few requests of
    * each verb the JIT is far from steady (Deep history p50 falls from
    * ~300 ms to ~190 ms over the first ~200 requests).
    */
  val WarmupRequests = 60

  /** A block on 4 cores, in seconds. Each slice of the timed phase issues
    * `round(seconds / NominalBlockS)` whole blocks (at least one), so every
    * run times the same multiset of verbs.
    */
  val NominalBlockS = 3.9

  // ------------------------------------------------------------ draws

  final case class Op(kind: String, symbols: Seq[String])

  final class Draws(rnd: Random) {
    private var block = List.empty[String]

    def next(): Op = {
      if (block.isEmpty) block = rnd.shuffle(Mix.flatMap { case (k, n) => Seq.fill(n)(k) }).toList
      val kind = block.head
      block = block.tail
      kind match {
        case "quotes"   => Op(kind, rnd.shuffle(Universe).take(8))
        case "download" => Op(kind, rnd.shuffle(Universe).take(5))
        case _          => Op(kind, Seq(Universe(rnd.nextInt(Universe.size))))
      }
    }
  }

  // ------------------------------------------------------------ expectations

  /** The mock's per-symbol fixture seed (MockConnector.seed). */
  def mockSeed(s: String): Long = s.foldLeft(7L)((a, c) => a * 31 + c)

  def expectedQuote(s: String): Quote = {
    val base = BigDecimal(100 + (mockSeed(s) % 400).abs)
    Quote(s, Some(base), Some(base - 1), Some("USD"), Some(s"$s Inc."), None, Some("REGULAR"),
      Some(1000000L))
  }

  def expectedInfo(s: String): graft.router.InfoRouter.Info = {
    val q = expectedQuote(s)
    graft.router.InfoRouter.Info(s, q.shortname, Some("Technology"), Some("Software"),
      Some(s"US${(mockSeed(s) % 1000000000L).abs}"), q.price, q.previousClose, q.exchange,
      q.marketState)
  }

  def expectedSearch(q: String): Seq[graft.connector.SearchResult] = (1 to 3).map(i =>
    graft.connector.SearchResult(s"$q$i", Some(s"$q$i Corp"), None, Some(AssetKind.Equity)))

  /** (symbol, ts, open, high, low, close, volume) rows of a D1 request, or
    * of an hourly request after the daily AutoDaily resample.
    */
  def expectedCandles(s: String, hourly: Boolean): Seq[(String, Long, BigDecimal, BigDecimal, BigDecimal, BigDecimal, Long)] = {
    def p(i: Long) = BigDecimal(100) + BigDecimal((mockSeed(s) + i) % 50)
    if (!hourly) (0L until 30L).map(i =>
      (s, Start + i * 86400L, p(i), p(i) + 2, p(i) - 2, p(i) + 1, 1000L + i))
    else (0L until 30L).map { d =>
      val hs = (d * 24 until d * 24 + 24)
      (s, Start + d * 86400L, p(hs.head), hs.map(p(_) + 2).max, hs.map(p(_) - 2).min,
        p(hs.last) + 1, hs.map(1000L + _).sum)
    }
  }

  /** None when `got` is what symbol `s` must produce; else why not. */
  def verdict[A](s: String, got: Either[BorsaError, A], expected: => A): Option[String] =
    if (got == Right(expected)) None else Some(s"$s: got ${got.toString.take(160)}")

  // ------------------------------------------------------------ tracing

  /** One traced connector call at one layer boundary. */
  final case class Span(req: Long, chain: Long, layer: String, startNs: Long, endNs: Long,
      selfNs: Long, innerCalled: Boolean)

  /** In-memory span store for the connector stack; spans of one request
    * share its id, spans of one provider call share a chain id.
    */
  final class Spans {
    @volatile var on = false
    val currentReq = new AtomicLong(-1L)
    val spans = new ConcurrentLinkedQueue[Span]()
    private val chains = new AtomicLong(0L)
    private final class Frame(val req: Long, val chain: Long) {
      var innerNs = 0L
      var innerCalled = false
    }
    private val open = new ThreadLocal[Frame]

    def record[V](layer: String)(load: => Either[BorsaError, V]): Either[BorsaError, V] = {
      val parent = open.get
      val f =
        if (parent == null) new Frame(currentReq.get, chains.incrementAndGet())
        else new Frame(parent.req, parent.chain)
      open.set(f)
      val t0 = System.nanoTime()
      val out = try load finally open.set(parent)
      val t1 = System.nanoTime()
      if (parent != null) { parent.innerNs += t1 - t0; parent.innerCalled = true }
      spans.add(Span(f.req, f.chain, layer, t0, t1, t1 - t0 - f.innerNs, f.innerCalled))
      out
    }
  }

  /** Timing shim at one layer boundary; passes straight through when the
    * current slice is untraced.
    */
  final class Shim(val inner: Connector, layer: String, spans: Spans) extends WrappedConnector {
    protected def wrap[V](capability: String, key: Any)(load: => Either[BorsaError, V]): Either[BorsaError, V] =
      if (spans.on) spans.record(layer)(load) else load
  }

  // ------------------------------------------------------------ fixture

  private final class Fixture(spark: org.apache.spark.sql.SparkSession, spans: Option[Spans]) {
    val clock = new RequestClock
    private def layer(c: Connector, name: String) = spans.fold(c)(s => new Shim(c, name, s))
    private def one(c: Connector, cache: Option[Middleware.CacheConfig] = None,
        blacklist: Option[Middleware.BlacklistConfig] = None,
        quota: Option[Middleware.QuotaConfig] = None) =
      Middleware.buildStack(c, cache = cache, blacklist = blacklist, quota = quota, clock = clock)
        .fold(e => throw new IllegalStateException(e.toString), identity)

    /** Middleware stacks, one per provider, with the default settings.
      * Untraced: one buildStack call; traced: one buildStack call per layer
      * with a timing shim between layers and around the base connector.
      */
    val stacks: Seq[Connector] = Providers.map { p =>
      val base = new MockConnector(p)
      val (cache, blacklist, quota) =
        (Middleware.CacheConfig(), Middleware.BlacklistConfig(), Middleware.QuotaConfig())
      spans match {
        case None => one(base, Some(cache), Some(blacklist), Some(quota))
        case Some(_) =>
          val q = layer(one(layer(base, "provider"), quota = Some(quota)), "quota")
          val b = layer(one(q, blacklist = Some(blacklist)), "blacklist")
          one(b, cache = Some(cache))
      }
    }

    /** One Graft per history configuration the mix uses; traced, each
      * stack is seen through an outermost "cache" shim.
      */
    val grafts: Map[String, Graft] = {
      val conns = spans.fold(stacks)(s => stacks.map(new Shim(_, "cache", s)))
      def g(h: HistoryOrchestrator.Config) = new Graft(spark, conns, middleware = false, historyConfig = h)
      Map(
        "deep" -> g(HistoryOrchestrator.Config()),
        "fallback" -> g(HistoryOrchestrator.Config(strategy = HistoryOrchestrator.MergeStrategy.Fallback)),
        "autodaily" -> g(HistoryOrchestrator.Config(finalResample = HistoryRouter.FinalResample.AutoDaily)))
    }

    /** Fills every provider's cache with everything the mix reads. */
    def prefill(): Unit = Universe.foreach { s =>
      val inst = Instrument(Symbol(s), None, AssetKind.Equity)
      stacks.foreach { c => c.quote(inst); c.profile(inst); c.isin(inst); c.search(s) }
      Seq(D1, H1).foreach { req =>
        HistoryOrchestrator.planProviders(inst, req, stacks, Policy.ProviderPolicy())
          .foreach { case (c, eff, _) => c.history(inst, eff) }
      }
    }
  }

  // ------------------------------------------------------------ run

  final case class OpRec(kind: String, req: Long, traced: Boolean, startNs: Long, callEndNs: Long,
      endNs: Long, wrong: Option[String])

  private def inst(s: String) = Instrument(Symbol(s), None, AssetKind.Equity)

  private def candleRows(rows: Array[Row]) = rows.map { r =>
    (r.getAs[String]("symbol"), r.getAs[Long]("ts"),
      BigDecimal(r.getAs[java.math.BigDecimal]("open")), BigDecimal(r.getAs[java.math.BigDecimal]("high")),
      BigDecimal(r.getAs[java.math.BigDecimal]("low")), BigDecimal(r.getAs[java.math.BigDecimal]("close")),
      r.getAs[Long]("volume"))
  }.toSeq.sortBy(r => (r._1, r._2))

  /** Issues one operation; returns (call end, end, wrong-result reason). */
  private def execute(f: Fixture, op: Op): (Long, Long, Option[String]) = {
    val g = f.grafts("deep")
    def lookup[A](s: String, got: Either[BorsaError, A], exp: => A) = {
      val t = System.nanoTime()
      (t, t, verdict(s, got, exp))
    }
    op.kind match {
      case "quote" => val s = op.symbols.head; lookup(s, g.quote(inst(s)), expectedQuote(s))
      case "search" => val s = op.symbols.head; lookup(s, g.search(s).map(_.payload), expectedSearch(s))
      case "info" => val s = op.symbols.head; lookup(s, g.info(inst(s)).map(_.payload), expectedInfo(s))
      case "quotes" =>
        val (qs, errs) = g.quotes(op.symbols.map(inst))
        val t = System.nanoTime()
        val bySym = qs.map(q => q.symbol -> q).toMap
        val wrong = op.symbols.flatMap { s =>
          verdict(s, bySym.get(s).toRight(errs.getOrElse(s, BorsaError.Other("missing"))), expectedQuote(s))
        }.headOption
        (t, t, wrong)
      case kind =>
        val (graft, hourly) = kind match {
          case "history_fallback"  => (f.grafts("fallback"), false)
          case "history_autodaily" => (f.grafts("autodaily"), true)
          case _                   => (g, false)
        }
        val req = if (hourly) H1 else D1
        val res =
          if (kind == "download") graft.download(op.symbols.map(inst), req)
          else graft.history(inst(op.symbols.head), req)
        val callEnd = System.nanoTime()
        val rows = res.flatMap(r => r.collect(r.candles.collect()))
        val end = System.nanoTime()
        val wrong = op.symbols.flatMap { s =>
          verdict(s, rows.map(rs => candleRows(rs).filter(_._1 == s)), expectedCandles(s, hourly))
        }.headOption
        (callEnd, end, wrong)
    }
  }

  def run(ctx: Ctx, sessionS: Double): Result = {
    val spark = ctx.spark
    val spans = if (ctx.trace) Some(new Spans) else None

    // Set-up, twice (the first one cold): fresh pre-filled stacks and a
    // warm-up burst of the mix; the last fixture is timed.
    var fixture: Fixture = null
    val setups = (1 to 2).map { i =>
      val t0 = System.nanoTime()
      fixture = new Fixture(spark, spans)
      fixture.prefill()
      // warm-up on `cpus` threads, so that the JIT sees many requests in
      // little wall time; the threads share one draw, so the warm-up is
      // whole blocks and leaves the same persisted RDDs in every run
      val f = fixture
      val draws = new Draws(new Random(ctx.seed * 1000 + i))
      val left = new AtomicInteger(WarmupRequests)
      val warmers = (0 until ctx.cpus).map { _ =>
        new Thread(() => while (left.getAndDecrement() > 0) {
          f.clock.index.incrementAndGet()
          execute(f, draws.synchronized(draws.next()))
        })
      }
      warmers.foreach(_.start())
      warmers.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val ops = mutable.Buffer.empty[OpRec]
    val draws = new Draws(new Random(ctx.seed * 7919))
    val cachedAt = mutable.Buffer.empty[(Long, Int)]
    var req = 0L
    var untracedS = 0.0
    ctx.slices.foreach { case (traced, seconds) =>
      if (traced) { probe.foreach(_.start()); spans.foreach(_.on = true) }
      val t0 = System.nanoTime()
      (1 to math.max(1, math.round(seconds / NominalBlockS).toInt) * BlockSize).foreach { _ =>
        val op = draws.next()
        req += 1
        fixture.clock.index.incrementAndGet()
        spans.foreach(_.currentReq.set(req))
        spark.sparkContext.setLocalProperty(SparkProbe.OpTag, req.toString)
        val s = System.nanoTime()
        val (callEnd, end, wrong) =
          try execute(fixture, op)
          catch {
            case e: Exception =>
              val t = System.nanoTime()
              (t, t, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
          }
        ops += OpRec(op.kind, req, traced, s, callEnd, end, wrong.map(w => s"${op.kind} $w"))
        if (req % 10 == 0) cachedAt += (req -> spark.sparkContext.getPersistentRDDs.size)
      }
      if (traced) { spans.foreach(_.on = false); probe.foreach(_.stop()) }
      else untracedS += (System.nanoTime() - t0) / 1e9
    }
    val heapMb = Jvm.heapAfterGcMb
    val cachedEnd = spark.sparkContext.getPersistentRDDs.size

    val all = ops.toSeq
    def ms(o: OpRec) = (o.endNs - o.startNs) / 1e6
    val untraced = all.filterNot(_.traced)
    val traced = all.filter(_.traced)
    def verbLatency(rs: Seq[OpRec], pred: String => Boolean) = {
      val xs = rs.filter(o => pred(o.kind)).map(ms)
      Json.Obj(Seq("n" -> xs.size, "p50_ms" -> Stats.median(xs), "p99_ms" -> Stats.quantile(xs, 0.99)))
    }
    val byVerb = untraced.groupBy(_.kind).map { case (k, rs) => k -> verbLatency(rs, _ => true) }

    val layers = (probe, spans) match {
      case (Some(p), Some(sp)) => layerMetrics(p, sp, traced, untraced)
      case _ => Nil
    }

    val wrong = all.flatMap(_.wrong)
    Result(
      setupS = sessionS + Stats.median(setups),
      latenciesMs = untraced.map(ms),
      timedS = untracedS,
      heapMb = heapMb,
      attempted = all.size,
      failed = wrong.size,
      failures = wrong,
      layers = layers,
      detail = Seq(
        "setups_s" -> setups,
        "requests_per_s" -> untraced.size / math.max(untracedS, 1e-9),
        "history_latency" -> verbLatency(untraced, _.startsWith("history")),
        "download_latency" -> verbLatency(untraced, _ == "download"),
        "lookup_latency" -> verbLatency(untraced, Lookups),
        "per_verb" -> byVerb,
        "cached_rdds_end" -> cachedEnd,
        "cached_rdds_by_request" -> cachedAt.map { case (r, n) => Seq(r, n.toLong) }),
      spans = spans.toSeq.flatMap { sp =>
        traced.flatMap { o =>
          Seq(s"${o.req},router,${o.kind},${o.startNs},${o.callEndNs},${o.callEndNs - o.startNs}",
            s"${o.req},action,${o.kind},${o.callEndNs},${o.endNs},${o.endNs - o.callEndNs}")
        } ++ sp.spans.asScala.map(x =>
          s"${x.req},connector,${x.layer},${x.startNs},${x.endNs},${x.selfNs}")
      })
  }

  private def layerMetrics(probe: SparkProbe, sp: Spans, traced: Seq[OpRec],
      untraced: Seq[OpRec]): Seq[Metric] = {
    val n = math.max(1, traced.size).toDouble
    val spans = sp.spans.asScala.toSeq
    val outer = spans.filter(_.layer == "cache")
    val byReq = outer.groupBy(_.req)
    val chains = spans.groupBy(_.chain).values.toSeq
    val history = traced.filter(o => o.kind.startsWith("history") || o.kind == "download")
    val routeSelfUs = traced.filter(o => Lookups(o.kind)).map { o =>
      val kids = byReq.getOrElse(o.req, Nil).map(s => (s.startNs, s.endNs))
      ((o.callEndNs - o.startNs) - Stats.covered(kids, o.startNs, o.callEndNs)) / 1e3
    }
    val driverMs = probe.driverMs(traced.map(o =>
      (o.req.toString, SparkProbe.epochUs(o.startNs), SparkProbe.epochUs(o.endNs))))
    val overhead = traced.groupBy(_.kind).flatMap { case (k, ts) =>
      val us = untraced.filter(_.kind == k)
      if (us.isEmpty) None
      else Some(Stats.median(ts.map(o => (o.endNs - o.startNs).toDouble)) /
        Stats.median(us.map(o => (o.endNs - o.startNs).toDouble)))
    }.toSeq
    probe.metrics(traced.size, driverMs) ++ Seq(
      Metric("router.history_call_ms", Stats.orZero(Stats.median(history.map(o => (o.callEndNs - o.startNs) / 1e6))), "ms"),
      Metric("router.action_ms", Stats.orZero(Stats.median(history.map(o => (o.endNs - o.callEndNs) / 1e6))), "ms"),
      Metric("router.route_self_us", Stats.orZero(Stats.median(routeSelfUs)), "us"),
      Metric("router.providers_tried", outer.size / n, "count/op"),
      Metric("connector.middleware_self_us", Stats.orZero(Stats.median(chains.map(c =>
        c.filter(_.layer != "provider").map(_.selfNs).sum / 1e3))), "us"),
      Metric("connector.provider_calls", spans.count(_.layer == "provider") / n, "count/op"),
      Metric("connector.cache_hit_ratio", Stats.orZero(outer.count(!_.innerCalled).toDouble / outer.size), "ratio"),
      Metric("trace.overhead_pct", Stats.orZero(100.0 * (Stats.median(overhead) - 1)), "%"))
  }
}
