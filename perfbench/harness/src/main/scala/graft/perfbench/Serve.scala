package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Paths
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{LevelName, TableDef}
import graft.engine.TpchStar
import graft.plan.{CubePlanner, LogicLayer, PreaggPlanner, TableResolver}
import graft.server.{Format, GraftServer, LruResponseCache, QueryParams, ResponseCache}
import RequestGen.Request

/** `olap_zipf`: a closed loop of `cores` dashboard callers against an
  * in-process [[GraftServer]] over the TpchStar cube, asking Zipf-skewed
  * from a pool larger than the server's 256-entry LRU cache, warmed in
  * set-up, so cache hits and coalesced followers dominate and misses form
  * the tail. */
object Serve {

  /** Pool size and skew of `olap_zipf`: 4x the cache's 256 entries, and a
    * skew that keeps about seven requests in ten on the hit path. */
  val ZipfPool = 1024
  val ZipfSkew = 1.3
  /** Seed of the fixed `olap_zipf` request pool. */
  val PoolSeed = 42L
  /** Hottest pool entries computed once at the start of set-up. */
  val Prefill = 8
  /** Bodies recomputed in-process and compared byte for byte, per run. */
  val Checked = 4
  /** Warm-up after the prefill: `WarmRounds` rounds of `RoundPerConn`
    * requests per connection. Fixed rather than run until throughput
    * levels off: on `olap_zipf` a round's throughput follows how many of
    * its requests miss, which a round this short does not average out,
    * and longer warm-ups do not fit a run's time budget. Each round's
    * throughput is logged. */
  val RoundPerConn = 4
  val WarmRounds = 1

  /** One request: its stream index, when it ended (ns after the loop
    * began), its latency, status and (when kept) body. */
  final case class Sample(idx: Int, endNs: Long, latNs: Long, status: Int, body: String)

  /** Counts hits, misses and puts through the server's response-cache
    * seam while `on`. */
  final class CountingCache(inner: ResponseCache) extends ResponseCache {
    val on = new AtomicBoolean(false)
    val hits, misses, puts = new AtomicLong
    def get(k: String): Option[(String, String)] = {
      val r = inner.get(k)
      if (on.get) (if (r.isDefined) hits else misses).incrementAndGet()
      r
    }
    def put(k: String, v: (String, String)): Unit = { if (on.get) puts.incrementAndGet(); inner.put(k, v) }
    def clear(): Unit = inner.clear()
  }

  /** Counts table resolutions (one per fact or dim table a plan touches)
    * through the server's resolver seam while `on`. */
  final class CountingResolver(inner: TableResolver) extends TableResolver {
    val on = new AtomicBoolean(false)
    val calls, nanos = new AtomicLong
    def resolve(spark: SparkSession, table: TableDef): DataFrame = {
      val s = System.nanoTime()
      try inner.resolve(spark, table)
      finally if (on.get) { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - s) }
    }
  }

  /** The request stream of one run: set-up sends `prefill` once, then
    * warms on `stream` from index 0; the timed window continues the same
    * stream where the warm-up stopped. */
  final case class Streams(prefill: Seq[Request], stream: Int => Request)

  /** The pool is fixed (drawn once with [[PoolSeed]]); the seed draws the
    * order callers ask in. */
  def streams(seed: Long): Streams = {
    val pool = RequestGen.distinct(PoolSeed, ZipfPool)
    val ranks = RequestGen.zipfStream(seed, 20000, ZipfPool, ZipfSkew)
    Streams(pool.take(Prefill), i => pool(ranks(i)))
  }

  /** Closed loop: `conns` callers, each sending its next request when the
    * previous reply is in, until `seconds` have passed. Keeps the body of
    * every request index `keep` accepts. */
  def loop(client: HttpClient, port: Int, stream: Int => Request, from: Int, conns: Int,
      seconds: Double, maxRequests: Int, keep: Int => Boolean,
      tracer: Option[Tracer] = None): (Seq[Sample], Double) = {
    val next = new AtomicInteger(from)
    val out = new ConcurrentLinkedQueue[Sample]()
    val pool = Executors.newFixedThreadPool(conns)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    (0 until conns).foreach { _ =>
      pool.execute { () =>
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < from + maxRequests) {
          val req = stream(i)
          val s = System.nanoTime()
          val (status, body) =
            try {
              val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.uri}"))
                .timeout(Duration.ofSeconds(120)).GET().build(), HttpResponse.BodyHandlers.ofString())
              (r.statusCode(), r.body())
            } catch { case e: Exception => (-1, String.valueOf(e)) }
          val e = System.nanoTime()
          tracer.foreach(_.record("request", s"req-$i", "", s, e))
          out.add(Sample(i, e - t0, e - s, status, if (status != 200 || keep(i)) body else null))
          i = next.getAndIncrement()
        }
      }
    }
    pool.shutdown()
    require(pool.awaitTermination(170, TimeUnit.SECONDS), "closed loop did not finish")
    (out.asScala.toSeq.sortBy(_.idx), (System.nanoTime() - t0) / 1e9)
  }

  /** Sends the prefill once, then the warm-up rounds on the stream;
    * returns the rounds' throughputs and the next unused stream index. */
  def warmUp(client: HttpClient, port: Int, st: Streams, conns: Int): (Seq[Double], Int) = {
    def checked(s: Seq[Sample], req: Int => Request): Unit =
      require(s.forall(_.status == 200), "warm-up request failed: " +
        s.find(_.status != 200).map(x => s"${req(x.idx).uri} -> ${x.status} ${x.body.take(300)}").get)
    if (st.prefill.nonEmpty) {
      val (s, wall) = loop(client, port, st.prefill, 0, conns, 170, st.prefill.size, _ => false)
      checked(s, st.prefill)
      System.err.println(f"perfbench: prefill of ${s.size} requests took $wall%.1f s")
    }
    val perRound = RoundPerConn * conns
    val rates = (0 until WarmRounds).map { k =>
      val (s, wall) = loop(client, port, st.stream, k * perRound, conns, 170, perRound, _ => false)
      checked(s, st.stream)
      s.size / wall
    }
    (rates, WarmRounds * perRound)
  }

  /** What the server would answer, recomputed in-process through the
    * public planner and `Format` surface, for byte comparison. */
  final class Recompute(spark: SparkSession, resolver: TableResolver) {
    private val cube = TpchStar.salesCube
    val planner = new CubePlanner(cube, resolver)
    val agg = new PreaggPlanner(planner, Nil)
    val ll = new LogicLayer(planner, Nil)
    private val source = Some(Format.SourceMetadata(cube.name, cube.measures.map(_.name),
      cube.annotations.map(a => a.name -> a.text).toMap))

    def params(r: Request): Map[String, Seq[String]] = {
      val keys = r.params.map(_._1).distinct
      ListMap(keys.map(k => k -> r.params.collect { case (`k`, v) => v }): _*)
    }

    /** The request's plan and how to format it; `plan` is the call into
      * the planner layer, kept separate so a trace can time it alone. */
    def planOf(r: Request): (() => DataFrame, Format.FormatType, Option[Format.SourceMetadata]) = {
      val p = params(r)
      val fmt = Format.FormatType.parse(r.path.substring(r.path.lastIndexOf('.') + 1))
        .fold(m => throw new IllegalArgumentException(m), identity)
      val one = (k: String) => p(k).head
      if (r.path.startsWith("/cubes/Sales/aggregate.")) {
        val q = QueryParams.toCubeQuery(p)
        (() => agg.plan(spark, q), fmt, source)
      } else if (r.path.startsWith("/data.")) {
        val q = QueryParams.toLogicLayerQuery(p, cube)
        (() => ll.plan(spark, q), fmt, source)
      } else if (r.path.startsWith("/cubes/Sales/members.")) {
        val ln = LevelName.parse(one("level")).fold(m => throw new IllegalArgumentException(m), identity)
        (() => planner.members(spark, ln), fmt, None)
      } else {
        val bare = one("level")
        val ln = (for (d <- cube.dimensions; h <- d.hierarchies; l <- h.levels if l.name == bare)
          yield LevelName(d.name, h.name, l.name)).head
        (() => planner.members(spark, ln), fmt, None)
      }
    }

    def body(r: Request): String = {
      val (plan, fmt, src) = planOf(r)
      Format.format(plan(), fmt, src)
    }
  }

  def run(a: Args): Outcome = {
    val st = streams(a.seed)
    val spark = Spark.session(a)
    // the counting seams go in only for the traced run
    val cache = new CountingCache(new LruResponseCache())
    val resolver = new CountingResolver(new TpchStar.Resolver(a.dataDir))
    val server =
      if (a.trace) new GraftServer(spark, TpchStar.schema, resolver, responseCache = cache)
      else new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(a.dataDir))
    val conns = a.cores
    val port = server.start(port = 0, host = "127.0.0.1", threads = conns)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(Executors.newFixedThreadPool(2, r => { val t = new Thread(r); t.setDaemon(true); t })).build()
    try {
      val (warmRates, from) = warmUp(client, port, st, conns)
      System.err.println(s"perfbench: warm-up rounds rps ${warmRates.map(r => f"$r%.2f").mkString(" ")}, " +
        s"set-up ends at ${(System.currentTimeMillis() - a.startMs) / 1000.0} s")
      val mem = new Jvm.MemWatch
      val setupS = (System.currentTimeMillis() - a.startMs) / 1000.0
      // a seeded one in eight of the timed requests keep their bodies
      val keep = (i: Int) => (scala.util.hashing.MurmurHash3.stringHash(s"${a.seed}/$i") & 7) == 0
      if (!a.trace) {
        val gc0 = Jvm.gcMs()
        val (samples, _) = loop(client, port, st.stream, from, conns, a.seconds, 1000000, keep)
        val gcMs = Jvm.gcMs() - gc0
        timedOutcome(spark, resolver, st, samples, a.seconds, setupS, mem.stop(), gcMs)
      } else try traced(a, spark, cache, resolver, client, port, st, from, setupS) finally mem.stop()
    } finally {
      server.stop()
      spark.stop()
    }
  }

  private def verify(spark: SparkSession, resolver: TableResolver, st: Streams,
      samples: Seq[Sample]): (Long, Seq[String]) = {
    val bad = samples.filter(_.status != 200)
    val problems = bad.take(5).map(s => s"${st.stream(s.idx).uri} -> ${s.status}: ${s.body.take(300)}")
    val rc = new Recompute(spark, resolver)
    // the sampled bodies, at most Checked distinct requests
    val checked = samples.filter(s => s.status == 200 && s.body != null)
      .groupBy(s => st.stream(s.idx).uri).values.map(_.head).toSeq.sortBy(_.idx).take(Checked)
    // recomputed `cores` at a time, as the server would run them
    val wrong = {
      val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
      try checked.map(s => s -> pool.submit(() => rc.body(st.stream(s.idx))))
        .filter { case (s, f) => f.get(120, TimeUnit.SECONDS) != s.body }.map(_._1)
      finally pool.shutdownNow()
    }
    val wrongMsgs = wrong.take(5).map(s => s"body mismatch for ${st.stream(s.idx).uri}")
    (bad.size.toLong + wrong.size, problems ++ wrongMsgs ++
      (if (checked.isEmpty) Seq("no response body was sampled for checking") else Nil))
  }

  private def timedOutcome(spark: SparkSession, resolver: TableResolver, st: Streams,
      samples: Seq[Sample], seconds: Double, setupS: Double, mem: Jvm.Memory, gcMs: Long): Outcome = {
    val (failed, problems) = verify(spark, resolver, st, samples)
    val ok = samples.filter(_.status == 200)
    val lat = ok.map(_.latNs / 1e6)
    val n = ok.size.toLong
    // throughput and the tail follow the misses, served four at a time on
    // four cores: they are reported, not gated, because over ten seeds the
    // requests a window completes spread 0.21 (IQR/median); a tail
    // percentile is printed only when the percentile rule allows it
    val tails = Seq(0.90 -> "serve.p90_ms", 0.95 -> "serve.p95_ms").flatMap { case (p, name) =>
      Stats.percentile(lat, p).map(Metric(name, _, "ms", n))
    }
    // throughput counts the replies inside the window, so a slow request
    // still running at its end neither adds nor stretches it
    val rps = ok.count(_.endNs <= seconds * 1e9) / seconds
    // the tail's make-up, by request family, for the log
    System.err.println("perfbench: slowest tenth " + ok.sortBy(-_.latNs).take(math.max(1, ok.size / 10))
      .map(x => f"${st.stream(x.idx).family}:${x.latNs / 1e6}%.0f").mkString(" "))
    val metrics = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms", n),
      Metric("mem_resident_mb", mem.residentMb, "MB", 2))
    val detail = Seq(
      Metric("serve.rps", rps, "1/s", n),
      Metric("serve.p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms", n)) ++ tails ++ Seq(
      Metric("error_ratio", failed.toDouble / math.max(1, samples.size), "ratio", samples.size),
      Metric("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, n), "ms", n),
      Metric("mem.live_peak_mb", mem.peakMb, "MB", mem.collections))
    Outcome(samples.size, failed, problems, metrics, detail)
  }

  /** The traced run: the HTTP window in four quarters (untraced, traced,
    * traced, untraced) gives the server and exec layers and the tracing
    * overhead; an in-process replay of the timed stream's distinct
    * requests then times parse, plan, physical planning and Format one
    * request at a time. */
  private def traced(a: Args, spark: SparkSession, cache: CountingCache,
      resolver: CountingResolver, client: HttpClient, port: Int, st: Streams, from: Int,
      setupS: Double): Outcome = {
    val tracer = new Tracer()
    val sc = spark.sparkContext
    val jobs = new AttributionListener
    val phases = new PhaseListener
    def tracing(on: Boolean): Unit = {
      cache.on.set(on); resolver.on.set(on)
      if (on) { sc.addSparkListener(jobs); spark.listenerManager.register(phases) }
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(jobs); spark.listenerManager.unregister(phases)
      }
    }
    val conns = a.cores
    val quarter = a.seconds / 4.0
    var next = from
    var gcTraced = 0L
    val windows = Seq(false, true, true, false).map { on =>
      if (on) tracing(true)
      val gc0 = Jvm.gcMs()
      val (s, wall) = loop(client, port, st.stream, next, conns, quarter, 1000000, _ => true,
        if (on) Some(tracer) else None)
      if (on) { gcTraced += Jvm.gcMs() - gc0; tracing(false) }
      next = s.map(_.idx).max + 1
      (on, s, wall)
    }
    val all = windows.flatMap(_._2)
    val bad = all.filter(_.status != 200)
    def lat(on: Boolean) = windows.filter(_._1 == on).flatMap(_._2).filter(_.status == 200).map(_.latNs / 1e6)
    def rps(on: Boolean) = windows.filter(_._1 == on).map(_._2.count(_.status == 200)).sum /
      windows.filter(_._1 == on).map(_._3).sum
    val nT = windows.filter(_._1).map(_._2.size).sum.toDouble
    val (tallies, jobList) = jobs.take()
    val tot = new Attribution.Tally
    tallies.values.foreach(tot.add)
    val computed = math.max(1.0, cache.puts.get.toDouble)

    // replay: the timed stream's distinct requests, one at a time
    val rc = new Recompute(spark, resolver)
    val distinct = (from until next).map(st.stream).distinctBy(_.uri)
    tracing(true)
    resolver.on.set(false)
    // the replay's formatted bodies are checked against what HTTP served
    val served = all.filter(_.status == 200).map(x => st.stream(x.idx).uri -> x.body).toMap
    var mismatched = Seq.empty[String]
    val replayDeadline = System.nanoTime() + (a.seconds * 1e9 / 2).toLong
    val planMs, formatSelfMs, eager = mutable.ArrayBuffer[Double]()
    distinct.zipWithIndex.takeWhile(_ => System.nanoTime() < replayDeadline).foreach { case (r, i) =>
      val id = s"replay-$i"
      tracer.span("replay", id) {
        val (plan, fmt, src) = tracer.span("parse", id, "replay")(rc.planOf(r))
        org.apache.spark.perfbench.Bus.drain(sc); jobs.take()
        val t0 = System.nanoTime()
        val df = tracer.span("plan", id, "replay")(plan())
        planMs += (System.nanoTime() - t0) / 1e6
        org.apache.spark.perfbench.Bus.drain(sc)
        eager += jobs.take()._1.values.map(_.jobs).sum.toDouble
        tracer.span("physical", id, "replay")(df.queryExecution.executedPlan)
        val f0 = System.nanoTime()
        val body = tracer.span("format", id, "replay")(Format.format(df, fmt, src))
        if (served.get(r.uri).exists(_ != body)) mismatched :+= s"body mismatch for ${r.uri}"
        val fmtMs = (System.nanoTime() - f0) / 1e6
        org.apache.spark.perfbench.Bus.drain(sc)
        formatSelfMs += math.max(0.0, fmtMs - jobs.take()._1.values.map(_.jobWallMs).sum)
      }
    }
    tracing(false)
    val ph = phases.take()
    def phase(k: String) = if (ph.isEmpty) 0.0 else Stats.median(ph.map(_.getOrElse(k, 0L).toDouble))
    tracer.write(Paths.get(a.traceDir, s"${a.workload}-s${a.seed}.spans.jsonl"))

    val layer = Seq(
      Metric("server.cache_hit_ratio", cache.hits.get / math.max(1.0, nT), "ratio", nT.toLong),
      Metric("server.coalesced_ratio",
        math.max(0.0, nT - cache.hits.get - cache.puts.get) / math.max(1.0, nT), "ratio", nT.toLong),
      Metric("server.spark_actions_per_request", tot.jobs / math.max(1.0, nT), "count", nT.toLong),
      Metric("server.format_ms_p50", Layers.med(formatSelfMs.toSeq), "ms", formatSelfMs.size),
      Metric("server.resolve_ms_per_query", resolver.nanos.get / 1e6 / computed, "ms", computed.toLong),
      Metric("plan.build_ms_p50", Layers.med(planMs.toSeq), "ms", planMs.size),
      Metric("plan.eager_jobs_per_query", Layers.mean(eager.toSeq), "count", eager.size),
      Metric("catalyst.analysis_ms_p50", phase("analysis"), "ms", ph.size),
      Metric("catalyst.optimize_ms_p50", phase("optimization"), "ms", ph.size),
      Metric("catalyst.physical_ms_p50", phase("planning"), "ms", ph.size),
      Metric("exec.jobs_per_query", tot.jobs / computed, "count", computed.toLong),
      Metric("exec.tasks_per_query", tot.tasks / computed, "count", computed.toLong),
      Metric("exec.task_ms_per_query", tot.taskMs / computed, "ms", computed.toLong),
      Metric("exec.shuffle_bytes_per_query", tot.shuffleBytes / computed, "bytes", computed.toLong),
      Metric("exec.job_wall_ms_p50", Layers.med(jobList.map(j => (j.endMs - j.startMs).toDouble)), "ms", jobList.size),
      Metric("jvm.gc_ms_per_op", gcTraced / math.max(1.0, nT), "ms", nT.toLong),
      Metric("trace.overhead_p50", Layers.med(lat(true)) / Layers.med(lat(false)) - 1, "ratio", all.size),
      Metric("trace.overhead_rps", rps(false) / rps(true) - 1, "ratio", all.size))
    // p95 only when the replay held enough requests for it (200)
    val detail = Seq(Metric("setup_s", setupS, "s", 1)) ++
      Stats.percentile(planMs.toSeq, 0.95).map(Metric("plan.build_ms_p95", _, "ms", planMs.size)) ++ layer
    Outcome(all.size, bad.size + mismatched.size,
      bad.take(5).map(s => s"${st.stream(s.idx).uri} -> ${s.status}") ++ mismatched.take(5),
      Layers.complete(layer), detail)
  }
}
