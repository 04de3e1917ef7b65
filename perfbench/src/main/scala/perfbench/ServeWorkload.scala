package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.psp.{Analyzer, Attendance, PeriodLoader}
import graft.sources.ParquetCache
import graft.serving.{AnalysisCache, GraftServer, PeriodCatalog, RateLimiter}

/** `serve_psp`: `GraftServer` over one generated period. Set-up starts
  * the server and refreshes the period into it through `refreshPeriod`
  * with a `PeriodLoader.load` of the dump (UNL parse and parquet-cache
  * write). Each round sends one fixed, seeded batch of requests from
  * `nproc` client threads in this JVM, a closed loop over a shared queue.
  * The cold round runs right after set-up; every round starts by dropping
  * the period's cached results, so every round computes the same misses
  * and serves the same hits.
  */
object ServeWorkload {
  /** Per route: requests per round, proportional to
    * `GraftServer.DefaultLimits` (the votes bucket of 120 a minute is
    * shared by the list and detail routes), and how many distinct keys
    * they carry. `/api/pca` is left out: it fails at the reference scale
    * (see README.md).
    */
  val Batch: Seq[(String, Int, Int)] = Seq(("loyalty", 6, 1), ("attendance", 6, 1),
    ("similarity", 6, 1), ("votes", 6, 2), ("vote_detail", 6, 1), ("stats", 12, 1))

  /** The batch interleaves the routes in this many equal cycles. */
  val Cycles = 6

  /** The served period: 200 MPs in 8 clubs, 500 votes (see README.md for
    * why not the 10,000-vote reference scale).
    */
  val BenchScale = PspDump.Scale(mps = 200, votes = 500)

  /** Route compute budgets are raised this many times, as rate limits are
    * raised above the offered load: a cold first request on a 4-core host
    * can exceed the 15 s budget.
    */
  val TimeoutScale = 4L

  /** Analysis cache that logs each call and times each compute. */
  class CountingCache extends AnalysisCache[String]() {
    /** (key, computed, end ns) per call; (key, start ns, end ns) per compute. */
    val calls = new ConcurrentLinkedQueue[(String, Boolean, Long)]()
    val computes = new ConcurrentLinkedQueue[(String, Long, Long)]()
    override def getOrCompute(key: String)(compute: => String): String = {
      var computed = false
      val v = super.getOrCompute(key) {
        computed = true
        val t0 = System.nanoTime()
        val v = compute
        computes.add((key, t0, System.nanoTime()))
        v
      }
      calls.add((key, computed, System.nanoTime()))
      v
    }
  }

  /** One request: its route, path, the cache key the server files its
    * result under, and a check of the response body.
    */
  case class Req(route: String, path: String, key: String, check: String => Option[String])
  case class Done(req: Req, round: Int, startNs: Long, endNs: Long, status: Int,
      bytes: Int, error: Option[String], wrong: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Zipf(1.1) popularity over `xs`, the first element most popular. */
  class Zipf[A](val xs: IndexedSeq[A]) {
    private val cdf = xs.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      .scanLeft(0.0)(_ + _).tail.toArray
    def draw(r: Random): A = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
      xs(math.min(xs.size - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Seeded request mix. Each parameter is drawn by popularity over the
    * range `GraftServer` accepts, its default first and the other values
    * in a seeded order (pages in their natural order). Each request
    * carries a check of its body against what the generated period gives.
    */
  class Mix(seed: Long, scale: PspDump.Scale, memberRows: Long, nonVoid: Long) {
    private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    private val order = new Random(seed)
    private def domain[A](default: A, all: Seq[A]) =
      new Zipf((default +: order.shuffle(all.filterNot(_ == default))).toIndexedSeq)
    val tops = domain(30, 1 to 200)
    val simTops = domain(20, 1 to 200)
    val parties = domain("", PspDump.Clubs.map(_._2))
    val sorts = domain("worst", Attendance.sortConfig.keys.toSeq.sorted)
    val pages = new Zipf((1 to 1000).toIndexedSeq)
    val outcomes = domain("", Seq("A", "R"))
    val langs = domain("cs", Seq("en"))
    val voteIds = new Zipf(order.shuffle((0 until scale.votes).map(90000L + _)).toIndexedSeq)

    private val P = PspDump.Period
    private def key(parts: Any*) = GraftServer.key(parts.head.toString, P, parts.tail: _*)
    private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    private def rows(body: String): Int = json.readTree(body).size()
    private def expect(ok: Boolean, what: => String) = if (ok) None else Some(what)

    def draw(route: String, r: Random): Req = route match {
      case "loyalty" =>
        val (top, party) = (tops.draw(r), parties.draw(r))
        Req(route, s"loyalty?top=$top&party=${enc(party)}", key(route, top, party), b => expect(
          if (party.isEmpty) rows(b) == top else rows(b) <= top, s"${rows(b)} rows"))
      case "attendance" =>
        val (top, sort, party) = (tops.draw(r), sorts.draw(r), parties.draw(r))
        Req(route, s"attendance?top=$top&sort=$sort&party=${enc(party)}",
          key(route, top, sort, party), b => expect(
            if (party.isEmpty) rows(b) == top else rows(b) <= top, s"${rows(b)} rows"))
      case "similarity" =>
        val top = simTops.draw(r)
        Req(route, s"similarity?top=$top", key(route, top), b => expect(
          rows(b) > 0 && rows(b) <= top, s"${rows(b)} rows"))
      case "votes" =>
        val (page, outcome) = (pages.draw(r), outcomes.draw(r))
        Req(route, s"votes?page=$page&outcome=$outcome",
          key(route, "", outcome, "", page, "cs"), { b =>
            val t = json.readTree(b)
            val total = t.get("total").asLong
            expect(t.get("rows").size() <= 30 && total <= nonVoid &&
              (outcome.nonEmpty || total == nonVoid), s"total $total")
          })
      case "vote_detail" =>
        val (id, lang) = (voteIds.draw(r), langs.draw(r))
        Req(route, s"votes/$id?lang=$lang", key(route, id, lang), { b =>
          val t = json.readTree(b)
          expect(t.get("info").get("id_hlasovani").asLong == id &&
            t.get("mp_votes").size() == scale.mps, s"vote $id detail")
        })
      case "stats" =>
        val lang = langs.draw(r)
        Req(route, s"stats?lang=$lang", key(route, lang), { b =>
          val t = json.readTree(b).get(0)
          expect(t.get("n_votes").asLong == scale.votes &&
            t.get("n_mp_records").asLong == memberRows &&
            t.get("n_mps").asLong == scale.mps, s"stats $b")
        })
    }

    /** One round's requests: per route, its distinct keys drawn by
      * popularity and sent first, the route's other requests spread over
      * them by popularity in draw order. The routes are interleaved in a
      * fixed order, so which requests overlap, and so how often a key is
      * computed twice, does not depend on the seed.
      */
    def batch(): Seq[Req] = {
      val r = new Random(seed + 1)
      val perRoute = Batch.map { case (route, n, distinct) =>
        val keys = new Zipf(Iterator.continually(draw(route, r)).distinctBy(_.key)
          .take(distinct).toIndexedSeq)
        (keys.xs ++ Seq.fill(n - distinct)(keys.draw(r))).grouped(n / Cycles).toSeq
      }
      (0 until Cycles).flatMap(c => perRoute.flatMap(_(c)))
    }
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close()
  }

  case class Round(index: Int, arm: Main.Arm, wallS: Double, done: Seq[Done],
      layers: Map[String, Double], startNs: Long, endNs: Long)

  def run(spark: SparkSession, ctx: Main.Ctx): Main.Outcome = {
    val scale = BenchScale
    val work = Paths.get(ctx.workDir)
    val dump = work.resolve("psp-dump")
    val cache = work.resolve("psp-cache")
    val genStart = System.nanoTime()
    ParquetCache.invalidate(dump.toString)
    val memberRows = PspDump.write(dump, ctx.seed, scale)
    val voids = Files.readAllLines(dump.resolve(s"hl-${PspDump.Period}/zmatecne.unl")).size
    val batch = new Mix(ctx.seed, scale, memberRows, scale.votes - voids).batch()
    val genS = (System.nanoTime() - genStart) / 1e9

    val probes = new Probes(spark)
    probes.install()
    val tracer = new Tracer
    val counting = new CountingCache

    // set-up: session warm-up, the server start, then the refresh: from
    // the reload call to the swap
    val warmS = ctx.setup(() => {
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
    }, excludeS = genS)
    val t0 = System.nanoTime()
    val server = new GraftServer(Map.empty, cache = counting, limiter = new RateLimiter(),
      limits = GraftServer.DefaultLimits.map { case (k, _) => k -> Int.MaxValue },
      timeoutMillis = _ * TimeoutScale)
    server.start()
    tracer.on = ctx.trace
    val refreshS = tracer.span("refresh", 0L, tracer.newId()) { _ =>
      val t = System.nanoTime()
      ParquetCache.invalidate(cache.toString)
      server.refreshPeriod(PspDump.Period, PeriodCatalog(new Analyzer(
        PeriodLoader.load(spark, dump.toString, PspDump.Period, Some(cache.toString)))))
      (System.nanoTime() - t) / 1e9
    }
    tracer.on = false
    val setupS = warmS + (System.nanoTime() - t0) / 1e9
    val cacheBytes = dirBytes(cache).toDouble

    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    val base = s"http://127.0.0.1:${server.boundPort}/api/"
    def send(req: Req, round: Int, parent: Long, trace: Long): Done =
      tracer.span("request", parent, trace, Map("route" -> req.route, "path" -> req.path)) { _ =>
        val t0 = System.nanoTime()
        try {
          val r = http.send(HttpRequest.newBuilder(URI.create(base + req.path))
            .timeout(Duration.ofSeconds(150)).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          val t1 = System.nanoTime()
          val wrong = if (r.statusCode != 200) None else req.check(r.body)
          val err =
            if (r.statusCode != 200) Some(s"${req.path}: HTTP ${r.statusCode} ${r.body.take(300)}")
            else wrong.map(e => s"${req.path}: wrong result: $e")
          Done(req, round, t0, t1, r.statusCode, r.body.length, err, wrong.nonEmpty)
        } catch {
          case e: Exception => Done(req, round, t0, System.nanoTime(), 0, 0,
            Some(s"${req.path}: ${e.getClass.getSimpleName}: ${e.getMessage}"), wrong = false)
        }
      }

    def round(index: Int, arm: Main.Arm): Round = {
      probes.on = arm == Main.Traced
      tracer.on = probes.on
      System.gc()
      val before = { probes.settle(); probes.snapshot() }
      val trace = tracer.newId()
      val done = new ConcurrentLinkedQueue[Done]()
      val start = System.nanoTime()
      tracer.span("round", 0L, trace, Map("round" -> index.toString)) { rs =>
        server.invalidatePeriod(PspDump.Period)
        val queue = new ConcurrentLinkedQueue[Req](batch.asJava)
        val clients = (0 until Host.cores).map { c =>
          val t = new Thread(() => {
            var req = queue.poll()
            while (req != null) { done.add(send(req, index, rs, trace)); req = queue.poll() }
          }, s"perfbench-client-$c")
          t.start(); t
        }
        clients.foreach(_.join())
      }
      val end = System.nanoTime()
      probes.settle()
      val r = Round(index, arm, (end - start) / 1e9, done.asScala.toSeq,
        Probes.diff(before, probes.snapshot()), start, end)
      probes.on = false
      tracer.on = false
      r
    }

    val heap = new HeapPeak()
    heap.start()
    val cold = round(0, if (ctx.trace) Main.Traced else Main.Untraced)
    val steady = Main.schedule(Main.passes(ctx.seconds), ctx.trace)
      .zipWithIndex.map { case (arm, i) => round(i + 1, arm) }
    val heapMb = heap.stop()
    server.stop()

    val rounds = cold +: steady
    val all = rounds.flatMap(_.done)
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_s" -> cold.wallS,
      "steady_s" -> Stats.median(steady.map(_.wallS)))

    val computes = counting.computes.asScala.toSeq
    val calls = counting.calls.asScala.toSeq
    def in(r: Round)(ns: Long) = ns >= r.startNs && ns <= r.endNs
    // a request missed when a compute for its key ran inside it
    def isHit(d: Done) = !computes.exists(c =>
      c._1 == d.req.key && c._2 >= d.startNs && c._3 <= d.endNs)
    def route(key: String) = key.takeWhile(_ != ':')
    val traced = steady.filter(_.arm == Main.Traced)
    def roundComputes(r: Round) = computes.filter(c => in(r)(c._2))
    val tracedComputes = traced.flatMap(roundComputes)
    val tracedCalls = calls.filter(c => traced.exists(r => in(r)(c._3)))
    val tracedDone = traced.flatMap(_.done)
    val missS = tracedComputes.groupBy(c => route(c._1))
      .map { case (p, cs) => p -> Stats.median(cs.map(c => (c._3 - c._2) / 1e9)) }
    val hits = tracedDone.filter(d => d.error.isEmpty && isHit(d))
    val layers: Map[String, Double] = if (!ctx.trace) Map.empty else
      Main.commonLayers(cold.layers, traced.map(r => (r.wallS, r.layers)),
        steady.filter(_.arm == Main.Untraced).map(_.wallS), Host.cores) ++ Map(
        "jvm.heap_peak_mb" -> heapMb,
        "sources.load_s" -> refreshS,
        "sources.cache_bytes_written" -> cacheBytes,
        "serving.hit_ratio" -> tracedCalls.count(!_._2).toDouble / tracedCalls.size,
        "serving.hit_p50_ms" -> (if (hits.isEmpty) 0.0 else Stats.median(hits.map(_.ms))),
        "serving.resp_bytes" -> Stats.median(tracedDone.map(_.bytes.toDouble)),
        "serving.useful_compute_ratio" -> Stats.median(traced.map { r =>
          val cs = roundComputes(r)
          cs.map(_._1).distinct.size.toDouble / math.max(1, cs.size) }),
        "serving.timeouts" -> all.count(_.status == 504).toDouble,
        "serving.rate_limited" -> all.count(_.status == 429).toDouble
      ) ++ Seq("loyalty" -> "loyalty", "attendance" -> "attendance",
        "similarity" -> "similarity", "votes" -> "votes", "vote_detail" -> "detail",
        "stats" -> "stats").map { case (p, r) => s"psp.${r}_miss_s" -> missS.getOrElse(p, 0.0) }

    val summary = (s: Seq[Double]) => Stats.summary(s) match {
      case Stats.Summary(n, m, tp, t) => Map("n" -> n, "median_ms" -> m,
        "tail_pct" -> tp, "tail_ms" -> t) }
    val steadyDone = steady.flatMap(_.done)
    val detail = Map(
      "clients" -> Host.cores,
      "member_vote_rows" -> memberRows,
      "batch" -> batch.map(_.path),
      "refresh_s" -> refreshS,
      "rounds" -> rounds.map(r => Map("round" -> r.index, "arm" -> r.arm.toString,
        "wall_s" -> r.wallS,
        "computes" -> roundComputes(r).size,
        "latency" -> summary(r.done.map(_.ms)), "layers" -> r.layers)),
      "routes" -> steadyDone.groupBy(_.req.route).map { case (r, ds) =>
        r -> (summary(ds.map(_.ms)) ++ Map("failed" -> ds.count(_.error.nonEmpty))) })
    Seq(dump, cache).foreach(p => ParquetCache.invalidate(p.toString))
    Main.Outcome(all.size, all.flatMap(_.error), all.filter(_.wrong).flatMap(_.error),
      e2e, layers, detail, tracer.all)
  }
}
