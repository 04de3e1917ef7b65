package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark entry point, launched by `run.py`:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work-dir <dir> --data-dir <dir> [--expected <tsv>] [--record <tsv>]`.
  * The last line on stdout is the result object; the full run artifact,
  * with per-query or per-route detail and the trace spans, is written
  * under the work dir.
  */
object Main {
  case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, dataDir: String, expected: Option[String],
      record: Option[String]) {
    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    /** JVM start until the session is ready, less `excludeS` of input
      * generation, plus the median of [[SetupRepeats]] runs of `step`.
      */
    def setup(step: () => Unit, excludeS: Double = 0.0): Double = {
      val ready = (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludeS
      val steps = (1 to SetupRepeats).map { _ =>
        val t = System.nanoTime(); step(); (System.nanoTime() - t) / 1e9
      }
      setupDetail = Map("ready_s" -> ready, "step_s" -> steps, "excluded_s" -> excludeS)
      ready + Stats.median(steps)
    }

    var setupDetail: Map[String, Any] = Map.empty
  }

  val SetupRepeats = 3

  /** Whether a measured pass (or round) runs with tracing on. */
  sealed trait Arm
  case object Traced extends Arm
  case object Untraced extends Arm

  /** The measured passes after the cold one. An untraced run makes `n`
    * untraced passes. A traced run makes traced and untraced passes in
    * ABBA order, so that neither arm sits on one side of the drift while
    * the JIT settles.
    */
  def schedule(n: Int, trace: Boolean): Seq[Arm] =
    if (trace) Seq(Traced, Untraced, Untraced, Traced) else Seq.fill(n)(Untraced)

  /** `--seconds` as a fixed count of measured passes (or rounds) of a
    * nominal five seconds each, at least one: 15 s gives three.
    */
  def passes(seconds: Int): Int = math.max(1, math.round(seconds / 5.0).toInt)

  val EndToEnd: Seq[String] = Seq("setup_s", "cold_s", "steady_s")

  /** Every per-layer metric, in `BENCHMARK.json` order. A traced run
    * reports all of them; a layer a workload does not exercise reads 0.
    */
  val Layers: Seq[String] = Seq("jvm.jit_s", "jvm.gc_s", "jvm.cold_jit_s",
    "jvm.janino_compiles", "jvm.heap_peak_mb", "catalog.build_s",
    "catalog.exec_s", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.busy_share", "sched.single_task_stage_s", "shuffle.exchanges",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "sources.input_bytes", "sources.load_s", "sources.cache_bytes_written",
    "ops.r20_winners_s", "ops.r20_losers_s", "ops.allpairs_s",
    "psp.loyalty_miss_s", "psp.attendance_miss_s", "psp.similarity_miss_s",
    "psp.votes_miss_s", "psp.detail_miss_s", "psp.stats_miss_s",
    "serving.hit_ratio", "serving.hit_p50_ms", "serving.resp_bytes",
    "serving.useful_compute_ratio", "serving.timeouts", "serving.rate_limited",
    "trace.overhead_share")

  /** Layer metrics common to every workload, from the probe counters of
    * the traced passes: medians per pass, and cold-pass compile work.
    */
  def commonLayers(cold: Map[String, Double], traced: Seq[(Double, Map[String, Double])],
      untracedS: Seq[Double], cores: Int): Map[String, Double] = {
    def med(f: ((Double, Map[String, Double])) => Double): Double = Stats.median(traced.map(f))
    def l(k: String, scale: Double = 1.0) = med(_._2.getOrElse(k, 0.0) / scale)
    Map(
      "jvm.jit_s" -> l("jvm.jit_ms", 1e3),
      "jvm.gc_s" -> l("jvm.gc_ms", 1e3),
      "jvm.cold_jit_s" -> cold.getOrElse("jvm.jit_ms", 0.0) / 1e3,
      "jvm.janino_compiles" -> cold.getOrElse("jvm.janino_compiles", 0.0),
      "plans.analysis_s" -> l("plans.analysis_ms", 1e3),
      "plans.optimization_s" -> l("plans.optimization_ms", 1e3),
      "plans.planning_s" -> l("plans.planning_ms", 1e3),
      "sched.jobs" -> l("sched.jobs"),
      "sched.stages" -> l("sched.stages"),
      "sched.tasks" -> l("sched.tasks"),
      "sched.busy_share" -> med { case (s, m) =>
        m.getOrElse("sched.task_ms", 0.0) / (s * 1e3 * cores) },
      "sched.single_task_stage_s" -> l("sched.single_task_stage_ms", 1e3),
      "shuffle.exchanges" -> l("shuffle.exchanges"),
      "shuffle.write_bytes" -> l("shuffle.write_bytes"),
      "shuffle.read_bytes" -> l("shuffle.read_bytes"),
      "shuffle.spill_bytes" -> l("shuffle.spill_bytes"),
      "sources.input_bytes" -> l("sources.input_bytes"),
      "trace.overhead_share" -> (med(_._1) / Stats.median(untracedS) - 1.0))
  }

  /** `failures` are operations that failed; `wrong` the subset whose
    * output was checked and found wrong.
    */
  case class Outcome(attempted: Int, failures: Seq[String], wrong: Seq[String],
      endToEnd: Map[String, Double], layers: Map[String, Double],
      detail: Map[String, Any], spans: Seq[Span])

  def unit(name: String): String =
    if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s")) "s" else if (name.endsWith("_ms")) "ms"
    else if (name.contains("_bytes")) "bytes"
    else if (name.endsWith("_share") || name.endsWith("_ratio")) "ratio"
    else "count"

  def parse(args: Array[String]): Ctx = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Ctx(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"), need("data-dir"),
      m.get("expected"), m.get("record"))
  }

  def main(args: Array[String]): Unit = {
    val ctx = parse(args)
    val work = Paths.get(ctx.workDir)
    Files.createDirectories(work)
    val spark = Host.session(ctx.workDir)
    val out = try ctx.workload match {
      case "catalog_corpus" => CatalogWorkload.run(spark, ctx, Catalog.Corpus)
      case "serve_psp" => ServeWorkload.run(spark, ctx)
      case other => sys.error(s"unknown workload $other")
    } finally spark.stop()

    val metrics =
      if (ctx.trace) Layers.map(k => k -> out.layers.getOrElse(k, 0.0)).toMap
      else EndToEnd.map(k => k -> out.endToEnd(k)).toMap
    val result = Map(
      "correct" -> out.wrong.isEmpty,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> unit(k)) })
    val artifact = Map("workload" -> ctx.workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> ctx.trace, "cores" -> Host.cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "result" -> result, "failures" -> out.failures, "setup" -> ctx.setupDetail,
      "detail" -> out.detail,
      "self_s" -> Spans.selfSeconds(out.spans),
      "spans" -> out.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "attrs" -> s.attrs)))
    val artDir = work.resolve("artifacts")
    Files.createDirectories(artDir)
    Files.write(artDir.resolve(
      s"${ctx.workload}-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}.json"),
      Json(artifact).getBytes(StandardCharsets.UTF_8))
    println(Json(result))
  }
}
