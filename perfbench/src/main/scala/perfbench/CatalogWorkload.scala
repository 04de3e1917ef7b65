package perfbench

import org.apache.spark.sql.SparkSession

/** The catalog workloads: a cold pass in the fresh JVM, then a fixed
  * number of measured passes (see [[Main.schedule]]), then the check of
  * the last pass's results. The cold pass runs the queries in name order,
  * so that which query pays the first-use compile work shared by all of
  * them does not vary between runs; the measured passes run the seeded
  * order. `steady_s` is the median measured pass.
  */
object CatalogWorkload {
  def run(spark: SparkSession, ctx: Main.Ctx, ids: Seq[String]): Main.Outcome = {
    val names = Catalog.ordered(ids, ctx.seed)
    val probes = new Probes(spark)
    probes.install()
    val tracer = new Tracer
    val expected = ctx.expected.map(Fingerprint.load).getOrElse(Map.empty)

    val setupS = ctx.setup { () =>
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
      spark.read.parquet(s"${ctx.dataDir}/nation.parquet").count()
    }

    val heap = new HeapPeak()
    heap.start()
    val cold = Catalog.pass(spark, ctx.dataDir, names.sorted, 0,
      if (ctx.trace) Main.Traced else Main.Untraced, probes, tracer)
    val steady = Main.schedule(Main.passes(ctx.seconds), ctx.trace)
      .zipWithIndex.map { case (arm, i) =>
        Catalog.pass(spark, ctx.dataDir, names, i + 1, arm, probes, tracer) }
    val heapMb = heap.stop()
    // fingerprinting runs each query again; after the last window, its
    // jobs and their compile work stay out of every timed figure
    val wrong = Catalog.check(steady.last, expected, ctx.record)

    val all = cold +: steady
    val errors = all.flatMap(_.runs.flatMap(_.error)) ++ wrong
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_s" -> cold.totalS,
      "steady_s" -> Stats.median(steady.map(_.totalS)))

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else layerMetrics(cold, steady.filter(_.arm == Main.Traced),
        steady.filter(_.arm == Main.Untraced), Host.cores) +
        ("jvm.heap_peak_mb" -> heapMb)

    val detail = Map(
      "order" -> names,
      "passes" -> all.map(p => Map("pass" -> p.index, "arm" -> p.arm.toString,
        "total_s" -> p.totalS, "layers" -> p.layers,
        "queries" -> p.runs.map(r => Map("query" -> r.name, "build_s" -> r.buildS,
          "exec_s" -> r.execS, "error" -> r.error, "layers" -> r.layers)))))
    Main.Outcome(all.map(_.runs.size).sum, errors, wrong, e2e, layers, detail,
      tracer.all)
  }

  /** Per-layer metrics: the common ones, plus the split of the query
    * windows at the first action and the named query sets, each a median
    * over the traced passes.
    */
  def layerMetrics(cold: Catalog.Pass, traced: Seq[Catalog.Pass],
      untraced: Seq[Catalog.Pass], cores: Int): Map[String, Double] = {
    def med(f: Catalog.Pass => Double): Double = Stats.median(traced.map(f))
    def setS(p: Catalog.Pass, ids: Seq[String]): Double = {
      val names = ids.map(Catalog.resolve).toSet
      p.runs.filter(r => names(r.name)).map(_.totalS).sum
    }
    Main.commonLayers(cold.layers, traced.map(p => (p.totalS, p.layers)),
      untraced.map(_.totalS), cores) ++ Map(
      "catalog.build_s" -> med(_.runs.map(_.buildS).sum),
      "catalog.exec_s" -> med(_.runs.map(_.execS).sum)
    ) ++ Catalog.Sets.map { case (k, ids) => k -> med(setS(_, ids)) }
  }
}
