package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The catalog workloads: passes over a fixed query list, each query
  * timed from the call into `SparkEntry.queries` through a `noop` write of
  * its full result, so every column and the declared final sort are
  * computed. The result fingerprint is checked after the timed window.
  */
object Catalog {
  // ROADMAP item 1: r20 scan-parallelism winners and a loser; item 4: the
  // AllPairs/dedup family
  val Winners = Seq("q64", "q114")
  val Losers = Seq("q100")
  val AllPairs = Seq("q60")
  /** `catalog_corpus`: queries that scan `documents` or `embeddings`. */
  val Corpus: Seq[String] = Winners ++ Losers ++ AllPairs

  /** Named query sets whose steady seconds are reported per layer. */
  val Sets: Seq[(String, Seq[String])] = Seq("ops.r20_winners_s" -> Winners,
    "ops.r20_losers_s" -> Losers, "ops.allpairs_s" -> AllPairs)

  def resolve(id: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"query id $id matches ${hits.mkString(",")}")
    hits.head
  }

  def ordered(ids: Seq[String], seed: Long): Seq[String] =
    new Random(seed).shuffle(ids.map(resolve).sorted)

  /** One query's timed window, split at the first action; `df` is the
    * query's result, kept for a check after the pass.
    */
  case class QueryRun(name: String, pass: Int, buildS: Double, execS: Double,
      error: Option[String], layers: Map[String, Double], df: Option[DataFrame]) {
    def totalS: Double = buildS + execS
  }

  case class Pass(index: Int, arm: Main.Arm, runs: Seq[QueryRun],
      layers: Map[String, Double]) {
    def totalS: Double = runs.map(_.totalS).sum
  }

  /** Runs one pass, with the listeners and span recording on in the
    * traced arm only. A collection runs first, outside every window.
    */
  def pass(spark: SparkSession, dataDir: String, names: Seq[String], index: Int,
      arm: Main.Arm, probes: Probes, tracer: Tracer): Pass = {
    probes.on = arm == Main.Traced
    tracer.on = probes.on
    System.gc()
    val traceId = tracer.newId()
    val before = { probes.settle(); probes.snapshot() }
    val runs = tracer.span("pass", 0L, traceId, Map("pass" -> index.toString)) { passSpan =>
      names.map { name =>
        val q0 = if (probes.on) probes.snapshot() else Map.empty[String, Double]
        var buildS = 0.0
        var execS = 0.0
        var df: Option[DataFrame] = None
        val err: Option[String] = tracer.span("query", passSpan, traceId,
            Map("query" -> name)) { qSpan =>
          try {
            val t0 = System.nanoTime()
            val d = tracer.span("build", qSpan, traceId)(_ =>
              SparkEntry.queries(name)(spark, dataDir))
            val t1 = System.nanoTime()
            tracer.span("exec", qSpan, traceId)(_ =>
              d.write.format("noop").mode("overwrite").save())
            buildS = (t1 - t0) / 1e9
            execS = (System.nanoTime() - t1) / 1e9
            df = Some(d)
            None
          } catch {
            case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        graft.operators.CacheRegistry.drain(blocking = true)
        val layers =
          if (probes.on) { probes.settle(); Probes.diff(q0, probes.snapshot()) }
          else Map.empty[String, Double]
        err.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
        QueryRun(name, index, buildS, execS, err, layers, df)
      }
    }
    probes.settle()
    val p = Pass(index, arm, runs, Probes.diff(before, probes.snapshot()))
    probes.on = false
    tracer.on = false
    p
  }

  /** Fingerprints each result of `pass` that ran. With `record`, returns
    * no problems and writes the fingerprints there; otherwise returns
    * each result that does not match `expected`.
    */
  def check(p: Pass, expected: Map[String, Fingerprint],
      record: Option[String]): Seq[String] = {
    val fps = p.runs.flatMap(r => r.df.map(d => r.name -> Fingerprint.of(d)))
    record match {
      case Some(path) => Fingerprint.write(path, fps); Nil
      case None => fps.flatMap { case (n, fp) => Fingerprint.mismatch(n, fp, expected.get(n)) }
    }
  }
}
