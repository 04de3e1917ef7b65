package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own logic. */
class PerfbenchSpec extends AnyFunSuite {

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("the dump generator writes byte-identical files for one seed") {
    val small = PspDump.Scale(mps = 40, votes = 300)
    val a = Files.createTempDirectory("dump-a")
    val b = Files.createTempDirectory("dump-b")
    val c = Files.createTempDirectory("dump-c")
    assert(PspDump.write(a, 7, small) == 40L * 300)
    PspDump.write(b, 7, small)
    PspDump.write(c, 8, small)
    val (ta, tb, tc) = (tree(a), tree(b), tree(c))
    assert(ta.keySet.size == 11)
    assert(ta == tb)
    assert(ta != tc)
    // windows-1250, with the aliased club names intact
    val organs = new String(ta("poslanci/organy.unl").toArray, "windows-1250")
    assert(organs.contains("|ANO2011|") && organs.contains("|Nezařaz|"))
  }

  test("the request batch is fixed by the seed, with the keys the mix names") {
    val scale = PspDump.Scale(mps = 200, votes = 500)
    def batch(seed: Long) = new ServeWorkload.Mix(seed, scale, 100000, 495).batch()
    val (a, b, c) = (batch(3), batch(3), batch(4))
    assert(a.map(_.path) == b.map(_.path))
    assert(a.map(_.path) != c.map(_.path))
    // the route order does not depend on the seed; the keys do
    assert(a.map(_.route) == c.map(_.route))
    ServeWorkload.Batch.foreach { case (route, n, distinct) =>
      val rs = a.filter(_.route == route)
      assert(rs.size == n, route)
      assert(rs.map(_.key).distinct.size == distinct, route)
      // each distinct key goes out before any repeat
      assert(rs.take(distinct).map(_.key).distinct.size == distinct, route)
    }
    // parameter domains put the route's default first
    val mix = new ServeWorkload.Mix(3, scale, 100000, 495)
    assert(mix.tops.xs.head == 30 && mix.tops.xs.sorted == (1 to 200))
    assert(mix.pages.xs.head == 1 && mix.pages.xs.size == 1000)
  }

  test("measured passes: a count from the seconds, traced ones in ABBA order") {
    import Main.{Traced, Untraced}
    assert(Main.passes(10) == 2 && Main.passes(15) == 3 && Main.passes(1) == 1)
    assert(Main.schedule(2, trace = false) == Seq(Untraced, Untraced))
    assert(Main.schedule(2, trace = true) == Seq(Traced, Untraced, Untraced, Traced))
  }

  test("the metrics a run prints are the ones BENCHMARK.json lists") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def metrics(k: String) = json.get(k).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(metrics("end_to_end").map(_._1) == Main.EndToEnd)
    assert(metrics("per_layer").map(_._1) == Main.Layers)
    (metrics("end_to_end") ++ metrics("per_layer")).foreach { case (n, u) =>
      assert(Main.unit(n) == u, n) }
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    Seq(40, 100, 999, 1000, 10000).foreach { n =>
      assert(Stats.samplesBeyond(n, Stats.tailPercentile(n).get) >= 10)
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.summary(xs).tail.contains(90.0))
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    val parent = Span(1, 0, 1, "query", 0, 100)
    val kids = Seq(
      Span(2, 1, 1, "build", 10, 30),
      Span(3, 1, 1, "exec", 20, 50), // overlaps build: 10..50 counted once
      Span(4, 1, 1, "check", 90, 120)) // clipped to 90..100
    assert(Spans.covered(0, 100, kids) == 50)
    assert(Spans.selfNs(parent, kids) == 50)
    assert(Spans.selfNs(parent, Nil) == 100)
    val self = Spans.selfSeconds(parent +: kids)
    assert(math.abs(self("query") - 50e-9) < 1e-15)
    assert(math.abs(self("build") - 20e-9) < 1e-15)
  }

  test("the fingerprint check rejects a perturbed result") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val base = Seq((1, "Dvořák", 2.5), (2, "Černý", 3.0), (3, "Novák", 1.0))
      val fp = Fingerprint.of(base.toDF("id", "name", "score"))
      // row order and partitioning do not enter
      assert(Fingerprint.of(base.reverse.toDF("id", "name", "score").repartition(3)) == fp)
      assert(Fingerprint.mismatch("q01_x", fp, Some(fp)).isEmpty)
      val perturbed = Fingerprint.of(base.updated(1, (2, "Černý", 3.0001))
        .toDF("id", "name", "score"))
      assert(perturbed.rows == fp.rows && perturbed.digest != fp.digest)
      assert(Fingerprint.mismatch("q01_x", perturbed, Some(fp)).nonEmpty)
      val dropped = Fingerprint.of(base.take(2).toDF("id", "name", "score"))
      assert(Fingerprint.mismatch("q01_x", dropped, Some(fp)).nonEmpty)
      // probabilistic queries are held to their row count only
      assert(Fingerprint.mismatch("q43_approx_distinct", perturbed, Some(fp)).isEmpty)
      assert(Fingerprint.mismatch("q43_approx_distinct", dropped, Some(fp)).nonEmpty)
      assert(Fingerprint.mismatch("q01_x", fp, None).nonEmpty)
    } finally spark.stop()
  }
}
