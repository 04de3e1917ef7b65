package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a query result: its row count plus two
  * folds (a sum modulo a prime and an xor) of a 64-bit hash of each row's
  * JSON rendering. Row order does not enter, so a result is checked
  * independently of partitioning; every column and value does.
  */
case class Fingerprint(rows: Long, digest: String)

object Fingerprint {
  private val Prime = 2305843009213693951L // 2^61 - 1

  /** The five probabilistic catalog queries, checked on row count only. */
  val RowsOnly: Set[String] = Set("q29_minhash_signature",
    "q31_minhash_lsh_pairs", "q32_embedding_neardups", "q34_pca",
    "q43_approx_distinct")

  def of(df: DataFrame): Fingerprint = {
    // positional names: a result may carry duplicate column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col).toIndexedSeq: _*)))
    val r = named.agg(count(lit(1)), sum(pmod(h, lit(Prime)).cast("decimal(38,0)")),
      bit_xor(h)).head()
    val rows = r.getLong(0)
    val s = Option(r.getDecimal(1)).map(d => d.toBigInteger.mod(
      java.math.BigInteger.valueOf(Prime)).longValue).getOrElse(0L)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    Fingerprint(rows, f"$s%016x$x%016x")
  }

  /** Expected results: one `name<TAB>rows<TAB>digest` line per query. */
  def load(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d) = l.split("\t")
        n -> Fingerprint(rows.toLong, d)
      }.toMap

  def write(path: String, fps: Seq[(String, Fingerprint)]): Unit =
    Files.write(Paths.get(path), fps.sortBy(_._1)
      .map { case (n, f) => s"$n\t${f.rows}\t${f.digest}" }.asJava,
      StandardCharsets.UTF_8)

  /** None when `got` matches `expected`; otherwise why it does not. */
  def mismatch(name: String, got: Fingerprint,
      expected: Option[Fingerprint]): Option[String] = expected match {
    case None => Some(s"$name: no expected fingerprint")
    case Some(e) if e.rows != got.rows =>
      Some(s"$name: ${got.rows} rows, expected ${e.rows}")
    case Some(e) if !RowsOnly(name) && e.digest != got.digest =>
      Some(s"$name: digest ${got.digest}, expected ${e.digest}")
    case _ => None
  }
}
