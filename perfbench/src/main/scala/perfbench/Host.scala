package perfbench

import org.apache.spark.sql.SparkSession

/** The Spark session the benchmark runs every workload in, sized to the
  * host it runs on: `local[nproc]` with as many shuffle partitions. The
  * heap is set on the JVM command line by `run.py` (MemTotal / 2, clamped
  * to 2..8 GiB, the repo's Tier-1 rule). The remaining settings are the
  * ones the repo's own `graft.Bench` uses, so numbers stay comparable.
  */
object Host {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  def session(workDir: String): SparkSession = {
    val n = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // static conf: the catalog generates far more classes per pass than
      // the default 100 entries hold; without it every steady pass would
      // recompile every stage
      .config("spark.sql.codegen.cache.maxEntries", "12000")
      // keep every file Spark writes inside the benchmark's work dir
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
