package graft
import org.apache.spark.sql.SparkSession

/** The one declared session config. Bench, Verify, the test session and
  * the probe tools all build through here, so a setting changes in one
  * place for every surface that measures or checks the queries. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, the local core count (and shuffle partitions). */
  def envCpus(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def declared(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    // the events NTZ→LTZ normalization (Tables.events) is only
    // value-preserving under a UTC session timezone
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // single-file fixture tables would otherwise scan as one task each;
    // split them like a cluster would see many splits
    "spark.sql.files.maxPartitionBytes" -> "8m",
    // Spark's default, pinned: 'false' coalesced every fixture-scale
    // post-shuffle stage to one task (r15 full-bench A/B 203 s → 146 s)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    // graft_* expressions for SQL and the DataFrame API on every session
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions")

  /** The declared session on `cpus` local cores; `extraConf` is applied
    * last, so it wins on a key clash (Verify's `SPARK_GRAFT_CONF` sweeps,
    * a probe's `spark.local.dir`). */
  def apply(cpus: String,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (declared(cpus) ++ extraConf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
