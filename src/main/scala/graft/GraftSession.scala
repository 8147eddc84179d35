package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a `SparkSession`. Bench, Verify, the test
  * suites and the tools all run this conf, so the plans that are verified
  * are the plans that are timed. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int = defaultCpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    // the engine's optimizer rules (top-k rewrites, constant-UDF fold) and
    // the GroupTopK strategy: the session shape a deployment gets from
    // spark.sql.extensions=graft.plans.GraftExtensions
    .withExtensions(graft.plans.GraftExtensions.install)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
