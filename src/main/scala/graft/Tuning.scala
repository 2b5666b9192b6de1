package graft

import org.apache.spark.sql.SparkSession

/** Scale-dependent session knobs, env-parameterised with local defaults
  * (round 15; the driver contract forbids constants tuned only for one
  * deployment — OPTIMIZATION_r15.md documents the production values),
  * and the one session factory every main and the test suites build
  * their engine with.
  */
object Tuning {
  /** Floor for AQE post-shuffle partition coalescing
    * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`).
    *
    * AQE coalesces by BYTES and is blind to per-row compute cost: with
    * the Spark default floor (1 MB), any shuffle stage under
    * cores × 1 MB collapses below full parallelism even when each row
    * carries 10⁴-10⁵ ops of downstream work (PPJoin prefix verify,
    * cosine verifies, DP folds). 64 kb keeps a 32-core box fully
    * parallel down to ~2 MB stages and measured x_ppjoin at half its
    * previous cost with no regression on byte-light queries (the floor
    * only engages when bytes/parallelism < 64 kb — trivially-small
    * stages still coalesce to one task).
    *
    * At a production cluster the per-task scheduling overhead argues
    * for the Spark default or higher: set
    * `SPARK_GRAFT_AQE_MIN_PARTITION=1mb` (or more) in the deployment
    * env; this default is the LOCAL tune the bench contract allows
    * when parameterised. */
  val AqeMinPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64kb")

  /** Local core count: `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The engine's session: `local[cpus]` with one shuffle partition per
    * core, AQE on with the [[AqeMinPartitionSize]] floor, nanosecond
    * parquet timestamps read as longs, UTC, no UI, WARN logging. */
  def session(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        AqeMinPartitionSize)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
