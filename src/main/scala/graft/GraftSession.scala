package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the lane
  * (cores locally; thousands on a real cluster via `shufflePartitions`),
  * UTC timezone for cross-engine determinism.
  */
object GraftSession {

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as epoch-nano longs and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The session every main runs on: `local[SPARK_GRAFT_CPUS]` (default
    * the core count) with as many shuffle partitions, unless
    * `SPARK_GRAFT_MASTER` names a master. Log level WARN.
    */
  def fromEnv(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val s = builder(master, cpus, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
