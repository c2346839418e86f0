package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale configuration baked in. One
  * place to encode the sizing rules so local runs and cluster submits
  * agree:
  *
  *  - `shuffle.partitions` ≈ total executor cores (the 200 default is
  *    wrong in local mode and far too low at cluster scale — size it so a
  *    partition of the largest shuffle fits comfortably in task memory;
  *    AQE coalesces the small ones back down).
  *  - AQE on: runtime re-plan gives skew-join splitting and partition
  *    coalescing; per-key salting for aggregates stays explicit
  *    (operators.SkewGuard).
  *  - `autoBroadcastJoinThreshold` raised to 64 MB: dimension tables and
  *    LSH query sides should broadcast, not shuffle.
  *  - `files.maxPartitionBytes` default 128 MB: one task per parquet
  *    row-group-ish chunk; raise only when scans are the bottleneck and
  *    rows are narrow.
  *  - UTC + extensions registered so SQL surfaces behave identically
  *    everywhere.
  *
  * Streaming progress retention stays at Spark's default: measurement
  * reads progress events through a listener ([[Bench.Meter]]), never
  * through `recentProgress`.
  */
object GraftSession {

  def builder(master: String = "local[*]", cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))

  def create(master: String = "local[*]", cores: Int = 32): SparkSession = {
    val spark = builder(master, cores).getOrCreate()
    // getOrCreate may return a pre-existing session whose builder-time
    // extensions didn't apply — make SQL functions present either way
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
