package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot aggregation keys: two-stage salted aggregation.
  *
  * A plain `groupBy(key)` sends every row of a hot key to ONE reducer; at
  * corpus scale one degenerate key (empty document, boilerplate dedup hash)
  * can stall a stage. Salting splits each key across `buckets` reducers in
  * stage 1 (partial aggregates per (key, salt)), then combines the partials
  * in a cheap stage 2 keyed on the original key — the classic two-phase
  * shape AQE's skew handling applies to joins, done explicitly for
  * aggregates. Only algebraic aggregates (sum/count/min/max) decompose
  * this way; the helpers here cover the count/sum forms the engine uses.
  */
object SkewGuard {

  /** groupBy(keys).count() with salting; output (keys..., cnt). */
  def saltedCount(df: DataFrame, keys: Seq[String],
                  buckets: Int = 64): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__pc"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__pc").as("cnt"))
  }

  /** groupBy(keys).agg(sum(valueCol)) with salting; output (keys..., total). */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                buckets: Int = 64): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(valueCol).as("__ps"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__ps").as("total"))
  }

  /** Salted join key for a skewed equi-join: replicate the small side
    * `buckets` times (explode) and salt the big side, so one hot key fans
    * out over `buckets` reducers. Returns (bigSalted, smallReplicated,
    * saltedJoinCols) — join on original cols + `__salt`.
    */
  def saltJoin(big: DataFrame, small: DataFrame, joinCols: Seq[String],
               buckets: Int = 8): (DataFrame, DataFrame, Seq[String]) = {
    val bigSalted = big.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val smallRep = small.withColumn("__salt",
      explode(sequence(lit(0L), lit((buckets - 1).toLong))))
    (bigSalted, smallRep, joinCols :+ "__salt")
  }
}
