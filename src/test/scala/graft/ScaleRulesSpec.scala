package graft

import java.nio.file.Files

import graft.plans.ScaleOut
import graft.streaming.StreamScale

/** The fixed scale rules: input widening for collapsed scans and the
  * streaming state-partition / join-store configuration.
  */
class ScaleRulesSpec extends SparkSpec {

  private def oneFileScan() = {
    val dir = Files.createTempDirectory("gscale").resolve("t").toString
    spark.range(100).coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("widen: a 1-file parquet scan widens to defaultParallelism") {
    val scan = oneFileScan().filter("id % 2 = 0").selectExpr("id * 2 AS x")
    assert(scan.rdd.getNumPartitions == 1)
    val widened = ScaleOut.widen(scan)
    assert(widened.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(widened.collect().map(_.getLong(0)).toSet ==
      (0L until 100L by 2).map(_ * 2).toSet)
  }

  test("widen: a frame that is not scan-rooted is returned untouched") {
    val agg = oneFileScan().groupBy("id").count()
    assert(ScaleOut.widen(agg) eq agg)
  }

  test("statePartitions is max(4, cores / 4)") {
    val cores = spark.sparkContext.defaultParallelism
    assert(StreamScale.statePartitions(spark) == math.max(4, cores / 4))
  }

  test("joinStoreConf selects RocksDB state with stateFormatVersion 3") {
    val conf = StreamScale.joinStoreConf.toMap
    assert(conf("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Class.forName(conf("spark.sql.streaming.stateStore.providerClass"))
    assert(conf("spark.sql.streaming.join.stateFormatVersion") == "3")
  }
}
