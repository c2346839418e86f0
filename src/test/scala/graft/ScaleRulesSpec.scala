package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

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

  test("a drained stream plans at statePartitions while the session " +
      "keeps its own shuffle-partition count") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val own = (StreamScale.statePartitions(spark) + 3).toString
    val src = Files.createTempDirectory("gscale_src").resolve("t").toString
    spark.range(40).repartition(2).write.parquet(src)
    // (stream session's count, outer session's count) per micro-batch
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    spark.conf.set(key, own)
    try {
      StreamScale.runDrained(spark) {
        spark.readStream.schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            seen.add((batch.sparkSession.conf.get(key), spark.conf.get(key)))
            ()
          }
          .option("checkpointLocation",
            Files.createTempDirectory("gscale_ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      assert(seen.size == 2)
      seen.forEach { case (inStream, outer) =>
        assert(inStream == StreamScale.statePartitions(spark).toString)
        assert(outer == own)
      }
      assert(spark.conf.get(key) == own)
    } finally spark.conf.set(key, prev)
  }
}
