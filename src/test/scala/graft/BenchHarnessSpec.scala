package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench harness's measure step ([[Bench.Meter]]) and artifact
  * assembly ([[Bench.artifact]]): listener-read counters are attributed
  * to the query that caused them, stream data time appears only for
  * queries that ran a stream, and the JSON keeps its key order with the
  * counter arrays after the existing keys.
  */
class BenchHarnessSpec extends SparkSpec {

  test("measure attributes jobs and stream data per query; the artifact " +
      "keeps the existing keys in order, counter arrays after them") {
    val src = Files.createTempDirectory("gbench_src").resolve("t").toString
    spark.range(40).write.parquet(src)
    val meter = new Bench.Meter(spark)
    val (batch, stream, single) =
      try {
        val t0 = System.nanoTime()
        val batch = meter.measure(t0) {
          (1 to 3).foreach(_ => spark.range(1L << 20).selectExpr("sum(id)").collect())
        }
        val stream = meter.measure(t0) {
          spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
            .writeStream.format("memory").queryName("graft_bench_harness")
            .trigger(Trigger.AvailableNow())
            .start().awaitTermination()
        }
        val single = meter.measure(t0)(spark.range(10).collect())
        (batch, stream, single)
      } finally meter.close()

    assert(batch.jobs >= 3 && stream.jobs >= 1)
    assert(batch.tasks >= batch.stages && batch.taskSec > 0)
    assert(batch.streamData.isEmpty)
    assert(stream.streamData.exists(_ > 0))
    // nothing of the earlier queries leaks into a later one
    assert(single.jobs == 1 && single.stages == 1)
    assert(single.streamData.isEmpty)
    assert(batch.start <= stream.start && stream.start <= single.start)

    val (full, tail) = Bench.artifact(
      Seq("batch_q" -> Seq(batch, single), "stream_q" -> Seq(stream, stream),
        "broken_q" -> Seq(single)), runs = 2, sfDir = "sf_test")
    val JObject(fields) = JsonMethods.parse(full)
    assert(fields.map(_._1) == Seq("metric", "value", "unit",
      "legacy_total", "method", "queries", "spread", "starts", "passes",
      "stream_data", "contended", "contended_run", "failed", "sf",
      "jobs", "stages", "tasks", "task_s"))
    val json = JObject(fields)
    def keys(k: String) = (json \ k) match {
      case JObject(fs) => fs.map(_._1)
      case other => fail(s"$k is not an object: $other")
    }
    assert(keys("stream_data") == Seq("stream_q"))
    assert((json \ "failed") == JArray(List(JString("broken_q"))))
    for (k <- Seq("passes", "jobs", "stages", "tasks", "task_s"))
      assert(keys(k) == Seq("batch_q", "stream_q"))
    assert((json \ "jobs" \ "batch_q") ==
      JArray(List(JInt(batch.jobs), JInt(single.jobs))))
    assert((json \ "stream_data" \ "stream_q").children.length == 2)
    val JObject(tailFields) = JsonMethods.parse(tail)
    assert(tailFields.map(_._1) == Seq("metric", "total", "legacy_total",
      "contended", "contended_run", "failed", "sf"))
  }
}
