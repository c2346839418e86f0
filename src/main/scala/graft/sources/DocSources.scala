package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Opcode

/** Document ingestion sources. The reference consumes schemaless JSON
  * documents off a DCP feed (`v8::JSON::Parse` per mutation,
  * reference `CGOTRY/v8Instance.cpp:167`; raw bytes at
  * `Projector/indexjs.go:103-107`). Here the same capability is the JSON
  * lines / CSV read path plus a late-bound accessor for dynamic fields —
  * schema inference or explicit schema up front, `get_json_object` /
  * `from_json` when documents stay a raw string column.
  *
  * Batch and streaming share the same shapes: `readJson(spark, path)` for a
  * snapshot, `spark.readStream.schema(s).json(dir)` for the feed (the
  * schema MUST be explicit in streaming — inference is a batch luxury).
  */
object DocSources {

  /** JSON-lines documents with schema inference (batch). */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** JSON-lines documents with an explicit schema — the production form:
    * inference costs a full extra pass and can drift between days of data.
    */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV with header + explicit schema. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** ORC documents — the other columnar format a lake-scale corpus shows
    * up in; footer statistics prune scans the same way parquet's do.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw-document form: one JSON string column, fields extracted lazily —
    * the closest analog to the reference's parse-per-mutation model. Use
    * when the doc schema is unknown/heterogeneous; extraction stays
    * codegen'd (`get_json_object`) and only touches requested paths.
    */
  def jsonField(doc: Column, path: String): Column =
    get_json_object(doc, s"$$.$path")

  /** A change feed from a raw JSON mutation log: each line
    * `{"opcode": "...", "docid": ..., "seqno": ..., "value": {...doc...}}`.
    * Produces the engine change-event schema (SURVEY §1.1 O1).
    */
  def changeFeedFromJson(spark: SparkSession, path: String,
                         valueSchema: StructType): DataFrame = {
    val schema = StructType(Seq(
      StructField("opcode", StringType),
      StructField("docid", LongType),
      StructField("seqno", LongType),
      StructField("partition", IntegerType),
      StructField("value", valueSchema)))
    spark.read.schema(schema).json(path)
      .withColumn("opcode",
        when(col("opcode").isin(Opcode.Mutation, Opcode.Deletion,
          Opcode.Expiration), col("opcode")).otherwise(Opcode.Mutation))
  }
}
