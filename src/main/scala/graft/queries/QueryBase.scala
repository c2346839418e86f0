package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators._

/** The query surface's shared base: the Q signature and the helpers every tier uses
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait QueryBase {
  // the traits form one object (Queries); forward references across
  // tiers resolve through the self-type, exactly as in the single file
  self: OraclesExt =>

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- helpers

  private[graft] def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Recursive file-tree copy (driver-local store surgery for the
    * store-equivalence queries: clone a built version so two apply
    * paths share one frozen model without retraining).
    */
  private[graft] def copyTree(from: java.nio.file.Path,
                       to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dest)
      else {
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.copy(p, dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  private[graft] def emptyIndex(s: SparkSession): DataFrame =
    s.range(0).select(col("id").cast("double").as("key"), col("id").as("docid"))

  private[graft] def changeFeed(s: SparkSession, d: String): DataFrame =
    ChangeFeed.fromEvents(Tables.events(s, d))

  private[graft] val mergeDef = IndexDef("idx_value", "events", "docid",
    secExprs = Seq("value"), whereExpr = Some("value >= 10.0"))

  /** Fold the change feed through N incremental merges (ordered seqno
    * slices) — the multi-batch MAINT path, not a single-shot window.
    */
  private[graft] def foldMerges(s: SparkSession, d: String, defn: IndexDef,
                         cutoff: Option[Long] = None, batches: Int = 4): DataFrame = {
    val feed0 = changeFeed(s, d)
    // one scan of the feed for the whole fold: the high-water-mark probe
    // materializes the lazy checkpoint, and the N batch slices then read
    // the persisted partitions instead of re-planning the parquet scan
    val feed = graft.plans.LazyCheckpoint.shared(
      cutoff.fold(feed0)(c => feed0.filter(col("seqno") <= c)))
    val maxRow = feed.agg(max("seqno")).head()
    if (maxRow.isNullAt(0)) return emptyIndex(s).orderBy("key", "docid")
    val maxSeq = maxRow.getLong(0)
    val step = maxSeq / batches + 1
    var index = emptyIndex(s)
    for (i <- 0L until batches.toLong) {
      val batch = feed.filter(col("seqno") >= i * step && col("seqno") < (i + 1) * step)
      // merge() checkpoints each batch's per-docid aggregate (the state that
      // is scanned repeatedly), so the index chain itself can stay lazy: the
      // N generations compose into ONE pipeline of broadcast anti-joins +
      // unions that executes in a single job. Materializing every
      // generation (a full index write per batch) is the durability shape —
      // that lives in the streaming path (StreamingIndex.maintain), which
      // rewrites only the partitions a batch touches.
      index = IndexMaintainer.merge(index, batch, defn)
    }
    index.orderBy("key", "docid")
  }

  /** SQL body shared by the merge oracles: last writer per docid wins.
    * The event→change mapping comes from [[ChangeFeed.oracleSelect]] (the
    * single source of truth the Spark side also derives from).
    */
  private[graft] def mergeOracle(opcodeFilter: String, seqnoFilter: String): String =
    s"""WITH ch AS (
       |  ${ChangeFeed.oracleSelect} $seqnoFilter),
       |latest AS (
       |  SELECT docid, value, opcode,
       |         row_number() OVER (PARTITION BY docid ORDER BY seqno DESC) AS rn
       |  FROM ch)
       |SELECT value AS key, docid FROM latest
       |WHERE rn = 1 $opcodeFilter AND value >= 10.0 AND value IS NOT NULL
       |ORDER BY key, docid""".stripMargin
}
