package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.{ExprMapFunction, FunctionCatalog, LambdaMapFunction}
import graft.model._

/** Batch index build — the INIT_STREAM analog (SURVEY §7.1 M2): snapshot
  * DataFrame → map function / key expressions (O2/O3) → partial-index WHERE
  * (O5) → array explode (O12) → desc ordering (O11) → partitioning (O10) →
  * sorted index entries `(key..., docid)`.
  *
  * Everything stays declarative `Column` work, so Catalyst pushes the WHERE
  * into the parquet scan and prunes columns to exactly the key + docid
  * expressions; the final total sort is a range-partitioned exchange (the
  * cluster-scale "sorted, partitioned index write"). Only a
  * [[LambdaMapFunction]] drops to a typed `flatMap` — the price of the
  * reference's arbitrary-JS capability (`OnMap`/`emit`,
  * reference `CGOTRY/v8Instance.cpp:71-176`).
  */
object IndexBuilder {

  /** Names of the emitted key columns: `key` when single, else `key1..keyN`. */
  def keyNames(n: Int): Seq[String] =
    if (n == 1) Seq("key") else (1 to n).map(i => s"key$i")

  def build(source: DataFrame, defn: IndexDef,
            catalog: FunctionCatalog = new FunctionCatalog): DataFrame =
    sortAndPartition(buildEntries(source, defn, catalog), defn)

  /** [[build]] WITHOUT the final layout pass — what callers that feed
    * [[IndexStore.write]] must use: write re-establishes the partition
    * + in-partition sort itself, so a layout here would be computed
    * and thrown away (for SinglePartition it would funnel the entire
    * build through one coalesce(1) task first — pure waste).
    */
  def buildEntries(source: DataFrame, defn: IndexDef,
                   catalog: FunctionCatalog = new FunctionCatalog)
      : DataFrame = {
    val docid = expr(defn.docidExpr).as("docid")

    // WHERE applies to the source doc, before key derivation (O5).
    val filtered = defn.whereExpr.fold(source)(w => source.filter(expr(w)))

    val entries: DataFrame =
      if (defn.isPrimary) {
        // Primary index: all docids (O13, reference `Projector/index.go:180`).
        filtered.select(docid).distinct()
      } else defn.funcName match {
        case Some(name) => catalog.lookup(name) match {
          case Some(ExprMapFunction(_, cols, _)) =>
            project(filtered, cols, docid, defn)
          case Some(LambdaMapFunction(_, keySchema, fn, _)) =>
            flatMapEmit(filtered, keySchema, fn, defn)
          case None =>
            // fail fast: a dangling function pointer must not silently
            // build a different index off secExprs (or crash later)
            throw new IllegalArgumentException(
              s"index ${defn.name}: map function '$name' is not registered")
        }
        case None =>
          project(filtered, defn.secExprs.map(expr), docid, defn)
      }
    entries
  }

  /** Declarative path: key columns straight from expressions (O3). The
    * ONE key-derivation rule — array explode, `key`/`keyN` naming and the
    * all-null filter — shared by the batch build, the incremental merge
    * ([[IndexMaintainer.merge]]) and the streaming store's empty frame.
    */
  private[graft] def project(df: DataFrame, keyCols: Seq[Column], docid: Column,
                      defn: IndexDef): DataFrame = {
    if (defn.isArrayIndex) {
      // Array index: one entry per element of the (single) array key (O12).
      require(keyCols.length == 1, "array index takes one array-valued key")
      df.select(explode(keyCols.head).as("key"), docid)
        .filter(col("key").isNotNull)
    } else {
      val named = keyCols.zip(keyNames(keyCols.length))
        .map { case (c, n) => c.as(n) }
      val out = df.select(named :+ docid: _*)
      // A doc whose key is entirely missing emits nothing (JS `OnMap` that
      // never calls emit — where==emitted, reference `Projector/indexjs.go:109-111`).
      out.filter(keyNames(keyCols.length).map(col(_).isNotNull).reduce(_ || _))
    }
  }

  /** General path: multi-emit lambda via typed flatMap (O2). */
  private def flatMapEmit(df: DataFrame, keySchema: StructType,
                          fn: Row => Iterator[Row], defn: IndexDef): DataFrame = {
    // a FRESH column name: withColumn REPLACES an existing column in
    // place, so a source that already carries __docid would shift the
    // positional read below onto the wrong column — silently wrong
    // docids on every entry
    val docidCol = Iterator.from(0).map(i => s"__docid$i")
      .find(n => !df.columns.contains(n)).get
    val withDocid = df.withColumn(docidCol, expr(defn.docidExpr))
    val docidField = withDocid.schema(docidCol)
    val names = keyNames(keySchema.length)
    val outSchema = StructType(
      keySchema.fields.zip(names).map { case (f, n) => f.copy(name = n) } :+
        StructField("docid", docidField.dataType, docidField.nullable))
    val docidIdx = withDocid.schema.fieldIndex(docidCol)
    val nKeys = keySchema.length
    withDocid.flatMap { row =>
      val docidVal = row.get(docidIdx)
      // Per-row panic safety (reference `recover()`, Projector/indexjs.go:77-81):
      // a throwing map function skips the doc instead of killing the
      // build. The arity check runs INSIDE the Try so a wrong-width
      // emitted row also skips the doc here, not later in the row
      // encoder (outside any recovery); deep TYPE mismatches are
      // rejected at registration (FunctionCatalog's compile-time
      // validation, O23).
      scala.util.Try(fn(row).map { k =>
        require(k.length == nKeys,
          s"emit arity ${k.length} != key schema arity $nKeys")
        Row.fromSeq(k.toSeq :+ docidVal)
      }.toSeq).getOrElse(Seq.empty)
    }(Encoders.row(outSchema)).toDF()
  }

  /** Desc ordering (O11) + partition scheme (O10) + sorted layout.
    *
    * A declared partition scheme pays exactly ONE exchange: the index
    * layout is partition-then-`sortWithinPartitions` — the same shape
    * [[IndexStore.write]] persists — never a global `orderBy` on top of
    * the partitioning (whose range exchange would discard the
    * partitioning just built and double the shuffle bytes; this bit
    * `idx_partition_hash` until round 6). Read-back order stays
    * deterministic without a total sort: the partitioner is a
    * deterministic function of the keys and partition order follows
    * partition id, so collect/write order is reproducible — and
    * consumers that need a TOTAL order (the verify queries, range scans)
    * already impose their own final `orderBy`, which Catalyst collapses
    * with the within-partition sort instead of stacking exchanges.
    * Only SinglePartition gets a true total order — via `coalesce(1)` +
    * within-sort, which is exchange-FREE.
    */
  private def sortAndPartition(entries: DataFrame, defn: IndexDef): DataFrame = {
    val keys = entries.columns.filter(_ != "docid").toSeq
    val sortCols = keys.zipWithIndex.map { case (k, i) =>
      if (defn.desc.lift(i).getOrElse(false)) col(k).desc else col(k).asc
    } :+ col("docid").asc

    // a PRIMARY index has no secondary keys: its key IS the docid, so
    // KeyPartition falls back to it instead of crashing on zero
    // partition expressions
    val keyCols = if (keys.nonEmpty) keys else Seq("docid")
    val partitioned = defn.partition match {
      case SinglePartition => entries.coalesce(1)
      case HashPartition(pkeys, n) => entries.repartition(n, pkeys.map(col): _*)
      case RangePartition(pkeys, n) =>
        entries.repartitionByRange(n, pkeys.map(col): _*)
      case KeyPartition(n) => entries.repartition(n, keyCols.map(col): _*)
    }
    partitioned.sortWithinPartitions(sortCols: _*)
  }
}
