package graft.model

/** Partitioning schemes for an index, mirroring the reference's
  * `PartitionScheme` (reference `Projector/index.go:56-64`:
  * KEY / HASH / RANGE / SINGLE / TEST).
  *
  * Spark mapping: SINGLE → `coalesce(1)`, HASH/KEY → `repartition(n, cols)`,
  * RANGE → `repartitionByRange(n, cols)`. At cluster scale the same spec
  * drives `DataFrameWriter.partitionBy`/bucketing so co-located scans and
  * merge joins stay shuffle-free.
  */
sealed trait PartitionSpec
case object SinglePartition extends PartitionSpec
/** Hash-partition on explicit partition-key expressions. */
final case class HashPartition(keys: Seq[String], numPartitions: Int) extends PartitionSpec
/** Range-partition on explicit partition-key expressions. */
final case class RangePartition(keys: Seq[String], numPartitions: Int) extends PartitionSpec
/** Partition by the index key itself (reference KEY scheme). */
final case class KeyPartition(numPartitions: Int) extends PartitionSpec

/** Index definition — the engine's DDL unit, mirroring the reference
  * `IndexDefn` (reference `Projector/index.go:173-214`, protobuf twin
  * `index.pb.go:239-254`).
  *
  *  - `secExprs`  — N1QL-analog key expressions (Spark SQL expression
  *    strings), reference `SecExprs` `Projector/index.go:181`.
  *  - `funcName`  — named map function in the [[graft.functions.FunctionCatalog]]
  *    (the JS `OnMap` analog, reference `index.pb.go:253` `FuncName`).
  *    Exactly one of `secExprs` / `funcName` / `isPrimary` drives the key.
  *  - `whereExpr` — partial-index predicate, reference `Projector/index.go:186`.
  *  - `desc`      — per-key-column sort direction, reference `:189`.
  *  - `immutable` — append-only hint: merge may skip old-entry deletion,
  *    reference `Projector/indexjs.go:159-160`.
  *  - `retainDeletedXattr` — treat DELETION/EXPIRATION as MUTATION,
  *    reference `Projector/indexjs.go:92-99`.
  */
final case class IndexDef(
    name: String,
    source: String,
    docidExpr: String,
    secExprs: Seq[String] = Nil,
    funcName: Option[String] = None,
    whereExpr: Option[String] = None,
    desc: Seq[Boolean] = Nil,
    isPrimary: Boolean = false,
    isArrayIndex: Boolean = false,
    immutable: Boolean = false,
    retainDeletedXattr: Boolean = false,
    partition: PartitionSpec = SinglePartition)

object IndexDef {

  /** Semantic equivalence of two index definitions — same source, key
    * derivation, predicate, and partitioning — regardless of name/replica
    * count. Mirrors reference `IsEquivalentIndex` (`Projector/index.go:529-572`),
    * which compares bucket, exprs, where, and partition scheme but not name.
    * Used by the registry to dedup redundant index builds (O25).
    */
  def isEquivalent(a: IndexDef, b: IndexDef): Boolean = {
    def canon(s: String) = s.replaceAll("\\s+", " ").trim.toLowerCase
    a.source == b.source &&
    a.docidExpr == b.docidExpr &&
    a.isPrimary == b.isPrimary &&
    a.isArrayIndex == b.isArrayIndex &&
    a.secExprs.map(canon) == b.secExprs.map(canon) &&
    a.funcName == b.funcName &&
    a.whereExpr.map(canon) == b.whereExpr.map(canon) &&
    a.desc == b.desc &&
    a.retainDeletedXattr == b.retainDeletedXattr &&
    a.partition == b.partition
  }
}
