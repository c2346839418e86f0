package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) key: interleaves the low `bitsPer` bits of each child
  * — result bit `i·n + j` is bit `i` of child `j` — so sorting by the key
  * clusters rows that are close in EVERY dimension. Writing a table in
  * z-key order gives multi-dimensional data skipping from ordinary
  * per-file/row-group min-max stats: a predicate box on any subset of the
  * dimensions prunes files, where a single-column sort order prunes only
  * its leading column.
  *
  * Inputs are masked to `bitsPer` bits (callers normalize dimensions to
  * non-negative bounded ints first — e.g. days since an epoch, a modulo
  * of a surrogate key); `n · bitsPer ≤ 63` keeps the key in a positive
  * long. Negative inputs are masked like two's-complement bit patterns.
  * One tight loop per row; the bit math is engine-neutral (the DuckDB
  * oracle reproduces the key with shift/AND arithmetic).
  */
case class ZOrderExpr(children: Seq[Expression], bitsPer: Int)
    extends Expression with CodegenFallback {

  require(children.nonEmpty, "zorder needs at least one column")
  require(bitsPer >= 1 && bitsPer * children.size <= 63,
    s"bitsPer * dimensions must fit a positive long; got $bitsPer × ${children.size}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zorder_key"

  // eval reads children as raw longs — misuse (constructing the public
  // case class directly over an int/date child without the cast the
  // builders apply) must fail at analysis time, not as a per-row
  // ClassCastException
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bad = children.zipWithIndex.filterNot(_._1.dataType == LongType)
    if (bad.isEmpty) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zorder_key requires BIGINT dimensions (cast first); argument " +
        s"${bad.head._2 + 1} is ${bad.head._1.dataType.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = children.size
    var out = 0L
    var j = 0
    while (j < n) {
      val v = children(j).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Long] & ((1L << bitsPer) - 1)
      var i = 0
      while (i < bitsPer) {
        if (((x >>> i) & 1L) == 1L) out |= 1L << (i * n + j)
        i += 1
      }
      j += 1
    }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderExpr =
    copy(children = newChildren)
}

object ZOrder {
  /** Z-order key column over the given dimensions (cast to long). */
  def key(bitsPer: Int, cols: Column*): Column =
    org.apache.spark.sql.GraftBridge.column(ZOrderExpr(
      cols.map(c => org.apache.spark.sql.GraftBridge.expression(c.cast("long"))),
      bitsPer))

  /** The SQL rendition of [[key]] for a DuckDB oracle: a sum of
    * shift/AND terms per (bit, dimension). `dims` are SQL expressions
    * already cast to BIGINT.
    */
  def oracleSql(bitsPer: Int, dims: Seq[String]): String = {
    val n = dims.size
    val masked = dims.map(d => s"(($d) & ${(1L << bitsPer) - 1})")
    val terms = for (i <- 0 until bitsPer; j <- 0 until n)
      yield s"(((${masked(j)} >> $i) & 1) << ${i * n + j})"
    terms.mkString("(", " + ", ")")
  }
}
