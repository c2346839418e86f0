package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-preserving binary encoding of heterogeneous index keys.
  *
  * Re-expresses the reference's collatejson codec (`CollateIt`,
  * reference `Projector/JSEvaluate.go:56-130`): the emitted key is encoded
  * into bytes whose unsigned-memcmp order equals JSON collation order
  *
  *   missing/null < false < true < number < string < array < object
  *
  * with ints and floats collating in ONE numeric order (the reference
  * funnels both through scientific notation, `JSEvaluate.go:79-95`; we
  * funnel both through an order-preserving IEEE-754 double transform —
  * same ordering, precision bounded at 2^53 as documented in SURVEY §7.4).
  *
  * Encoding (each value = 1 tag byte + payload):
  *   0x01 null · 0x02 false · 0x03 true
  *   0x04 number: 8-byte big-endian of (bits ^ (neg ? ~0L : minValue))
  *   0x05 string: UTF-8 with 0x00 escaped as 0x00 0x01, terminated 0x00 0x00
  *   0x06 array:  element encodings, terminated 0x00
  *   0x07 struct: field encodings, terminated 0x00
  *   0x08 map:    key-sorted (k,v) encodings, terminated 0x00
  * Tags are ≥ 0x01, so the 0x00 terminator sorts a prefix container first —
  * matching JSON collation on nested values.
  *
  * Exposed as a native Catalyst expression (`CodegenFallback` — evaluated,
  * not generated; it sits outside the hot aggregation path because typed
  * keys are the default, SURVEY §7.3(a)) and as `Column` helper
  * [[JsonCollation.collateKey]].
  */
object JsonCollation {

  private final val TagNull: Byte = 0x01
  private final val TagFalse: Byte = 0x02
  private final val TagTrue: Byte = 0x03
  private final val TagNumber: Byte = 0x04
  private final val TagString: Byte = 0x05
  private final val TagArray: Byte = 0x06
  private final val TagStruct: Byte = 0x07
  private final val TagMap: Byte = 0x08

  /** Encode any Spark-SQL (external or internal) value. */
  def encode(value: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    enc(value, out)
    out.toByteArray
  }

  /** Encode a COMPOSITE key with per-column sort direction (the reference's
    * `Desc []bool`, `Projector/index.go:189,285-296`): each column's
    * encoding is emitted in order, with every byte inverted when that
    * column is descending.
    *
    * Why inversion is order-exact: each single-value encoding is
    * PREFIX-FREE (numbers are fixed-width after the tag; strings terminate
    * with 0x00 0x00 and escape interior NULs as 0x00 0x01; containers
    * terminate with 0x00, below every tag byte ≥ 0x01) — so two distinct
    * encodings always disagree at a position both have, and flipping all
    * bits reverses every such comparison. Prefix-freeness also makes plain
    * concatenation compare column-by-column. Nulls (tag 0x01) flip to 0xFE
    * > every flipped tag, giving NULLS LAST under desc — exactly Spark's
    * `desc_nulls_last` default, mirroring `asc_nulls_first` ascending.
    */
  def encodeKey(values: Seq[Any], desc: Seq[Boolean] = Nil): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    values.zipWithIndex.foreach { case (v, i) =>
      val b = encode(v)
      if (desc.lift(i).getOrElse(false)) {
        var j = 0
        while (j < b.length) { b(j) = (~b(j)).toByte; j += 1 }
      }
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  private def enc(value: Any, out: ByteArrayOutputStream): Unit = value match {
    case null => out.write(TagNull)
    case b: Boolean => out.write(if (b) TagTrue else TagFalse)
    case n: Byte => encNumber(n.toDouble, out)
    case n: Short => encNumber(n.toDouble, out)
    case n: Int => encNumber(n.toDouble, out)
    case n: Long => encNumber(n.toDouble, out)
    case n: Float => encNumber(n.toDouble, out)
    case n: Double => encNumber(n, out)
    case n: java.math.BigDecimal => encNumber(n.doubleValue, out)
    case n: org.apache.spark.sql.types.Decimal => encNumber(n.toDouble, out)
    case s: String => encString(s.getBytes("UTF-8"), out)
    case s: UTF8String => encString(s.getBytes, out)
    case a: Seq[_] =>
      out.write(TagArray); a.foreach(enc(_, out)); out.write(0x00)
    case _: Array[Byte] =>
      // BinaryType reaches here through fromInternal: encoding it as an
      // ARRAY OF SIGNED NUMBERS would give binary keys signed order
      // (0x80 before 0x01) at 9 bytes per input byte — fail loudly per
      // the class contract instead of silently reinterpreting
      throw new IllegalArgumentException(
        "cannot collate raw binary: JSON collation has no binary type " +
          "(hex-encode the bytes to collate them as a string)")
    case a: Array[_] =>
      out.write(TagArray); a.foreach(enc(_, out)); out.write(0x00)
    case r: org.apache.spark.sql.Row =>
      out.write(TagStruct); r.toSeq.foreach(enc(_, out)); out.write(0x00)
    case m: Map[_, _] =>
      out.write(TagMap)
      m.toSeq
        .map { case (k, v) => (encode(k), v) }
        .sortWith((x, y) => compareBytes(x._1, y._1) < 0)
        .foreach { case (kb, v) => out.write(kb, 0, kb.length); enc(v, out) }
      out.write(0x00)
    case other =>
      throw new IllegalArgumentException(s"cannot collate ${other.getClass}")
  }

  private def encNumber(d: Double, out: ByteArrayOutputStream): Unit = {
    out.write(TagNumber)
    val bits = java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d)
    // Flip all bits for negatives, just the sign bit for positives:
    // resulting unsigned byte order == numeric order.
    val ordered = if (bits < 0) ~bits else bits ^ Long.MinValue
    var i = 56
    while (i >= 0) { out.write(((ordered >>> i) & 0xff).toInt); i -= 8 }
  }

  private def encString(bytes: Array[Byte], out: ByteArrayOutputStream): Unit = {
    out.write(TagString)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == 0x00) { out.write(0x00); out.write(0x01) } else out.write(b.toInt)
      i += 1
    }
    out.write(0x00); out.write(0x00)
  }

  /** Unsigned lexicographic byte compare (what the index sorts by). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Reference comparator implementing JSON collation order directly on
    * values — the property-test oracle for [[encode]] (SURVEY §5.3b).
    */
  def compareValues(x: Any, y: Any): Int = {
    def rank(v: Any): Int = v match {
      case null => 0
      case false => 1
      case true => 2
      case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
          _: java.math.BigDecimal |
          _: org.apache.spark.sql.types.Decimal => 3
      case _: String => 4
      case _: Seq[_] | _: Array[_] => 5
      case _: org.apache.spark.sql.Row => 6
      case _: Map[_, _] => 7
      case other => throw new IllegalArgumentException(s"${other.getClass}")
    }
    val rx = rank(x); val ry = rank(y)
    if (rx != ry) return rx - ry
    def num(v: Any): Double = v match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue
    }
    (x, y) match {
      case _ if rx == 3 =>
        // + 0.0 normalizes the signed zero: encode() deliberately maps
        // -0.0 to +0.0 bits, and the oracle must agree with the
        // encoding it validates
        java.lang.Double.compare(num(x) + 0.0, num(y) + 0.0)
      case (a: String, b: String) =>
        // memcmp order over UTF-8 bytes == code-point order
        compareBytes(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      case (a: Seq[_], b: Seq[_]) =>
        a.zip(b).iterator.map { case (u, v) => compareValues(u, v) }
          .find(_ != 0).getOrElse(a.length - b.length)
      case _ => compareBytes(encode(x), encode(y)) // structs/maps: defer
    }
  }

  /** `Column` producing the collation key of `c`. */
  def collateKey(c: Column): Column =
    GraftBridge.column(JsonCollateKey(GraftBridge.expression(c)))

  /** `Column` producing the composite key of `cols` with per-column
    * asc/desc directions — byte order == `orderBy` with the same mix.
    */
  def collateKeys(cols: Seq[Column], desc: Seq[Boolean] = Nil): Column =
    GraftBridge.column(JsonCollateKeys(cols.map(GraftBridge.expression), desc))

  // Internal (Catalyst) representation → the JVM shapes `encode` understands.
  private[functions] def fromInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toObjectArray(et).map(fromInternal(_, et)).toSeq
    case (r: InternalRow, st: StructType) =>
      org.apache.spark.sql.Row.fromSeq(
        st.fields.zipWithIndex.map { case (f, i) =>
          fromInternal(r.get(i, f.dataType), f.dataType)
        }.toSeq)
    case (m: MapData, MapType(kt, vt, _)) =>
      m.keyArray().toObjectArray(kt).map(fromInternal(_, kt))
        .zip(m.valueArray().toObjectArray(vt).map(fromInternal(_, vt))).toMap
    case (other, _) => other
  }
}

/** Catalyst expression: any supported input type → sortable BinaryType key. */
case class JsonCollateKey(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "json_collate_key"

  override def eval(input: InternalRow): Any =
    JsonCollation.encode(
      JsonCollation.fromInternal(child.eval(input), child.dataType))

  override protected def withNewChildInternal(newChild: Expression): JsonCollateKey =
    copy(child = newChild)
}

/** Catalyst expression: composite key with per-column asc/desc direction →
  * sortable BinaryType (see [[JsonCollation.encodeKey]] for the ordering
  * contract; reference `Desc []bool`, `Projector/index.go:189,285-296`).
  */
case class JsonCollateKeys(children: Seq[Expression], desc: Seq[Boolean])
    extends Expression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "json_collate_keys"

  override def eval(input: InternalRow): Any =
    JsonCollation.encodeKey(
      children.map(c => JsonCollation.fromInternal(c.eval(input), c.dataType)),
      desc)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): JsonCollateKeys =
    copy(children = newChildren)
}
