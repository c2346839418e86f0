package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge

/** Dense-vector primitives over `ArrayType` embedding columns.
  *
  * Backed by native Catalyst expressions ([[DotProductExpr]],
  * [[HyperplaneBucketsExpr]]) — tight JVM loops over the unsafe array data,
  * codegen-participating for the pairwise dot product — instead of
  * `zip_with`/`aggregate` higher-order functions (which interpret one
  * expression tree per ELEMENT and dominated the similarity-path profile).
  *
  * All math is Double (float inputs widened per element), strict
  * left-to-right accumulation — deterministic and engine-comparable.
  */
object VectorOps {

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-table LSH bucket ids (array of longs, one per table) in a single
    * pass over the vector. The plane tensor is tiny (tables × bits × dim
    * doubles) and ships inside the expression — bucketing stays a pure,
    * shuffle-free map at any corpus scale.
    */
  def hyperplaneBuckets(v: Column, planes: Seq[Seq[Array[Double]]]): Column =
    GraftBridge.column(HyperplaneBucketsExpr(GraftBridge.expression(v), planes))

  /** The `k` nearest centroid ids for a vector (cosine, ties → lower id),
    * flat or two-level (see [[NearestCentroidsExpr]]) — the IVF routing
    * step as a shuffle-free per-row map.
    */
  def nearestCentroids(v: Column, fine: Seq[Array[Double]],
                       coarse: Seq[Array[Double]] = Nil,
                       members: Seq[Seq[Int]] = Nil,
                       k: Int = 1, coarseProbes: Int = 2): Column =
    GraftBridge.column(NearestCentroidsExpr(
      GraftBridge.expression(v), fine, coarse, members, k, coarseProbes))

  /** Symmetric per-vector int8 quantization: `struct(scale, q)` with
    * `scale = maxAbs/127` and `q[i] = round(v[i]/scale)` as tinyint —
    * 4× (vs float) / 8× (vs double) storage cut for a 100 TB embedding
    * column; max round-trip error is scale/2. Quantization runs once at
    * write time, so the declarative HOF form is fine here (the pairwise-hot
    * dot product stays on the native expression path).
    */
  def quantizeInt8(v: Column): Column = {
    val vd = v.cast("array<double>")
    val scale = greatest(
      aggregate(vd, lit(0.0d), (acc, x) => greatest(acc, abs(x))) / 127.0d,
      lit(java.lang.Double.MIN_NORMAL))
    struct(scale.as("scale"),
      transform(vd, x => round(x / scale).cast("tinyint")).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: reconstruct an array<double>. */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"), b => b.cast("double") * qs.getField("scale"))

  /** Product-quantization codes (`array<tinyint>`, one byte per subspace)
    * for a vector — see [[PqEncodeExpr]].
    */
  def pqEncode(v: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    GraftBridge.column(PqEncodeExpr(GraftBridge.expression(v), codebooks))

  /** Per-query ADC lookup table (`array<double>` of m×k sub-dot-products)
    * — see [[PqLutExpr]].
    */
  def pqLut(q: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    GraftBridge.column(PqLutExpr(GraftBridge.expression(q), codebooks))

  /** ADC approximate dot product from codes + a query's lookup table —
    * `m` array lookups per pair, codegen-participating ([[PqAdcDotExpr]]).
    */
  def pqAdcDot(codes: Column, lut: Column): Column =
    GraftBridge.column(PqAdcDotExpr(
      GraftBridge.expression(codes), GraftBridge.expression(lut)))
}
