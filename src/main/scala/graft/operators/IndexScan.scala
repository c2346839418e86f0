package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scan layer over a built index (SURVEY §7.1 M4).
  *
  * Range/point scans are plain Catalyst filters so that, when the index is
  * persisted as sorted parquet, the predicate reaches the scan as
  * `PushedFilters` and row groups outside [lo, hi) never leave disk —
  * the Spark rendition of the reference's ordered-key lookups.
  */
object IndexScan {

  /** Range scan: `lo <= key < hi` (either bound optional). */
  def range(index: DataFrame, lo: Option[Any], hi: Option[Any],
            keyCol: String = "key"): DataFrame = {
    val k = col(keyCol)
    val p = Seq(lo.map(k >= lit(_)), hi.map(k < lit(_))).flatten
      .reduceOption(_ && _).getOrElse(lit(true))
    index.filter(p)
  }

  def point(index: DataFrame, key: Any, keyCol: String = "key"): DataFrame =
    index.filter(col(keyCol) === lit(key))

  /** Index scan statistics (O15, reference `IndexStatistics`,
    * `Projector/index.go:37-44`): Count / MinKey / MaxKey / DistinctCount /
    * Bins in a single aggregation pass + one group-by for the histogram.
    */
  def statistics(index: DataFrame, keyCol: String = "key"): DataFrame =
    index.agg(
      count(lit(1)).as("cnt"),
      min(col(keyCol)).as("min_key"),
      max(col(keyCol)).as("max_key"),
      countDistinct(col(keyCol)).as("distinct_cnt"))

  /** Equi-width histogram bins over a numeric key. */
  def bins(index: DataFrame, width: Double, keyCol: String = "key"): DataFrame =
    index.groupBy(floor(col(keyCol) / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin")

  /** Bloom filter over an index column (built with a distributed
    * treeAggregate under `stat.bloomFilter`) — the membership fast path:
    * a probe set is pre-filtered by the sketch (no false negatives) before
    * the exact semi-join touches the index. At scale the sketch is a few
    * MB broadcast once, and probes that were never indexed (often the vast
    * majority in change-capture reconciliation) never reach the join.
    */
  def membershipBloom(index: DataFrame, col_ : String = "docid",
                      expectedItems: Long = 1000000L,
                      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    index.stat.bloomFilter(col_, expectedItems, fpp)

  /** Exact membership of `probes` in the index, bloom-accelerated:
    * sketch-prefilter, then semi-join for exactness. Output: the probe rows
    * that ARE indexed. Size the sketch with `expectedItems` (no counting
    * job is run); callers probing repeatedly should persist `index` —
    * this evaluates it for the sketch build and once for the semi-join.
    */
  def probeMembership(index: DataFrame, probes: DataFrame,
                      col_ : String = "docid",
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types._
    // validate the probe type BEFORE the sketch job (clear error, no work);
    // a Long-only UDF would ANSI-fail (or silently null out) string keys
    def family(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "integral"
      case StringType => "string"
      case other => throw new IllegalArgumentException(
        s"bloom membership supports integral and string columns, got $other")
    }
    // ...and require the same type FAMILY on both sides: a long probe
    // against a string-keyed sketch never hits (the semi-join would still
    // match via implicit cast) — silent false negatives otherwise
    val probeFamily = family(probes.schema(col_).dataType)
    val indexFamily = family(index.schema(col_).dataType)
    require(probeFamily == indexFamily,
      s"probe column '$col_' is $probeFamily but the index column is " +
        s"$indexFamily — cast both sides to one type before probing")
    val bloom = membershipBloom(index, col_, expectedItems, fpp)
    val bloomBc = probes.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = probes.schema(col_).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        udf((v: java.lang.Long) => v != null && bloomBc.value.mightContainLong(v))
          .apply(col(col_).cast("long"))
      case StringType =>
        udf((v: String) => v != null && bloomBc.value.mightContainString(v))
          .apply(col(col_))
      case other => throw new IllegalArgumentException(
        s"bloom membership supports integral and string columns, got $other")
    }
    probes.filter(mightContain)
      .join(index.select(col_).distinct(), Seq(col_), "left_semi")
  }
}
