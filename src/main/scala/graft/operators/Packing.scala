package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Sampling => S}

/** Sequence-shaping operators for training-data preparation: chunking long
  * documents into overlapping token windows, and packing documents into
  * fixed token-budget bins — the two transforms between a curated corpus
  * and a tokenizer's input.
  */
object Packing {

  /** Split each doc into token windows of `window` tokens with `overlap`
    * tokens of context carried between consecutive chunks
    * (stride = window - overlap). Chunk i covers tokens
    * [i·stride, i·stride + window); the chunk count is
    * ceil(max(len - overlap, 1) / stride), so every token is covered and a
    * doc shorter than a window yields exactly one chunk. Pure expressions:
    * the explode is the only row-count change, no shuffle; token count and
    * text derive from the SAME sliced array (no re-tokenization).
    */
  def chunk(docs: DataFrame, window: Int, overlap: Int,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && overlap < window, "0 <= overlap < window")
    val stride = window - overlap
    // trim-only whitespace split: token COUNTS match normTokens, but
    // chunk_text keeps the corpus's case — lowercased training text
    // would be silent data corruption
    val toks = split(trim(col(textCol)), "\\s+")
    val nChunks = greatest(
      ceil((size(toks) - lit(overlap)).cast("double") / stride).cast("int"),
      lit(1))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"),
        nChunks.as("n_chunks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1), i =>
          slice(col("toks"), i * stride + 1, lit(window))))
          .as(Seq("chunk_idx", "chunk_toks")))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk_toks")).cast("long").as("chunk_tokens"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
  }

  /** Per-stratum running token total BEFORE each doc in the engine's
    * deterministic hash order (hashKey asc, id asc) — the two-phase
    * prefix sum every packer rides. A naive
    * `sum over (partitionBy(stratum), orderBy(hash), unboundedPreceding)`
    * window funnels each stratum's ENTIRE (id, count) stream through ONE
    * task — at 10⁹ docs/source that is a ~30 GB single-task sort exactly
    * when the corpus is biggest. Here the stratum is instead split into
    * 256 sub-partitions keyed by the hash's first two hex chars (a
    * prefix of the sort key, so `(bucket asc, hash asc)` IS `hash asc`):
    *   1. the cumulative window runs per (stratum, bucket) — 256× the
    *      parallelism, each task sorting 1/256 of a stratum;
    *   2. per-(stratum, bucket) token totals aggregate map-side and the
    *      cumulative BUCKET offsets (strata × 256 rows — control-plane
    *      data) broadcast back;
    *   3. offset = bucket base + within-bucket running sum.
    * Same total order, bit-identical offsets, no single-task-per-stratum
    * stage. Input rows pass through with `offCol` appended (plus the
    * normalized doc_id/source/n_tokens names the packers use).
    */
  private[graft] def streamOffsets(docs: DataFrame, strataCol: String,
                                   tokensCol: String, idCol: String,
                                   offCol: String = "__off"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        col(strataCol).as("source"), col(tokensCol).as("n_tokens"))
      .withColumn("__h", S.hashKey(col("doc_id")))
      .withColumn("__b", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    bucketedPrefix(base, partKey = "source", tiebreak = "doc_id",
      perBucket = sum(col("n_tokens")),
      perRow = w => coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
      outCol = offCol)
  }

  /** The bucketed two-phase prefix machinery shared by
    * [[streamOffsets]] (running token totals) and [[shard]] (in-shard
    * ranks): the in-partition combiner runs per (key, hash-prefix
    * bucket) — 256× the parallelism — and the per-bucket aggregates
    * (keys × 256 rows, control-plane data) broadcast back as bases.
    * The bucket is a PREFIX of the sort key, so `(bucket asc, hash
    * asc)` IS `hash asc` and the result is bit-identical to the
    * single-window form. One copy of the subtle parts — the ≤256-row
    * base window and the null-SAFE join (a null key/hash formed its
    * own partition under the window formulation; a plain equi-join
    * would silently drop those rows) — so the two callers cannot
    * diverge.
    */
  private def bucketedPrefix(base: DataFrame, partKey: String,
      tiebreak: String, perBucket: Column,
      perRow: org.apache.spark.sql.expressions.WindowSpec => Column,
      outCol: String): DataFrame = {
    val inBucket = Window.partitionBy(col(partKey), col("__b"))
      .orderBy(col("__h").asc, col(tiebreak).asc)
    val bucketBase = Window.partitionBy(col(partKey))
      .orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = base.groupBy(col(partKey), col("__b"))
      .agg(perBucket.as("__btot"))
      .withColumn("__base",
        coalesce(sum(col("__btot")).over(bucketBase), lit(0L)))
      .select(col(partKey).as("__bk"), col("__b").as("__bb"),
        col("__base"))
    base.join(broadcast(bases),
        base(partKey) <=> bases("__bk") && base("__b") <=> bases("__bb"))
      .withColumn(outCol, col("__base") + perRow(inBucket))
      .drop("__h", "__b", "__base", "__bk", "__bb")
  }

  /** Assign docs to fixed token-budget packs, per stratum, in the engine's
    * deterministic hash order ([[Sampling.hashKey]]): pack id = cumulative
    * tokens BEFORE the doc, integer-divided by the budget. Deterministic
    * under any partitioning; offsets come from the bucketed two-phase
    * prefix sum ([[streamOffsets]] — no per-stratum single-task window).
    */
  def pack(docs: DataFrame, budget: Long, strataCol: String = "source",
           tokensCol: String = "n_tokens", idCol: String = "doc_id"): DataFrame =
    streamOffsets(docs, strataCol, tokensCol, idCol)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("__off") / budget).cast("long").as("pack_id"))

  /** Concat-and-split sequence packing — the zero-padding pretraining
    * layout: per stratum, documents concatenate into one token stream in
    * the engine's deterministic hash order and the stream splits at exact
    * `budget` boundaries; a document crossing a boundary contributes a
    * row to EVERY sequence it touches (`tok_start`/`tok_end` are the
    * doc-local half-open token range landing in that sequence). Unlike
    * [[pack]] (whole docs per bin, padding waste), every sequence except a
    * stratum's last is exactly `budget` tokens. Shape at scale: offsets
    * come from the bucketed two-phase prefix sum over (tiny) id+count
    * rows ([[streamOffsets]] — no stratum ever funnels through one
    * task); the boundary explode is a pure map whose fan-out is
    * 1 + n_tokens/budget per doc.
    */
  def packContiguous(docs: DataFrame, budget: Long,
                     strataCol: String = "source",
                     tokensCol: String = "n_tokens",
                     idCol: String = "doc_id"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    streamOffsets(
      docs.select(col(idCol).as("doc_id"), col(strataCol).as("source"),
          col(tokensCol).as("n_tokens"))
        .filter(col("n_tokens") > 0),
      "source", "n_tokens", "doc_id")
      .withColumn("seq_id",
        explode(sequence(floor(col("__off") / budget),
          floor((col("__off") + col("n_tokens") - 1) / budget))))
      .select(col("doc_id"), col("source"), col("seq_id").cast("long"),
        // doc-local half-open token range [tok_start, tok_end)
        greatest(col("seq_id") * budget - col("__off"), lit(0L))
          .as("tok_start"),
        (least((col("seq_id") + 1) * budget - col("__off"),
          col("n_tokens"))).as("tok_end"))
      .withColumn("seq_tokens", col("tok_end") - col("tok_start"))
  }

  /** Deterministic global shuffle + sharding — the last step before a
    * training run: break corpus order (dedup/curation leave correlated
    * neighborhoods) and emit `nShards` stable output shards. Shard = hash
    * bucket of the doc key (md5-derived so ANY engine reproduces it);
    * position within a shard = rank in hash order.
    *
    * The in-shard rank rides the same bucketed two-phase trick as
    * [[streamOffsets]] — a plain `row_number over (partitionBy(shard))`
    * funnels each shard's rows through ONE task (at 10⁹ docs / 1024
    * shards that is a 10⁶-row single-task sort per shard): instead the
    * rank window runs per (shard, hash-prefix bucket) — 256× the
    * parallelism — and per-bucket COUNTS (shards × 256 rows,
    * control-plane data) broadcast back as rank bases. The bucket is a
    * prefix of the rank's own sort key, so `(bucket asc, hash asc)` IS
    * `hash asc` and the positions are bit-identical to the single-window
    * form. No global sort, no skew (md5 is uniform); the (hash, key)
    * tiebreak makes the permutation total and re-runnable.
    */
  def shard(docs: DataFrame, nShards: Int,
            idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    // first 6 md5 hex chars = 24 bits — exact in a double-free long parse
    // on every engine, uniform across shards; the sub-bucket reuses the
    // first 2 of those chars, so bucket order is hash-prefix order
    val base = docs.withColumn("__h", S.hashKey(col(idCol)))
      .withColumn("shard",
        conv(substring(col("__h"), 1, 6), 16, 10).cast("long") % nShards)
      .withColumn("__b", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    bucketedPrefix(base, partKey = "shard", tiebreak = idCol,
      perBucket = count(lit(1)),
      perRow = w => row_number().over(w).cast("long"),
      outCol = "pos")
  }
}
