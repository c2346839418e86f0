package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.{Dedup, Packing}

/** A pretraining-data curation chain over a corpus with planted exact and
  * near duplicates: exact dedup, MinHash-LSH near dedup, text features,
  * BPE training and encoding, and contiguous packing. The build runs the
  * whole chain and persists the curated corpus as a near-duplicate store;
  * the loop then curates arriving shards against that store (its write)
  * and probes single documents against it (its read).
  */
final class Curation extends Workload {
  private val sizes = Gen.CSizes(docs = 1600, tokensPerDoc = 480, shardSize = 100)
  private val Budget = 1024L
  private val BpeSteps = 100
  private var corpus: CurationCorpus = _
  private var corpusPath = ""
  private var setsDir = ""
  private var bucketsDir = ""
  private var shardsDir = ""
  private var merges: Seq[(String, String)] = Nil
  /** Kept documents, by id: probe targets that must be found. */
  private val kept = mutable.LinkedHashMap.empty[Long, CDoc]
  /** Kept documents of the corpus itself: what shards near-copy. */
  private var keptBase = IndexedSeq.empty[CDoc]
  private var survivors: DataFrame = _
  private var found = 0
  private var planted = 0
  private var verifiedPairs = 0L
  private val digest = new Digest

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Gen.curationCorpus(ctx.args.seed, sizes)
    corpusPath = ctx.dir(s"corpus-$rep")
    corpus.docs.toDF().write.mode("overwrite").parquet(corpusPath)
    if (rep == 0) digest.add(corpus.docs)
  }

  /** Token counts and curated features of `docs` (a shard or the corpus). */
  private def features(ctx: Ctx, docs: DataFrame): DataFrame =
    ctx.span("cur.features")(docs.select(col("doc_id"), col("source"),
      col("text"), TextOps.langId(col("text")).as("lang"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.tokenStats(col("text")).getField("n_tokens").as("n_words"))
      .localCheckpoint())

  private def encodeAndPack(ctx: Ctx, feats: DataFrame, out: String,
                            mode: String): (Long, Long) = {
    val encoded = ctx.span("cur.bpe")(feats.select(col("doc_id"),
        col("source"), size(TextOps.bpeEncodeTokens(col("text"), merges))
          .cast("long").as("n_tokens"))
      .localCheckpoint())
    ctx.span("cur.pack") {
      Packing.packContiguous(encoded, Budget)
        .write.mode(mode).parquet(out)
      val tokens = encoded.agg(sum("n_tokens")).head().getLong(0)
      val packed = ctx.spark.read.parquet(out).agg(sum("seq_tokens")).head()
      (tokens, if (packed.isNullAt(0)) 0L else packed.getLong(0))
    }
  }

  def build(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = spark.read.parquet(corpusPath)
    val keepIds = ctx.span("cur.exact")(
      Dedup.exact(docs).select("keep_id").as[Long].collect().toSet)
    survivors = docs.filter(col("doc_id").isin(keepIds.toSeq: _*))
      .localCheckpoint()
    val pairs = ctx.span("cur.minhash")(Dedup.minhashLsh(survivors)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    val dropped = pairs.map(_._2)
    val curated = survivors.filter(!col("doc_id").isin(dropped.toSeq: _*))
    val feats = features(ctx, curated)
    merges = ctx.span("cur.bpe")(TextOps.bpeTrainMergesLocal(feats, BpeSteps)
      .select("lhs", "rhs").as[(String, String)].collect().toSeq)
    val (tokens, packedTokens) =
      encodeAndPack(ctx, feats, ctx.dir(s"packed-$rep"), "overwrite")
    setsDir = ctx.dir(s"store-$rep/sets")
    bucketsDir = ctx.dir(s"store-$rep/buckets")
    ctx.span("cur.store") {
      val (sets, buckets) = Dedup.minhashStoreTables(curated)
      sets.write.mode("overwrite").parquet(setsDir)
      Dedup.guardBuckets(buckets, 64).write.mode("overwrite").parquet(bucketsDir)
    }

    // checks and quality, outside the chain's own work
    ctx.check(packedTokens == tokens,
      s"packing kept $packedTokens of $tokens tokens")
    ctx.check(keepIds.size == sizes.docs + corpus.nearPairs.length,
      s"exact dedup kept ${keepIds.size} documents")
    found = corpus.exactPairs.count { case (o, c) =>
      keepIds.contains(o) && !keepIds.contains(c) } +
      corpus.nearPairs.count(p => pairs.contains(p))
    planted = corpus.exactPairs.length + corpus.nearPairs.length
    verifiedPairs = pairs.size
    kept.clear()
    val keptIds = keepIds -- dropped
    corpus.docs.iterator.filter(d => keptIds.contains(d.doc_id))
      .foreach(d => kept(d.doc_id) = d)
    keptBase = kept.values.toIndexedSeq
    shardsDir = ctx.dir(s"shards-$rep")
  }

  override def warmup(ctx: Ctx): Unit = {
    probe(ctx, Gen.probe(ctx.args.seed, sizes, -1, kept.values.headOption))
  }

  /** Near duplicates of `docs` in the store: (new id, stored id). */
  private def nearDups(ctx: Ctx, docs: DataFrame): Array[(Long, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    Dedup.minhashLshIncrementalFromTables(spark.read.parquet(setsDir),
        spark.read.parquet(bucketsDir), docs)
      .select("new_id", "dup_of").as[(Long, Long)].collect()
  }

  private def probe(ctx: Ctx, d: CDoc): Set[Long] = {
    val spark = ctx.spark
    import spark.implicits._
    nearDups(ctx, Seq(d).toDF()).map(_._2).toSet
  }

  def iteration(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val (shard, plantedDups) = Gen.shard(seed, sizes, keptBase, i)
    digest.add(shard)
    val flagged = ctx.op("update.shard") {
      val docs = shard.toDF()
      val dups = nearDups(ctx, docs)
      val fresh = docs.filter(!col("doc_id").isin(dups.map(_._1).distinct.toSeq: _*))
        .localCheckpoint()
      encodeAndPack(ctx, features(ctx, fresh), shardsDir, "append")
      // the shard's survivors join the store, so later probes see them
      val (sets, buckets) = Dedup.minhashStoreTables(fresh)
      sets.write.mode("append").parquet(setsDir)
      buckets.write.mode("append").parquet(bucketsDir)
      dups
    } { dups =>
      val missed = plantedDups.filterNot(p => dups.contains(p))
      if (missed.nonEmpty) Some(s"shard $i: ${missed.length} planted near copies missed")
      else None
    }
    flagged.foreach { dups =>
      val flaggedIds = dups.map(_._1).toSet
      shard.filterNot(d => flaggedIds.contains(d.doc_id))
        .foreach(d => kept(d.doc_id) = d)
    }

    // reads: a near copy of a document this shard added, one of an older
    // kept document, and a fresh document that must match nothing
    val r = Gen.rng(seed, 11, i)
    val newest = shard.filter(d => kept.contains(d.doc_id))
    val older = kept.valuesIterator.drop(r.nextInt(math.max(1, kept.size - 1)))
      .take(1).toSeq
    val targets = Seq(newest.lift(r.nextInt(math.max(1, newest.length))),
      older.headOption, None)
    targets.zipWithIndex.foreach { case (t, j) =>
      val q = Gen.probe(seed, sizes, i * 3 + j, t)
      ctx.op("lookup.probe")(probe(ctx, q)) { hits =>
        t match {
          case Some(d) if !hits.contains(d.doc_id) =>
            Some(s"near copy of ${d.doc_id} not found")
          case None if hits.nonEmpty => Some(s"fresh probe matched $hits")
          case _ => None
        }
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val recall = if (planted == 0) 0.0 else found.toDouble / planted
    ctx.metric("answer_quality", recall, "ratio")
    ctx.metric("dedup_recall", recall, "ratio")
    ctx.metric("curation_docs_per_s",
      corpus.docs.length / ctx.metrics("build_s")._1, "docs/s")
    if (ctx.args.trace) {
      Seq("exact", "minhash", "features", "bpe", "pack").foreach { s =>
        // build-time stage cost: the build's spans are parents of these
        val build = ctx.tracer.spans.filter(_.name == "build").map(b => (b.start, b.end))
        val inBuild = ctx.tracer.spans.filter(sp => sp.name == s"cur.$s" &&
          build.exists { case (a, b) => sp.start >= a && sp.end <= b })
        ctx.metric(s"cur.${s}_s",
          if (inBuild.isEmpty) 0.0 else inBuild.map(_.durNs).sum / 1e9 / ctx.tracedOps("build"), "s")
      }
      // useful work over attempts: verified pairs per LSH candidate pair
      val candidatePairs = Dedup.minhashCandidates(
        Dedup.minhashSignatures(survivors), 16, 4).count()
      ctx.metric("dedup.candidate_precision",
        if (candidatePairs == 0) 0.0 else verifiedPairs.toDouble / candidatePairs, "ratio")
    }
  }

  def inputs: (Long, String) = (digest.bytes, digest.hex)
}
