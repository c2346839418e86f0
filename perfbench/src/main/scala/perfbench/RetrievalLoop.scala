package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{AnnIndex, Retrieval}

/** One row of a mixed ANN mutation feed (embedding null on deletions). */
final case class AnnFeed(opcode: String, vec_id: Long, embedding: Array[Float])

/** ANN and BM25 retrieval over one corpus whose documents keep changing.
  * The client sends single queries (an ANN probe and a hybrid
  * BM25+ANN search) and, each iteration, one mixed mutation batch that
  * both indexes apply. Every op here is 10-25 small Spark jobs, so the
  * per-job control plane carries a large share of each op's latency.
  */
final class RetrievalLoop extends Workload {
  private val sizes = Gen.RSizes(docs = 20000, dim = 64, clusters = 64,
    upserts = 200, deletes = 50)
  private val K = 10
  private val NProbe = 4
  private val QueriesPerBatch = 2
  private val RecallQueries = 64
  /** Generator index of the held-out recall queries, far from the loop's. */
  private val HeldOut = 1000000
  private var base: Array[RDoc] = Array.empty
  private val live = mutable.HashMap.empty[Long, RDoc]
  private var vecPath = ""
  private var docPath = ""
  private var annDir = ""
  private var bm25Dir = ""
  private var corpusDf: DataFrame = _
  private val digest = new Digest
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var nextQ = 0L
  private val hybridOverheadMs = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    base = Gen.corpus(ctx.args.seed, sizes)
    vecPath = ctx.dir(s"vectors-$rep")
    docPath = ctx.dir(s"docs-$rep")
    base.toSeq.map(d => (d.id, d.vec)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(vecPath)
    base.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docPath)
    if (rep == 0) digest.add(base.toSeq)
  }

  def build(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    annDir = ctx.dir(s"ann-$rep")
    bm25Dir = ctx.dir(s"bm25-$rep")
    ctx.span("ann.build")(AnnIndex.build(spark.read.parquet(vecPath), annDir,
      nCentroids = sizes.clusters))
    ctx.span("bm25.build")(Retrieval.buildBm25Index(
      spark.read.parquet(docPath), bm25Dir))
  }

  override def warmup(ctx: Ctx): Unit = {
    live.clear()
    base.foreach(d => live(d.id) = d)
    refreshCorpus(ctx)
    val (v, terms) = Gen.query(ctx.args.seed, sizes, base, -1)
    ann(ctx, queryFrame(ctx, -1L, v))
    hybrid(ctx, terms, queryFrame(ctx, -1L, v))
  }

  /** The re-rank corpus the client hands to every probe: a parquet
    * snapshot of the live documents' true vectors, rewritten after each
    * mutation batch (outside timing).
    */
  private def refreshCorpus(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    snapshots += 1
    val path = ctx.dir(s"corpus-snapshot-${snapshots % 2}")
    live.valuesIterator.map(d => (d.id, d.vec)).toSeq
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    corpusDf = spark.read.parquet(path)
  }
  private var snapshots = 0

  private def queryFrame(ctx: Ctx, qid: Long, v: Array[Float]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Seq((qid, v)).toDF("q_id", "q_vec")
  }

  private def ann(ctx: Ctx, q: DataFrame): Array[Long] = {
    val routed = ctx.span("ann.route")(
      AnnIndex.routeQueries(ctx.spark, annDir, q, NProbe))
    ctx.span("ann.score")(AnnIndex.probeRouted(ctx.spark, annDir, routed,
      corpusDf, K).select("neighbor_id").collect().map(_.getLong(0)))
  }

  private def hybrid(ctx: Ctx, terms: Seq[String], q: DataFrame): Array[Long] =
    Retrieval.hybridSearch(ctx.spark, bm25Dir, annDir, terms, q, corpusDf, K,
      nprobe = NProbe).select("doc_id").collect().map(_.getLong(0))

  private def allLive(ids: Array[Long]): Option[String] =
    ids.find(id => !live.contains(id)).map(id => s"returned non-live id $id")

  def iteration(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val m = Gen.mutation(seed, sizes, i)
    digest.add(m)
    val feed = (m.upserts.map(d => AnnFeed("MUTATION", d.id, d.vec)) ++
      m.deletes.map(id => AnnFeed("DELETION", id, null))).toDF()
    val upDocs = m.upserts.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val delIds = m.deletes.toDF("doc_id")
    ctx.op("update.mutation") {
      ctx.span("ann.apply")(AnnIndex.applyMutations(feed, annDir, i + 1L))
      ctx.span("bm25.ingest")(Retrieval.ingestBm25(upDocs, bm25Dir, 2L * i + 1))
      ctx.span("bm25.delete")(Retrieval.deleteBm25(delIds, bm25Dir, 2L * i + 2))
    }()
    m.upserts.foreach(d => live(d.id) = d)
    m.deletes.foreach(live.remove)
    refreshCorpus(ctx)

    (0 until QueriesPerBatch).foreach { j =>
      // the first query of a batch targets a document the batch upserted;
      // every other batch it also runs as a hybrid search
      val pool = if (j == 0) m.upserts.toArray else base
      val (v, terms) = Gen.query(seed, sizes, pool, i * QueriesPerBatch + j)
      val qid = -1L - nextQ
      nextQ += 1
      val q = queryFrame(ctx, qid, v)
      val t0 = System.nanoTime()
      ctx.op("lookup.ann")(ann(ctx, q)) { ids =>
        if (ids.length != K) Some(s"${ids.length} neighbours, expected $K")
        else allLive(ids)
      }.foreach(ids => recalls += recallAt(v, ids))
      if (j == 0 && i % 2 == 0) {
        val t1 = System.nanoTime()
        ctx.op("lookup2.hybrid")(hybrid(ctx, terms, q)) { ids =>
          if (ids.isEmpty || ids.length > K) Some(s"${ids.length} results")
          else allLive(ids)
        }
        val t2 = System.nanoTime()
        if (ctx.tracer.on) {
          ctx.span("bm25.topk")(Retrieval.bm25TopKFromIndex(
            spark, bm25Dir, terms, 20).collect())
          // what fusing costs beyond its two legs, on the same query
          hybridOverheadMs += ((t2 - t1) - (System.nanoTime() - t2) - (t1 - t0)) / 1e6
        }
      }
    }
  }

  /** Recall@K of an answer against the exact cosine top-K over the live
    * corpus: the arithmetic of `Similarity.bruteForceTopK`, run by the
    * client over its own copy of the documents (outside timing).
    */
  private def recallAt(q: Array[Float], got: Array[Long]): Double = {
    def dot(a: Array[Float], b: Array[Float]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val qn = math.sqrt(dot(q, q))
    // the K best by (similarity desc, id asc), in a bounded heap whose
    // head is the worst one kept
    val worse: Ordering[(Double, Long)] = Ordering.by { case (sim, id) => (-sim, id) }
    val best = mutable.PriorityQueue.empty[(Double, Long)](worse)
    live.valuesIterator.foreach { d =>
      val c = (dot(d.vec, q) / (math.sqrt(dot(d.vec, d.vec)) * qn), d.id)
      if (best.size < K) best.enqueue(c)
      else if (worse.lt(c, best.head)) { best.dequeue(); best.enqueue(c) }
    }
    (got.toSet & best.iterator.map(_._2).toSet).size.toDouble / K
  }

  /** Recall of one batch probe of [[RecallQueries]] held-out queries
    * over the final corpus: the same probe path as the loop's single
    * queries, so the loop's few answers are not the only quality sample.
    */
  private def batchRecall(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val qs = (0 until RecallQueries).map { j =>
      val (v, _) = Gen.query(ctx.args.seed, sizes, base, HeldOut + j)
      (-1000000L - j, v)
    }
    val routed = AnnIndex.routeQueries(spark, annDir, qs.toDF("q_id", "q_vec"), NProbe)
    val got = AnnIndex.probeRouted(spark, annDir, routed, corpusDf, K)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
    qs.foreach { case (q, v) => recalls += recallAt(v, got.getOrElse(q, Array.empty)) }
  }

  def finish(ctx: Ctx): Unit = {
    batchRecall(ctx)
    ctx.check(recalls.nonEmpty, "no query answered")
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    ctx.metric("answer_quality", recall, "ratio")
    ctx.metric("recall_at_10", recall, "ratio")
    val annMs = ctx.ms("lookup.ann")
    ctx.metric("ann_query_p50_ms", Stats.median(annMs), "ms")
    ctx.metric("ann_query_tail_ms", Stats.tail(annMs)._2, "ms")
    ctx.metric("hybrid_query_p50_ms", Stats.median(ctx.ms("lookup2.hybrid")), "ms")
    ctx.metric("mutation_p50_s", Stats.median(ctx.ms("update.mutation")) / 1000, "s")
    if (ctx.args.trace) {
      val spark = ctx.spark
      val v = AnnIndex.latestVersion(annDir).get
      ctx.metric("ann.committed_batches",
        AnnIndex.committedBatches(annDir, v).length.toDouble, "count")
      val t0 = System.nanoTime()
      AnnIndex.compact(spark, annDir, v)
      ctx.metric("ann.compact_s", (System.nanoTime() - t0) / 1e9, "s")
      ctx.metric("ann.route_ms", ctx.spanMs("ann.route"), "ms")
      ctx.metric("ann.score_ms", ctx.spanMs("ann.score"), "ms")
      ctx.metric("ann.jobs_per_query", ctx.counters.acc("lookup").jobs.get /
        math.max(1L, ctx.tracedOps("lookup")).toDouble, "count")
      ctx.metric("ann.apply_s", ctx.spanMs("ann.apply") / 1000, "s")
      ctx.metric("ann.build_s", ctx.spanMs("ann.build") / 1000, "s")
      ctx.metric("bm25.build_s", ctx.spanMs("bm25.build") / 1000, "s")
      ctx.metric("bm25.ingest_s", ctx.spanMs("bm25.ingest") / 1000, "s")
      ctx.metric("bm25.delete_s", ctx.spanMs("bm25.delete") / 1000, "s")
      ctx.metric("bm25.topk_ms", ctx.spanMs("bm25.topk"), "ms")
      ctx.metric("hybrid.overhead_ms",
        if (hybridOverheadMs.isEmpty) 0.0 else Stats.median(hybridOverheadMs.toSeq), "ms")
    }
  }

  def inputs: (Long, String) = (digest.bytes, digest.hex)
}
