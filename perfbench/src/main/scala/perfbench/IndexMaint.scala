package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.{FunctionCatalog, LambdaMapFunction}
import graft.model.{IndexDef, SinglePartition}
import graft.operators.{IndexBuilder, IndexScan, IndexStore}
import graft.streaming.StreamingIndex

/** The paper's core loop. A multi-emit map function builds and persists
  * a function-keyed index over lineitem; an expression-keyed index over
  * the same documents is back-filled into a [[StreamingIndex]] store, and
  * one long-running `maintain` stream applies seeded change batches while
  * the client reads its own writes back through [[IndexScan]].
  */
final class IndexMaint extends Workload {
  import IndexMaint._

  private val sizes = Gen.LiSizes(docs = 100000, parts = 10000,
    suppliers = 1000, batchSize = 1000)
  private var src = ""
  private var store = ""
  private var items: Array[LineItem] = Array.empty
  private var model: LiModel = _
  private var mem: MemoryStream[LiChange] = _
  private var query: StreamingQuery = _
  private val progress = new ProgressQueue
  private var nextBatchId = 0L
  private var buildDir = ""
  private val digest = new Digest
  // traced-iteration store observations
  private val batchStats = mutable.ArrayBuffer.empty[(StreamingQueryProgress, Int, Long, Long)]
  private var tracedHits = 0L
  private var reads = 0L
  private var readsRight = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    items = Gen.lineitems(ctx.args.seed, sizes)
    src = ctx.dir(s"lineitem-$rep")
    items.toSeq.toDF().write.mode("overwrite").parquet(src)
    store = ctx.dir(s"store-$rep")
    StreamingIndex.backfill(spark.read.parquet(src), ExprDef, store)
    if (rep == 0) digest.add(items.toSeq)
  }

  def build(ctx: Ctx, rep: Int): Unit = {
    val source = ctx.spark.read.parquet(src)
    val catalog = new FunctionCatalog
    ctx.span("build.register") {
      catalog.registerValidated(KeysFn, source).left.foreach(e =>
        throw new IllegalStateException(e))
      catalog.registerIndex(FnDef)
    }
    buildDir = ctx.dir(s"fn-index-$rep")
    ctx.span("build.write")(IndexStore.write(
      IndexBuilder.buildEntries(source, FnDef, catalog), buildDir, FnDef))
  }

  override def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    model = new LiModel(items)
    spark.streams.addListener(progress)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[LiChange]
    // the stream thread inherits the role, so its jobs count as updates
    query = OpCounters.within(spark.sparkContext,
      if (ctx.args.trace) "update" else "")(
      StreamingIndex.maintain(mem.toDF(), ExprDef, store,
        ctx.dir("checkpoint"), Trigger.ProcessingTime(0L)))
    (0 until WarmupBatches).foreach { k =>
      val b = Gen.changeBatch(ctx.args.seed, sizes, WarmupBatch + k)
      publish(b)
      model.apply(b)
      point(ctx, b.head.l_partkey)
    }
  }

  /** Publish a batch and block until the stream has committed it. */
  private def publish(batch: Array[LiChange]): StreamingQueryProgress = {
    mem.addData(batch.toSeq)
    val want = nextBatchId
    nextBatchId += 1
    var p: StreamingQueryProgress = null
    while (p == null) {
      val e = progress.queue.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      if (e == null) {
        query.exception.foreach(ex => throw ex)
        throw new IllegalStateException(s"batch $want not committed within 60 s")
      }
      if (e.batchId >= want && e.numInputRows > 0) p = e
    }
    p
  }

  private def point(ctx: Ctx, key: Long): Array[Long] = {
    val idx = ctx.span("scan.resolve")(
      StreamingIndex.currentIndex(ctx.spark, store, ExprDef))
    ctx.span("scan.exec")(IndexScan.point(idx, key).select("docid")
      .collect().map(_.getLong(0)).sorted)
  }

  def iteration(ctx: Ctx, i: Int): Unit = {
    val seed = ctx.args.seed
    val batch = Gen.changeBatch(seed, sizes, i)
    digest.add(batch.toSeq)
    val committed = ctx.op("update.freshness")(publish(batch))()
    model.apply(batch)
    if (ctx.tracer.on) committed.foreach(observe(ctx, _))

    // read-your-writes: keys this batch wrote
    val r = Gen.rng(seed, 10, i)
    val written = batch.filter(c => c.opcode == "MUTATION" &&
      c.l_quantity <= Gen.MaxIndexedQuantity)
    def writtenKey() =
      if (written.isEmpty) r.nextInt(sizes.parts).toLong
      else written(r.nextInt(written.length)).l_partkey
    (0 until 2).foreach { _ =>
      val k = writtenKey()
      ctx.op("lookup.point")(point(ctx, k)) { got =>
        if (ctx.tracer.on) tracedHits += got.length
        val want = model.docsOf(k)
        graded(got.sameElements(want),
          s"key $k: got ${got.length} docids, expected ${want.length}")
      }
    }
    val lo = writtenKey()
    val hi = lo + 20
    ctx.op("lookup2.range") {
      val idx = ctx.span("scan.resolve")(
        StreamingIndex.currentIndex(ctx.spark, store, ExprDef))
      ctx.span("scan.exec")(IndexScan.range(idx, Some(lo), Some(hi))
        .select("key", "docid").collect()
        .map(row => (row.getLong(0), row.getLong(1))).sorted)
    } { got =>
      val want = (lo until hi).flatMap(k => model.docsOf(k).map(d => (k, d)))
      graded(got.toSeq == want,
        s"range [$lo, $hi): got ${got.length}, expected ${want.length}")
    }
  }

  /** Count a read-your-writes answer; a wrong one fails its op. */
  private def graded(right: Boolean, why: => String): Option[String] = {
    reads += 1
    if (right) { readsRight += 1; None } else Some(why)
  }

  /** What one traced batch did to the store: its version directory's
    * manifest, bytes and rows (read after the commit, outside timing).
    */
  private def observe(ctx: Ctx, p: StreamingQueryProgress): Unit = {
    val vdir = Paths.get(store, s"v=${p.batchId}")
    val parts = Files.readAllLines(vdir.resolve("_parts")).asScala
      .count(_.trim.nonEmpty)
    val bytes = Files.walk(vdir).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val rows = ctx.spark.read.parquet(vdir.toString).count()
    batchStats += ((p, parts, bytes, rows))
  }

  def finish(ctx: Ctx): Unit = {
    query.stop()
    ctx.spark.streams.removeListener(progress)
    val rows = StreamingIndex.currentIndex(ctx.spark, store, ExprDef)
      .select("key", "docid").collect()
    val got = rows.iterator.map(r => (r.getLong(0), r.getLong(1)))
    ctx.check(rows.length == model.size,
      s"final index has ${rows.length} entries, model ${model.size}")
    ctx.check(LiModel.hash(got) == LiModel.hash(model.entries),
      "final index content differs from the model")
    // the share of read-your-writes lookups answered exactly
    ctx.metric("answer_quality",
      if (reads == 0) 0.0 else readsRight.toDouble / reads, "ratio")
    ctx.metric("range_p50_ms", Stats.median(ctx.ms("lookup2.range")), "ms")
    if (ctx.args.trace) layerMetrics(ctx)
  }

  private def layerMetrics(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val emitted = spark.read.parquet(buildDir).count()
    val bytes = Files.walk(Paths.get(buildDir)).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 30000)
    val b = ctx.counters.acc("build")
    val buildTaskS = b.taskNs.get / 1e9 / ctx.tracedOps("build")
    ctx.metric("build.emitted_rows", emitted.toDouble, "count")
    ctx.metric("build.rows_per_task_s",
      if (buildTaskS > 0) emitted / buildTaskS else 0.0, "rows/s")
    ctx.metric("build.bytes_written", bytes.toDouble, "bytes")

    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)
    val n = math.max(1, batchStats.length).toDouble
    ctx.metric("si.trigger_s", batchStats.map(s => dur(s._1, "triggerExecution")).sum / n, "s")
    ctx.metric("si.addbatch_s", batchStats.map(s => dur(s._1, "addBatch")).sum / n, "s")
    ctx.metric("si.standup_s", batchStats.map(s =>
      dur(s._1, "triggerExecution") - dur(s._1, "addBatch")).sum / n, "s")
    ctx.metric("si.parts_touched", batchStats.map(_._2).sum / n, "count")
    ctx.metric("si.rows_rewritten_per_change",
      batchStats.map(_._4).sum / n / sizes.batchSize, "rows")
    ctx.metric("si.bytes_written_per_change",
      batchStats.map(_._3).sum / n / sizes.batchSize, "bytes")
    ctx.metric("si.live_versions", Files.list(Paths.get(store)).iterator.asScala
      .count(p => p.getFileName.toString.startsWith("v=") &&
        Files.exists(p.resolve("_parts"))).toDouble, "count")

    val lk = ctx.counters.acc("lookup")
    val lookups = math.max(1L, ctx.tracedOps("lookup")).toDouble
    ctx.metric("scan.resolve_ms", ctx.spanMs("scan.resolve"), "ms")
    ctx.metric("scan.exec_ms", ctx.spanMs("scan.exec"), "ms")
    ctx.metric("scan.records_read_per_hit",
      lk.inputRecords.get.toDouble / math.max(1L, tracedHits), "count")
    ctx.metric("scan.bytes_read_per_lookup", lk.inputBytes.get / lookups, "bytes")
  }

  def inputs: (Long, String) = (digest.bytes, digest.hex)
}

object IndexMaint {
  /** Generator index of the warm-up batches, far from the loop's. */
  val WarmupBatch = 1000000
  val WarmupBatches = 4

  /** The maintained expression-keyed index: lineitems by part, for
    * quantities within the WHERE set.
    */
  val ExprDef: IndexDef = IndexDef("li_by_part", "lineitem", "docid",
    secExprs = Seq("l_partkey"),
    whereExpr = Some(s"l_quantity <= ${Gen.MaxIndexedQuantity}"))

  /** The multi-emit map function (the `OnMap`/`emit` analog): every
    * lineitem emits its part and its supplier, and promoted lineitems
    * (discount of 8% or more) also emit their ship date.
    */
  val KeysFn: LambdaMapFunction = LambdaMapFunction("li_keys",
    StructType(Seq(StructField("kind", StringType), StructField("id", LongType))),
    (row: Row) => {
      val base = Iterator(Row("part", row.getAs[Long]("l_partkey")),
        Row("supp", row.getAs[Long]("l_suppkey")))
      if (row.getAs[Double]("l_discount") >= 0.08)
        base ++ Iterator(Row("promo", row.getAs[Int]("l_shipdate").toLong))
      else base
    })

  val FnDef: IndexDef = IndexDef("li_by_fn", "lineitem", "docid",
    funcName = Some("li_keys"), partition = SinglePartition)
}

/** The client's model of the maintained index: each live document's
  * (part, quantity), and the docids indexed under each part.
  */
final class LiModel(init: Array[LineItem]) {
  private val doc = mutable.HashMap.empty[Long, (Long, Double)]
  private val byKey = mutable.HashMap.empty[Long, mutable.Set[Long]]
  private var entryCount = 0
  init.foreach(li => put(li.docid, li.l_partkey, li.l_quantity))

  private def indexed(q: Double) = q <= Gen.MaxIndexedQuantity

  private def remove(docid: Long): Unit = doc.remove(docid).foreach {
    case (p, q) => if (indexed(q)) { byKey(p) -= docid; entryCount -= 1 }
  }

  private def put(docid: Long, part: Long, qty: Double): Unit = {
    remove(docid)
    doc(docid) = (part, qty)
    if (indexed(qty)) {
      byKey.getOrElseUpdate(part, mutable.Set.empty) += docid
      entryCount += 1
    }
  }

  /** Replay a batch in seqno order: last writer wins per docid. */
  def apply(batch: Array[LiChange]): Unit = batch.sortBy(_.seqno).foreach { c =>
    if (c.opcode == "MUTATION") put(c.docid, c.l_partkey, c.l_quantity)
    else remove(c.docid)
  }

  def docsOf(key: Long): Array[Long] =
    byKey.get(key).map(_.toArray.sorted).getOrElse(Array.empty)

  def size: Int = entryCount

  def entries: Iterator[(Long, Long)] =
    byKey.iterator.flatMap { case (k, ds) => ds.iterator.map(d => (k, d)) }
}

object LiModel {
  /** Order-independent hash of (key, docid) entries. */
  def hash(es: Iterator[(Long, Long)]): Long = es.foldLeft(0L) {
    case (acc, (k, d)) =>
      var z = k * 0x9E3779B97F4A7C15L + d
      z = (z ^ (z >>> 31)) * 0xBF58476D1CE4E5B9L
      acc + (z ^ (z >>> 29))
  }
}

/** Streaming progress events, queued for a client waiting on a commit. */
final class ProgressQueue extends StreamingQueryListener {
  val queue = new java.util.concurrent.LinkedBlockingQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    queue.put(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
