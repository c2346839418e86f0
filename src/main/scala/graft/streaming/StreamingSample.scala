package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Sampling

/** Streaming RESERVOIR sampling — a fixed-size weighted sample of an
  * unbounded stream, the training-data shape "keep n docs drawn ∝
  * token count from a crawl that never ends". It is
  * [[graft.operators.Sampling.weighted]]'s Efraimidis–Spirakis race
  * run INCREMENTALLY: every micro-batch folds
  *
  *   sample(b) = top-n by priority of (sample(b−1) ∪ batch b)
  *
  * and persists the fold as the batch's own idempotent `b=<id>`
  * parquet directory (the per-batch-directory pattern every store
  * maintainer in this repo uses: a retried batch re-reads its
  * PREDECESSOR's committed state and wholesale-overwrites its own
  * directory, so at-least-once delivery composes to exactly-once).
  *
  * Because the race's priority is a PURE FUNCTION of the key (a
  * md5-derived 52-bit uniform — no RNG state, reference
  * Efraimidis–Spirakis A-Res with deterministic uniforms), the fold is
  * associative, order-independent and batching-independent: after ANY
  * prefix of the stream, the persisted sample EQUALS the one-shot
  * [[graft.operators.Sampling.weighted]] over every row seen so far —
  * the invariant `sample_streaming`'s oracle replays row-level and
  * [[graft.SamplingSpec]] pins per prefix and under retry.
  *
  * Scale shape: state and per-batch write volume are ∝ n
  * (control-plane — the reservoir itself), never ∝ the stream; each
  * fold's TakeOrdered heap sees batch + n rows. Keys must be unique
  * across the stream (the [[graft.operators.Sampling.weighted]]
  * determinism contract); an exact re-delivery of a row is folded out
  * by the key-level dropDuplicates (same key ⇒ same priority ⇒ same
  * slot either way).
  */
object StreamingSample {

  /** Committed sample states under `stateDir`, ascending batch id —
    * the ONE shared committed-batch visibility rule
    * ([[graft.functions.VersionedSlots.committedBatches]]), not a
    * private re-implementation that could drift from it.
    */
  def committedStates(stateDir: String): Seq[Long] =
    graft.functions.VersionedSlots.committedBatches(stateDir)

  /** The newest committed sample (with the [[Sampling.weighted]] `rk`
    * selection-order column), or None if no batch has landed.
    */
  def currentSample(spark: SparkSession, stateDir: String)
      : Option[DataFrame] =
    committedStates(stateDir).lastOption
      .map(b => spark.read.parquet(s"$stateDir/b=$b"))

  /** Delete superseded sample states, keeping the newest `keepLast` —
    * the reservoir's reclaim step (every store maintainer in this repo
    * has one; without it the "crawl that never ends" accumulates one
    * n-row directory per micro-batch forever). `keepLast >= 2` keeps a
    * retried batch's PREDECESSOR on disk — a retry of batch b reads the
    * newest committed state < b, which is always within the last two.
    */
  def pruneStates(stateDir: String, keepLast: Int = 3): Seq[Long] = {
    require(keepLast >= 2, "keepLast must be >= 2 (retry reads the predecessor)")
    val doomed = committedStates(stateDir).dropRight(keepLast)
    doomed.foreach { b =>
      val root = java.nio.file.Paths.get(stateDir, s"b=$b")
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    doomed
  }

  /** One micro-batch of the reservoir fold — factored out so the
    * retry-idempotence and prefix-equivalence contracts are directly
    * testable: the fold reads only committed states with id < `batchId`
    * (a retry's own partial/stale directory is never its input) and
    * overwrites `b=<batchId>`, then prunes superseded states.
    */
  private[graft] def foldBatch(spark: SparkSession, stateDir: String,
                               batch: DataFrame, batchId: Long, n: Int,
                               weightCol: String, keyCol: String): Unit = {
    val committed = committedStates(stateDir)
    // a state id ABOVE the current batch means the checkpoint was reset
    // over a used stateDir (batch ids restarted at 0): folding would
    // write b=0, pruneStates would keep the numerically-largest stale
    // states and delete the fresh one — the store would serve the old
    // run's sample forever, silently. Reject by name. (A RETRY of this
    // very batch is fine: its own id is the maximum.)
    require(committed.forall(_ <= batchId),
      s"stateDir $stateDir carries committed states ${committed.filter(_ > batchId)} " +
        s"above batch $batchId — the checkpoint was reset over a used " +
        "state store; point the reservoir at a fresh stateDir")
    val prev = committed.filter(_ < batchId).lastOption
      .map(b => spark.read.parquet(s"$stateDir/b=$b").drop("rk"))
    val union = prev.fold(batch)(p => batch.unionByName(p))
      .dropDuplicates(keyCol)
    Sampling.weighted(union, n, weightCol, keyCol)
      .write.mode("overwrite").parquet(s"$stateDir/b=$batchId")
    pruneStates(stateDir)
  }

  /** The streaming entry point: wire `stream` (rows carrying `keyCol`,
    * `weightCol` and any payload columns) into the per-batch fold.
    * Read the sample back with [[currentSample]].
    */
  def reservoir(spark: SparkSession, stream: DataFrame, stateDir: String,
                n: Int, weightCol: String, keyCol: String)
      : DataStreamWriter[Row] = {
    require(n >= 1, "n must be >= 1")
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      foldBatch(spark, stateDir, batch, batchId, n, weightCol, keyCol)
    }
  }
}
