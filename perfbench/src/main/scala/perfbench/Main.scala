package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, GraftSession}

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, workDir: Path, out: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work-dir")),
      Paths.get(need("--out")))
  }
}

/** A workload: its set-up (input generation and the initial stores,
  * repeated so set-up time is a median), its build (repeated likewise),
  * a closed loop of one client for the measured seconds, and the checks
  * and metrics at the end.
  */
trait Workload {
  /** Generate inputs and back-fill the stores the loop starts from. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** One build of the workload's persisted structure. */
  def build(ctx: Ctx, rep: Int): Unit
  /** One-off work before the loop (stream start, warm-up ops); its time
    * counts as set-up.
    */
  def warmup(ctx: Ctx): Unit = ()
  /** One closed-loop iteration: a write, then reads of what it wrote. */
  def iteration(ctx: Ctx, i: Int): Unit
  /** End-of-run checks and workload metrics into `ctx`. */
  def finish(ctx: Ctx): Unit
  /** Input volume and digest recorded in the run's output. */
  def inputs: (Long, String)
}

/** Shared state of one run: session, tracer, counters, samples, checks. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
                val counters: OpCounters) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per timed op name: latencies (ms) of traced and of untraced iterations. */
  val split = mutable.LinkedHashMap.empty[String,
    (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val tracedOps = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var attempted = 0L
  var failed = 0L

  def dir(name: String): String = args.workDir.resolve(name).toString

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  /** A correctness check that is not part of a timed op. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** One timed operation, recorded under `name` (ms); the name's prefix
    * is its role (build, update, lookup, lookup2). The op
    * fails when it throws or when `verify` rejects its result; either
    * way it counts as attempted. Returns the result when it succeeded.
    */
  def op[T](name: String)(body: => T)
           (verify: T => Option[String] = (_: T) => None): Option[T] = {
    val role = Main.roleOf(name)
    attempted += 1
    val req = tracer.newRequest()
    val traced = tracer.on
    val t0 = System.nanoTime()
    val res =
      try Right(
        if (traced) OpCounters.within(spark.sparkContext, role)(
          tracer.span(name, req)(body))
        else body)
      catch { case e: Exception => Left(e) }
    val ns = System.nanoTime() - t0
    sample(name, ns / 1e6)
    val (tr, un) = split.getOrElseUpdate(name,
      (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
    (if (traced) tr else un) += ns / 1e6
    if (traced) tracedOps(role) += 1
    res match {
      case Left(e) =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        None
      case Right(v) => verify(v) match {
        case Some(why) =>
          failed += 1
          System.err.println(s"[perfbench] $name wrong: $why")
          None
        case None => Some(v)
      }
    }
  }

  /** Span for a call inside an op (no-op when the iteration is untraced). */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Latency samples (ms) of op `name`. */
  def ms(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Per-op self/duration of traced spans, ms per call. */
  def spanMs(name: String): Double = {
    val d = tracer.durationsMs(name)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "index_maint" -> (() => new IndexMaint),
    "retrieval" -> (() => new RetrievalLoop),
    "curation" -> (() => new Curation))

  val SetupReps = 3
  /** Timed builds follow one untimed build that warms the build path:
    * at least [[MinBuildReps]], and more while less than [[BuildBudgetS]]
    * has been spent, so a short build repeats until the JIT has settled.
    * The build time reported is their minimum (as `graft.Bench` reports
    * min-of-3): the JIT is still warming across the first few.
    */
  val MinBuildReps = 3
  val MaxBuildReps = 10
  val BuildBudgetS = 6.0

  /** A full collection between set-up and build steps, so garbage one
    * step leaves is not collected inside the next (outside timing).
    */
  private def settle(): Unit = System.gc()

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val w = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))()
    Files.createDirectories(args.workDir)
    val calibBefore = Seq.fill(3)(Host.calibMs())
    val loadBefore = Host.loadavg()

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val tmp = args.workDir.resolve("spark-tmp").toString
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", args.workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        args.workDir.resolve("checkpoints").toString)
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new OpCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(args.trace)
    val ctx = new Ctx(spark, args, tracer, counters)
    // warm-up: JIT, codegen and the scheduler before anything is timed
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val setupS = (0 until SetupReps).map { rep =>
        settle()
        val s = System.nanoTime(); w.setup(ctx, rep); (System.nanoTime() - s) / 1e9
      }
      def buildOnce(rep: Int): Double = {
        settle()
        tracer.on = args.trace && rep > 0
        val s = System.nanoTime()
        OpCounters.within(spark.sparkContext, if (tracer.on) "build" else "")(
          tracer.span("build")(w.build(ctx, rep)))
        (System.nanoTime() - s) / 1e9
      }
      val warmBuildS = buildOnce(0)
      val buildS = mutable.ArrayBuffer.empty[Double]
      while (buildS.length < MinBuildReps ||
          (buildS.sum < BuildBudgetS && buildS.length < MaxBuildReps))
        buildS += buildOnce(buildS.length + 1)
      if (args.trace) ctx.tracedOps("build") += buildS.length
      ctx.metric("build_s", buildS.min, "s")
      val p0 = System.nanoTime()
      tracer.on = false
      w.warmup(ctx)
      val warmupS = (System.nanoTime() - p0) / 1e9
      ctx.metric("setup_s", sessionS + Stats.median(setupS) + warmupS, "s")

      val emptyJob = if (args.trace) Host.emptyJobMs(spark) else 0.0
      val deadline = System.nanoTime() + args.seconds * 1000000000L
      val loopStart = System.nanoTime()
      var i = 0
      while (System.nanoTime() < deadline) {
        // traced runs alternate traced and untraced iterations, so the
        // tracing overhead is measured within the same run
        tracer.on = args.trace && i % 2 == 0
        w.iteration(ctx, i)
        i += 1
      }
      tracer.on = args.trace
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val f0 = System.nanoTime()
      w.finish(ctx)
      endToEnd(ctx)
      val calibAfter = Seq.fill(3)(Host.calibMs())
      ctx.metric("host.calib_ms", Stats.median(calibBefore ++ calibAfter), "ms")
      ctx.metric("host.loadavg", (loadBefore + Host.loadavg()) / 2, "load")
      if (args.trace)
        traceMetrics(ctx, emptyJob)
      val finishS = (System.nanoTime() - f0) / 1e9

      val detail = Map(
        "workload" -> args.workload, "seed" -> args.seed,
        "trace" -> args.trace, "iterations" -> i, "loop_s" -> loopS,
        "cores" -> ctx.cores,
        "input_bytes" -> w.inputs._1, "input_sha256" -> w.inputs._2,
        "session_s" -> sessionS, "setup_reps_s" -> setupS,
        "warmup_s" -> warmupS, "build_reps_s" -> (warmBuildS +: buildS.toSeq),
        "finish_s" -> finishS,
        "host_calib_before_ms" -> calibBefore, "host_calib_after_ms" ->
          calibAfter, "host_loadavg_before" -> loadBefore,
        "samples" -> ctx.samples.map { case (k, v) => k -> v.length })
      val result = Map(
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> ctx.metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) },
        "detail" -> detail)
      Files.writeString(args.out, Json(result))
      if (args.trace)
        Files.writeString(args.workDir.resolve("spans.json"), tracer.toJson)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  /** The role metrics every workload reports: its write (`update.*`) and
    * its primary read (`lookup.*`) op, as a median and a tail.
    */
  private def endToEnd(ctx: Ctx): Unit = {
    def of(role: String) = ctx.samples.collect {
      case (name, v) if roleOf(name) == role => v.toSeq
    }.flatten.toSeq
    val upd = of("update")
    val look = of("lookup")
    ctx.check(upd.nonEmpty && look.nonEmpty, "no update or lookup completed")
    if (upd.nonEmpty) {
      ctx.metric("freshness_p50_s", Stats.median(upd) / 1000, "s")
      val (p, v) = Stats.tail(upd)
      ctx.metric("freshness_tail_s", v / 1000, "s")
      ctx.metric("freshness_tail_pct", p, "%")
      ctx.metric("freshness_n", upd.length.toDouble, "count")
    }
    if (look.nonEmpty) {
      ctx.metric("lookup_p50_ms", Stats.median(look), "ms")
      val (p, v) = Stats.tail(look)
      ctx.metric("lookup_tail_ms", v, "ms")
      ctx.metric("lookup_tail_pct", p, "%")
      ctx.metric("lookup_n", look.length.toDouble, "count")
    }
    ctx.metric("error_rate",
      if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted, "ratio")
  }

  /** Per-layer numbers that every workload shares: control-plane
    * counters per op role, the driver-residual split, span self times,
    * and the tracing overhead.
    */
  private def traceMetrics(ctx: Ctx, emptyJobMs: Double): Unit = {
    org.apache.spark.sql.GraftBridge.drainListenerBus(ctx.spark.sparkContext, 30000)
    var jobs = 0L; var taskNs = 0L; var spill = 0L; var failures = 0L
    Seq("build", "update", "lookup", "lookup2").foreach { role =>
      val a = ctx.counters.acc(role)
      val n = math.max(1L, ctx.tracedOps(role)).toDouble
      ctx.metric(s"spark.$role.jobs_per_op", a.jobs.get / n, "count")
      ctx.metric(s"spark.$role.stages_per_op", a.stages.get / n, "count")
      ctx.metric(s"spark.$role.tasks_per_op", a.tasks.get / n, "count")
      ctx.metric(s"spark.$role.task_s_per_op", a.taskNs.get / 1e9 / n, "s")
      ctx.metric(s"spark.$role.shuffle_bytes_per_op", a.shuffleBytes.get / n, "bytes")
      ctx.metric(s"spark.$role.result_bytes_per_op", a.resultBytes.get / n, "bytes")
      if (role != "build" && role != "update") {
        jobs += a.jobs.get; taskNs += a.taskNs.get
      }
      spill += a.spillBytes.get; failures += a.failures.get
    }
    // the read ops run on the client thread alone, so their wall time
    // splits into per-job fixed cost, task time over the cores, and the
    // driver-side rest
    val readOps = ctx.tracedOps("lookup") + ctx.tracedOps("lookup2")
    val readWallMs = Seq("lookup", "lookup2").flatMap(r =>
      ctx.split.collect { case (name, (tr, _)) if roleOf(name) == r => tr.sum })
      .sum
    ctx.metric("spark.empty_job_ms", emptyJobMs, "ms")
    ctx.metric("spark.driver_residual_ms",
      if (readOps == 0) 0.0
      else (readWallMs - jobs * emptyJobMs - taskNs / 1e6 / ctx.cores) / readOps, "ms")
    ctx.metric("spark.cpu_util",
      if (readWallMs <= 0) 0.0 else taskNs / 1e6 / (readWallMs * ctx.cores), "ratio")
    ctx.metric("spark.spill_bytes", spill.toDouble, "bytes")
    ctx.metric("spark.task_failures", failures.toDouble, "count")

    val summary = ctx.tracer.summary
    SpanNames.foreach { name =>
      val (n, _, selfNs) = summary.getOrElse(name, (0, 0L, 0L))
      ctx.metric(s"self.$name", if (n == 0) 0.0 else selfNs / 1e6 / n, "ms")
    }
    ctx.metric("trace.spans", ctx.tracer.spans.length.toDouble, "count")
    // overhead: traced minus untraced median of the workload's lookup op
    val (tr, un) = ctx.split.collectFirst {
      case (name, v) if roleOf(name) == "lookup" => v
    }.getOrElse((mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double]))
    val overhead =
      if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr.toSeq) - Stats.median(un.toSeq)
    ctx.metric("trace.overhead_ms", overhead, "ms")
    ctx.metric("trace.overhead_pct",
      if (un.isEmpty) 0.0 else 100 * overhead / Stats.median(un.toSeq), "%")
  }

  /** Role of each timed op name (the prefix before the first dot). */
  def roleOf(opName: String): String = opName.takeWhile(_ != '.')

  /** Every span the workloads record; each gets a self-time metric. */
  val SpanNames: Seq[String] = Seq(
    "build", "update.freshness", "lookup.point", "lookup2.range",
    "scan.resolve", "scan.exec", "build.register", "build.write",
    "lookup.ann", "ann.route", "ann.score", "lookup2.hybrid", "bm25.topk",
    "update.mutation", "ann.apply", "bm25.ingest", "bm25.delete",
    "ann.build", "bm25.build", "cur.exact", "cur.minhash", "cur.features",
    "cur.bpe", "cur.pack", "cur.store", "update.shard", "lookup.probe")
}
