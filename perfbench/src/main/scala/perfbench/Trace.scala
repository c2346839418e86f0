package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: name, start, end (ns), the span that
  * caused it (0 = none) and the request it serves.
  */
final case class Span(id: Int, parent: Int, name: String, req: Long,
                      start: Long, end: Long) {
  def durNs: Long = end - start
}

/** Spans recorded around the benchmark's calls into the engine. Spans
  * stay in memory and are written out when the run ends; when tracing is
  * off a span is just the call. Used from the client thread only.
  */
final class Tracer(enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Long)] // (span id, request id)
  private var nextId = 1
  private var nextReq = 1L

  /** Whether the current iteration is traced (traced runs alternate). */
  var on: Boolean = enabled

  def newRequest(): Long = { nextReq += 1; nextReq - 1 }

  /** Time `body` as span `name`; `req` < 0 inherits the parent's request. */
  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val (parent, parentReq) = open.headOption.getOrElse((0, -1L))
      val r = if (req >= 0) req else parentReq
      open ::= ((id, r))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        done += Span(id, parent, name, r, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Per span name: (count, summed duration ns, summed self time ns). */
  def summary: Map[String, (Int, Long, Long)] = {
    val children = done.groupBy(_.parent)
    done.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        Stats.selfTime(s.start, s.end,
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      }.sum
      name -> ((ss.length, ss.map(_.durNs).sum, self))
    }
  }

  /** Durations (ms) of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    done.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  def toJson: String = Json(done.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }.toSeq)
}

/** Scheduler counters per operation role, from a benchmark-side
  * listener. A job belongs to the role named by the `perfbench.op` local
  * property at submission; jobs without one (warm-up, correctness
  * checks, untraced iterations) are not counted. Stream micro-batch jobs
  * carry the property the stream thread inherited when it started.
  */
final class OpCounters extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskNs = new AtomicLong
    val shuffleBytes = new AtomicLong; val resultBytes = new AtomicLong
    val spillBytes = new AtomicLong; val failures = new AtomicLong
    val inputRecords = new AtomicLong; val inputBytes = new AtomicLong
  }
  private val byRole = new ConcurrentHashMap[String, Acc]()
  private val stageRole = new ConcurrentHashMap[Int, String]()

  def acc(role: String): Acc = byRole.computeIfAbsent(role, _ => new Acc)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty(OpCounters.RoleKey)))
      .filter(_.nonEmpty).foreach { role =>
        acc(role).jobs.incrementAndGet()
        j.stageIds.foreach(s => stageRole.put(s, role))
      }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageRole.get(s.stageInfo.stageId))
      .foreach(r => acc(r).stages.incrementAndGet())

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageRole.get(t.stageId)).foreach { role =>
      val a = acc(role)
      a.tasks.incrementAndGet()
      if (t.taskInfo != null) a.taskNs.addAndGet(t.taskInfo.duration * 1000000L)
      if (t.reason != Success) a.failures.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.resultBytes.addAndGet(m.resultSize)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
}

object OpCounters {
  val RoleKey = "perfbench.op"

  /** Run `body` with the role set on the calling thread's Spark local
    * properties (threads the engine starts inherit them).
    */
  def within[T](sc: SparkContext, role: String)(body: => T): T = {
    val prev = sc.getLocalProperty(RoleKey)
    sc.setLocalProperty(RoleKey, role)
    try body finally sc.setLocalProperty(RoleKey, prev)
  }
}

/** Host-noise record: a fixed pure-JVM CPU loop (no Spark) and the load
  * average, taken before and after a run so a contended window shows in
  * the run's own output.
  */
object Host {
  private var sink = 0L

  /** Wall ms of a fixed integer-mixing loop over a 1 MiB array. */
  def calibMs(): Double = {
    val a = Array.tabulate(1 << 18)(i => i * 0x9E3779B9L)
    val t0 = System.nanoTime()
    var acc = 0L
    var round = 0
    while (round < 40) {
      var i = 0
      while (i < a.length) {
        acc = (acc ^ a(i)) * 0xBF58476D1CE4E5B9L
        a(i) = acc >>> 7
        i += 1
      }
      round += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e6
  }

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Median wall ms of a one-task empty job: the fixed per-job cost the
    * driver-residual split charges each job.
    */
  def emptyJobMs(spark: SparkSession, n: Int = 15): Double = {
    val sc = spark.sparkContext
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    })
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
