package graft.perfbench

import graft.table.{CommitConflictException, MetadataIo}
import graft.model.TableMetadataV2
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span: a timed call into a layer. `op` is the operation the call
  * served; `parent` is the span that made the call (0 for an op's root).
  * Times are nanoseconds on an epoch-anchored clock, so spans built from
  * Spark listener times (epoch milliseconds) line up with the rest.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Spans and per-operation counters, kept in memory and written out when
  * the run ends. Everything here is a no-op unless tracing is on.
  */
object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  @volatile var on = false
  @volatile var sc: SparkContext = _
  @volatile private[perfbench] var op = 0L

  val spans = new ConcurrentLinkedQueue[Span]
  // (op id, counter name) -> sum; op 0 collects work outside any op
  val counters = new ConcurrentHashMap[(Long, String), DoubleAdder]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val epochBaseNs =
    System.currentTimeMillis * 1000000L - System.nanoTime

  def now: Long = epochBaseNs + System.nanoTime
  def nextId(): Long = ids.incrementAndGet()

  def countFor(opId: Long, name: String, v: Double): Unit =
    counters.computeIfAbsent((opId, name), _ => new DoubleAdder).add(v)

  def count(name: String, v: Double = 1.0): Unit =
    if (on) countFor(op, name, v)

  def counter(opId: Long, name: String): Double =
    Option(counters.get((opId, name))).map(_.sum).getOrElse(0.0)

  /** Time `body` as a span named after the layer it calls into. Spark jobs
    * submitted inside it carry the span id as a local property, so the
    * listener can hang them under it.
    */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId()
      val outer = stack.get
      stack.set(id :: outer)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = now
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), op, name, t0, now))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }
}

/** Per-operation Spark counters and job spans, attributed through the
  * local properties each job carries (never through arrival order, which
  * the asynchronous listener bus does not preserve across operations).
  */
class SparkProbe extends SparkListener {
  private case class Job(op: Long, span: Long, startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageOp = new ConcurrentHashMap[Int, Long]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong)
      .getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, Trace.OpProp)
    jobs.put(e.jobId, Job(op, prop(e.properties, Trace.SpanProp), e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    Trace.countFor(op, "spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      Trace.spans.add(Span(Trace.nextId(), j.span, j.op, "spark.job",
        j.startMs * 1000000L, e.time * 1000000L))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Trace.countFor(stageOp.getOrDefault(e.stageInfo.stageId, 0L),
      "spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, 0L)
    Trace.countFor(op, "spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.countFor(op, "spark.executor_cpu_ns", m.executorCpuTime)
      Trace.countFor(op, "spark.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten)
      Trace.countFor(op, "spark.input_bytes", m.inputMetrics.bytesRead)
    }
  }
}

/** Delegating metadata IO handed to `GraftTable.load`: every metadata load
  * and commit becomes a span and a count. Over the REST catalog each call
  * is one catalog round trip, so the same counts are the `rest.*` layer.
  */
class ProbeIo(inner: MetadataIo, rest: Boolean) extends MetadataIo {
  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime
    try Trace.span(name)(body)
    finally if (rest) {
      Trace.count("rest.calls")
      Trace.count("rest.ns", (System.nanoTime - t0).toDouble)
    }
  }

  override def latest(location: String): Option[(Int, TableMetadataV2)] = {
    val r = timed("table.meta.load")(inner.latest(location))
    if (Trace.on) {
      Trace.count("table.meta.loads")
      r.foreach(m => Trace.count("table.meta.json_bytes",
        m._2.toJsonString.length))
    }
    r
  }

  override def commit(location: String, base: Option[(Int, TableMetadataV2)],
      meta: TableMetadataV2): Unit = {
    Trace.count("table.meta.commit_attempts")
    try timed("table.meta.commit")(inner.commit(location, base, meta))
    catch {
      case e: CommitConflictException =>
        Trace.count("table.meta.conflicts"); throw e
    }
  }
}

/** A wrong answer: the operation ran but its result disagrees with the
  * result the benchmark computed without graft.
  */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Check {
  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new WrongAnswer(msg)
}

/** One timed operation of the closed loop. */
final case class OpRec(id: Long, cls: String, ms: Double, cpuMs: Double,
    ok: Boolean)

/** Runs the closed loop's operations one at a time from the calling
  * thread: times each one, then checks its answer outside the timed
  * region. A thrown error or a wrong answer fails the operation; it stays
  * in the counts.
  */
class Recorder(sc: SparkContext) {
  val ops = ArrayBuffer[OpRec]()
  val failures = ArrayBuffer[String]()
  private var nextOp = 0L
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def op[A](cls: String)(body: => A)(check: A => Unit): Boolean = {
    nextOp += 1
    Trace.op = nextOp
    sc.setLocalProperty(Trace.OpProp, nextOp.toString)
    val manifests = graft.table.ManifestRef.entriesReads.get
    val c0 = cpuNs
    val t0 = System.nanoTime
    val res = scala.util.Try(Trace.span(cls)(body))
    val ms = (System.nanoTime - t0) / 1e6
    val cpuMs = (cpuNs - c0) / 1e6
    Trace.count("table.manifests_read",
      graft.table.ManifestRef.entriesReads.get - manifests)
    sc.setLocalProperty(Trace.OpProp, null)
    Trace.op = 0
    if (Trace.on) org.apache.spark.PerfbenchBus.drain(sc)
    val verdict = res.flatMap(a => scala.util.Try(check(a)))
    verdict.failed.foreach { e =>
      failures += s"$cls op $nextOp: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(300)
    }
    ops += OpRec(nextOp, cls, ms, cpuMs, verdict.isSuccess)
    verdict.isSuccess
  }

  def lastOp: Long = nextOp
}

/** Host-level readings that say whether a run was disturbed. */
object Env {
  /** (steal, total) jiffies summed over all CPUs. */
  def cpuJiffies(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) return (0L, 0L)
    val v = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (v.length > 7) v(7) else 0L, v.take(8).sum)
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process in MB (VmHWM). */
  def rssPeakMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.isReadable(f)) return 0.0
    java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
