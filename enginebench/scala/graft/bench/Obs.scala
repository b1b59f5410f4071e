package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one bucket (a module or an op kind). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
  }
}

/** Counts jobs, tasks, task time, shuffle and input bytes, keyed two
  * ways: by the module of the first engine frame in the call site
  * Spark records for the job, and by the op kind the calling thread
  * set as a local property. Job intervals are kept so an op's wall can
  * be split into time inside and outside Spark jobs.
  */
final class SparkWork extends SparkListener {
  private val stageKeys = mutable.Map.empty[Int, (String, String)]
  private val jobStarts = mutable.Map.empty[Int, (String, String, Long)]
  val byModule = mutable.Map.empty[String, Work]
  val byKind = mutable.Map.empty[String, Work]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def bucket(m: mutable.Map[String, Work], k: String) =
    m.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val kind = props.flatMap(p => Option(p.getProperty(SparkWork.KindKey)))
      .getOrElse("none")
    val fallback = props.flatMap(p => Option(p.getProperty(SparkWork.ModuleKey)))
      .getOrElse("none")
    val site = e.stageInfos.map(_.details).headOption.getOrElse("")
    val module = SparkWork.moduleOf(site).getOrElse(fallback)
    e.stageIds.foreach(s => stageKeys(s) = (module, kind))
    jobStarts(e.jobId) = (module, kind, e.time)
    bucket(byModule, module).jobs += 1
    bucket(byKind, kind).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (_, _, t0) => intervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (module, kind) = stageKeys.getOrElse(e.stageId, ("none", "none"))
    val w = new Work
    w.tasks = 1
    if (e.taskInfo != null) w.taskMs = e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      w.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      w.inputBytes = m.inputMetrics.bytesRead
    }
    bucket(byModule, module).add(w)
    bucket(byKind, kind).add(w)
  }

  def reset(): Unit = synchronized {
    byModule.clear(); byKind.clear(); intervals.clear()
  }

  def module(name: String): Work = synchronized {
    byModule.getOrElse(name, new Work)
  }

  def kinds(names: String*): Work = synchronized {
    val w = new Work
    names.foreach(n => byKind.get(n).foreach(w.add))
    w
  }

  /** Milliseconds of [from, to) covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

object SparkWork {
  val KindKey = "graft.bench.kind"
  val ModuleKey = "graft.bench.module"
  private val Frame = """^graft\.([a-z]+)\.""".r.unanchored

  /** The engine module of the first `graft.<module>.` frame of a call
    * site that is not the benchmark itself.
    */
  def moduleOf(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(_.trim).collectFirst {
      case l @ Frame(m) if m != "bench" && l.startsWith("graft.") => m
    }

  /** Tag the Spark jobs this thread starts in `body`. */
  def tagged[T](spark: SparkSession, kind: String, module: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(KindKey, kind)
    sc.setLocalProperty(ModuleKey, module)
    try body
    finally { sc.setLocalProperty(KindKey, null); sc.setLocalProperty(ModuleKey, null) }
  }
}

/** Analysis + optimization + planning time of every query execution
  * Spark reports to its execution listeners.
  */
final class PlanningTime extends QueryExecutionListener {
  val ms = new AtomicLong

  private def add(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    ms.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  def reset(): Unit = ms.set(0)
}

/** In-memory spans, written out once at the end of a traced run. When
  * tracing is off `span` only runs its body. Ops run on one thread at a
  * time, so the open spans are one stack.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  @volatile private var stack: List[Long] = Nil
  @volatile private var opId = -1L

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  /** The op running now and its innermost open span, for the sampler. */
  def current: (Long, Long) = (opId, stack.headOption.getOrElse(0L))

  /** Run `body` as op `id`, in a span of its own. */
  def op[T](id: Long, name: String)(body: => T): T = {
    opId = id
    try span(name)(body) finally opId = -1L
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parents = stack
      stack = id :: parents
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, parents.headOption.getOrElse(0L), name, opId, t0, System.nanoTime()))
        stack = parents
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations of the spans called `name` that started in [fromNs, toNs). */
  def named(name: String, fromNs: Long, toNs: Long): Seq[Double] =
    all.filter(s => s.name == name && s.startNs >= fromNs && s.startNs < toNs).map(_.ms)
}

/** Spans of engine calls made inside CLI commands, where the benchmark
  * cannot wrap them, taken from stack samples of the thread that runs
  * the ops: every `periodMs` the sampler reads that thread's stack, and
  * a watched method's span lasts from the first sample that shows its
  * frame to the first that no longer does. A span is so measured to
  * within one period at each end. Runs only in a traced run.
  */
final class StackSpans(thread: Thread, periodMs: Long) extends Thread("bench-stack-spans") {
  setDaemon(true)
  @volatile private var running = true
  // (span name, frame depth from the stack's bottom) -> (id, parent, op, start ns)
  private val open = mutable.LinkedHashMap.empty[(String, Int), (Long, Long, Long, Long)]

  override def run(): Unit = {
    while (running) {
      sample()
      Thread.sleep(periodMs)
    }
    close(Set.empty, System.nanoTime())
  }

  private def sample(): Unit = {
    val frames = thread.getStackTrace
    val now = System.nanoTime()
    val n = frames.length
    val seen = (n - 1 to 0 by -1).flatMap { i =>
      StackSpans.Watched.get(s"${frames(i).getClassName}.${frames(i).getMethodName}")
        .map(_ -> (n - 1 - i))
    }
    close(seen.toSet, now)
    val (op, innermost) = Trace.current
    seen.foreach { k =>
      if (!open.contains(k)) {
        val parent = open.lastOption.map(_._2._1).getOrElse(innermost)
        open(k) = (Trace.newId(), parent, op, now)
      }
    }
  }

  private def close(keep: Set[(String, Int)], now: Long): Unit =
    open.keys.filterNot(keep).toList.foreach { k =>
      val (id, parent, op, t0) = open.remove(k).get
      Trace.add(Trace.Span(id, parent, k._1, op, t0, now))
    }

  /** Stop sampling and close the spans still open. */
  def finish(): Unit = { running = false; join() }
}

object StackSpans {
  /** Engine methods the CLI's `ingest` and `forget` call: frame -> span. */
  val Watched = Map(
    "graft.ingest.IngestJob$.run" -> "ingest.run",
    "graft.streaming.StreamingIngest$.mergeResult" -> "streaming.merge",
    "graft.streaming.StreamingPostings$.processBatch" -> "streaming.postings",
    "graft.streaming.IndexDeletes$.forgetCases" -> "streaming.forget")
}
