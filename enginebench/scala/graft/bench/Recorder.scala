package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: what it was, when it ran, how long it took,
  * whether it threw, and the output the checker compares.
  */
final case class OpRec(id: Long, kind: String, key: String, startMs: Double,
    ms: Double, ok: Boolean, error: String, out: String)

/** Runs and records ops. An op that throws is recorded with ok=false
  * and its latency is never used; the checker marks the ops whose
  * output is wrong the same way.
  */
final class Recorder(spark: SparkSession) {
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private var nextId = 0L
  var timedStartNs = 0L
  var timedEndNs = 0L
  var timedStartEpochMs = 0L
  var timedEndEpochMs = 0L
  var timedMs = 0.0

  /** Ops run before this (warm-up) are dropped. */
  def startTimed(): Unit = {
    ops.clear()
    timedStartEpochMs = System.currentTimeMillis()
    timedStartNs = System.nanoTime()
  }

  def endTimed(): Unit = {
    timedEndNs = System.nanoTime()
    timedMs = (timedEndNs - timedStartNs) / 1e6
    timedEndEpochMs = System.currentTimeMillis()
  }

  def elapsedS: Double = (System.nanoTime() - timedStartNs) / 1e9

  /** Run whole rounds, at least one and at most `max`, until `seconds`
    * have passed; returns how many ran.
    */
  def rounds(seconds: Double, max: Int = Int.MaxValue)(round: Int => Unit): Int = {
    var r = 0
    while (r < max && (r == 0 || elapsedS < seconds)) { round(r); r += 1 }
    r
  }

  /** Time `body` as one op of `kind` whose Spark jobs belong to
    * `module` unless their call site names another engine module.
    */
  def op(kind: String, key: String, module: String)(body: => String): OpRec = {
    nextId += 1
    val id = nextId
    val t0 = System.nanoTime()
    val (ok, err, out) =
      try SparkWork.tagged(spark, kind, module) {
        Trace.op(id, s"op.$kind")((true, "", body))
      } catch {
        case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), "")
      }
    val t1 = System.nanoTime()
    val r = OpRec(id, kind, key, (t0 - timedStartNs) / 1e6, (t1 - t0) / 1e6, ok, err, out)
    ops += r
    r
  }

  def all: Seq[OpRec] = ops.toList
}
