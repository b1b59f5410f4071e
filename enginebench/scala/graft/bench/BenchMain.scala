package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** The benchmark's JVM side: sets up one workload from the inputs the
  * benchmark's Python side (`run.py`) made in `--run-dir`, runs its timed phase, and writes
  * `result.json` (every op with its latency and output, the Spark
  * counters, the spans of a traced run) for `run.py` to check.
  *
  *   graft.bench.BenchMain --workload catalog|pipeline
  *     --run-dir D --seconds S --trace 0|1 --t0-ms EPOCH_MS
  *
  * The inputs of workload W are in `D/W/input.json`.
  *   graft.bench.BenchMain --survey DATA_DIR
  */
object BenchMain {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val Workloads = Seq("catalog", "pipeline")

  private def opt(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "" }

  /** Heap in use after full collections. Spark's context cleaner
    * frees broadcast and shuffle state only after a collection has
    * cleared their references, so collect until the figure settles.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.5 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  // the HTTP server's request pool outlives `stop()`, so the JVM exits
  // explicitly, also on failure
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.get()
    val sparkReady = System.currentTimeMillis()
    val work = new SparkWork
    spark.sparkContext.addSparkListener(work)
    val planning = new PlanningTime
    spark.listenerManager.register(planning)
    opt(args, "--survey") match {
      case Some(dir) => Catalog.survey(spark, work, dir); spark.stop(); return
      case None =>
    }
    val workload = opt(args, "--workload").getOrElse(sys.error("--workload required"))
    val runDir = opt(args, "--run-dir").getOrElse(sys.error("--run-dir required"))
    val seconds = opt(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val t0 = opt(args, "--t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    Trace.on = opt(args, "--trace").contains("1")
    // a traced run also probes the other workload (on tiny inputs) for
    // one round, so that it yields every per-layer number whichever
    // workload it names
    val workloads = workload +: (if (Trace.on) Workloads.filterNot(_ == workload) else Nil)
    val loadAtStart = loadavg()
    val sampler = if (Trace.on) Some(new StackSpans(Thread.currentThread, 2)) else None
    sampler.foreach(_.start())
    var main: (Recorder, Map[String, Any], Double, String) = null
    val layers = scala.collection.mutable.Map.empty[String, Any]
    workloads.foreach { w =>
      val dir = s"$runDir/$w"
      val input = mapper.readTree(new File(s"$dir/input.json"))
      val rec = new Recorder(spark)
      val ctx = Ctx(spark, rec, work, planning, input, dir, if (w == workload) seconds else 0)
      val extra: Map[String, Any] = w match {
        case "catalog" => Catalog.run(ctx)
        case "pipeline" => Pipeline.run(ctx)
        case other => sys.error(s"unknown workload: $other")
      }
      layers ++= extra("layers").asInstanceOf[Map[String, Any]]
      if (w == workload) {
        org.apache.spark.BenchBridge.drain(spark.sparkContext)
        main = (rec, extra, liveHeapMb(), loadavg())
      }
    }
    sampler.foreach(_.finish())
    val (rec, extra, heap, loadAfter) = main
    val ops = rec.all.map(o => Map("id" -> o.id, "kind" -> o.kind, "key" -> o.key,
      "start_ms" -> o.startMs, "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error, "out" -> o.out))
    val result = Map(
      "workload" -> workload,
      "stamps" -> Map(
        "master" -> spark.sparkContext.master,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "loadavg_jvm_start" -> loadAtStart,
        "loadavg_end_of_timed" -> loadAfter),
      "setup_s" -> (rec.timedStartEpochMs - t0) / 1000.0,
      "phases_epoch_ms" -> Map("process_start" -> t0, "jvm_start" -> jvmStart,
        "spark_ready" -> sparkReady, "timed_start" -> rec.timedStartEpochMs,
        "timed_end" -> rec.timedEndEpochMs, "result" -> System.currentTimeMillis()),
      "timed_ms" -> rec.timedMs,
      "live_heap_mb" -> heap,
      "ops" -> ops,
      "extra" -> (extra + ("layers" -> layers.toMap)),
      "spans" -> (if (Trace.on) Trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
        else Nil))
    mapper.writeValue(new File(s"$runDir/result.json"), result)
    spark.stop()
  }
}

/** What every workload is handed. */
final case class Ctx(spark: org.apache.spark.sql.SparkSession, rec: Recorder,
    work: SparkWork, planning: PlanningTime,
    input: com.fasterxml.jackson.databind.JsonNode, runDir: String,
    seconds: Double) {
  def drain(): Unit = org.apache.spark.BenchBridge.drain(spark.sparkContext)
}
