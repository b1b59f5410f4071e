package graft.bench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `catalog`: every k-th `SparkEntry.queries` entry by name, in that
  * order, one client. An op builds the entry's frame and collects it, which
  * materializes every output column (a `count()` would let Catalyst
  * prune the projection and the sort). The first timed result of each
  * entry is written out for the DuckDB check; every later result must
  * hash the same.
  */
object Catalog {
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every `every`-th entry by name, from the first, at most `limit`:
    * a choice that depends on no entry's speed or outcome.
    */
  def pick(names: Seq[String], every: Int, limit: Int): Seq[String] =
    names.sorted.zipWithIndex.collect { case (n, i) if i % every == 0 => n }.take(limit)

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{rec, spark}
    val dataDir = ctx.input.path("data_dir").asText
    val queries = SparkEntry.queries
    val names = pick(queries.keys.toSeq, ctx.input.path("every").asInt,
      ctx.input.path("limit").asInt(Int.MaxValue))
    (0 until ctx.input.path("warmup_rounds").asInt(1)).foreach { _ =>
      names.foreach(n => rec.op("entry", n, "operators")(digest(queries(n)(spark, dataDir).collect())))
    }
    val firstOut = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    ctx.drain(); ctx.work.reset(); ctx.planning.reset()
    rec.startTimed()
    val rounds = rec.rounds(ctx.seconds) { _ =>
      names.foreach { n =>
        rec.op("entry", n, "operators") {
          val df = queries(n)(spark, dataDir)
          val rows = df.collect()
          if (!firstOut.contains(n)) firstOut(n) = (rows, df.schema)
          digest(rows)
        }
      }
    }
    rec.endTimed()
    val layers = if (Trace.on) traced(ctx) else Map.empty
    firstOut.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.runDir}/outputs/$n")
    }
    val oracle = SparkEntry.oracleSql
    Map("rounds" -> rounds, "layers" -> layers,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  /** The `operators` and `plans` numbers of the timed phase. */
  private def traced(ctx: Ctx): Map[String, Double] = {
    ctx.drain()
    val ops = ctx.rec.all
    val n = ops.size.toDouble
    val w = ctx.work.module("operators")
    val outside = ops.map { o =>
      val from = ctx.rec.timedStartEpochMs + o.startMs.toLong
      o.ms - ctx.work.jobCoveredMs(from, from + o.ms.toLong)
    }.sum
    val allTaskMs = ctx.work.byModule.values.map(_.taskMs).sum.toDouble
    val cores = ctx.spark.sparkContext.defaultParallelism
    Map(
      "operators.jobs_per_op" -> w.jobs / n,
      "operators.tasks_per_op" -> w.tasks / n,
      "operators.task_ms_per_op" -> w.taskMs / n,
      "operators.shuffle_mb_per_op" -> w.shuffleBytes / 1048576.0 / n,
      "operators.outside_jobs_ms_per_op" -> outside / n,
      "operators.slot_busy_ratio" -> allTaskMs / (ctx.rec.timedMs * cores),
      "plans.planning_ms_per_op" -> ctx.planning.ms.get / n)
  }

  /** Every entry twice, with its wall time and Spark jobs: the table
    * the fixed entry set of the workload was chosen from.
    */
  def survey(spark: SparkSession, work: SparkWork, dataDir: String): Unit = {
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    queries.keys.toSeq.sorted.foreach { n =>
      val times = (0 until 2).map { _ =>
        work.reset()
        val t0 = System.nanoTime()
        val rows = try queries(n)(spark, dataDir).collect().length catch { case _: Throwable => -1 }
        val ms = (System.nanoTime() - t0) / 1e6
        org.apache.spark.BenchBridge.drain(spark.sparkContext)
        val jobs = work.byModule.values.map(_.jobs).sum
        (rows, ms, jobs, work.byModule.map { case (k, v) => s"$k:${v.jobs}" }.mkString(","))
      }
      println(f"SURVEY\t$n\t${oracle.contains(n)}\t${times(1)._1}\t${times(0)._2}%.0f\t${times(1)._2}%.0f\t${times(1)._3}\t${times(1)._4}")
    }
  }
}
