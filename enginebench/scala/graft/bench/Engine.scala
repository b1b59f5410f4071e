package graft.bench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.api.GraftApi
import graft.store.SnapshotStore

/** The engine calls the workloads make: CLI commands, the serving API
  * the CLI builds, and the store's files on disk.
  */
object Engine {

  /** Run one CLI command in this JVM; returns its exit code and what it
    * printed.
    */
  def cli(spark: SparkSession, args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val code = Console.withOut(ps)(graft.cli.GraftCli.dispatch(spark, args.toArray))
    ps.flush()
    (code, buf.toString("UTF-8"))
  }

  /** The serving API exactly as the CLI's `serve` builds it: the CLI's
    * own (private) builder, called through reflection, so there is no
    * copy of it to drift.
    */
  def api(spark: SparkSession, storeDir: String): GraftApi = {
    val cli = graft.cli.GraftCli
    val m = cli.getClass.getDeclaredMethod("apiOf", classOf[SparkSession], classOf[SnapshotStore])
    m.setAccessible(true)
    try m.invoke(cli, spark, new SnapshotStore(spark, storeDir)).asInstanceOf[GraftApi]
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  /** The tables the serving API reads from the store at start-up. */
  val ApiTables = Seq("cases", "judges", "courts", "case_types", "parties", "case_parties",
    "case_chunk_embeddings")

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length)
    walk(new File(dir)).toMap
  }
}
