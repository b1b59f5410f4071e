package graft.bench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit, trim, xxhash64}

import graft.api.GraftHttpServer
import graft.store.SnapshotStore

/** `pipeline`: from a base store that set-up builds with the CLI,
  * generated batches each run as the production loop -- ingest, follow
  * the RAG index, report, serve the store from a freshly built API and
  * read the batch's new dockets back over HTTP -- with forget, compact
  * and vacuum at the points the input names. A round is one list of
  * steps from the input; every run does whole rounds.
  */
object Pipeline {
  private val module = Map("ingest" -> "ingest", "follow" -> "streaming",
    "report" -> "quality", "serve" -> "api", "forget" -> "streaming",
    "compact" -> "store", "vacuum" -> "store").withDefaultValue("api")

  /** Ingest each file with the CLI, then follow the cases table into
    * the RAG index. Returns what each command printed and its time.
    */
  def buildStore(ctx: Ctx, storeDir: String, files: Seq[String]): Seq[Map[String, Any]] =
    files.flatMap { f =>
      Seq(Seq("ingest", f, "--store", storeDir),
        Seq("follow", "--store", storeDir, "--table", "cases", "--index", "rag")).map { args =>
        val t0 = System.nanoTime()
        val (code, out) = Engine.cli(ctx.spark, args: _*)
        Map("args" -> args, "code" -> code, "out" -> out, "ms" -> (System.nanoTime() - t0) / 1e6)
      }
    }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.{input, rec, spark}
    val dir = input.path("store_dir").asText
    val setup = buildStore(ctx, dir, input.path("base").elements().asScala.map(_.asText).toSeq)
    val rounds = input.path("rounds").elements().asScala.map(
      _.elements().asScala.toSeq).toIndexedSeq
    val forgotten = mutable.ArrayBuffer.empty[String]
    val answers = mutable.LinkedHashMap.empty[String, (Int, String)]
    val written = mutable.ArrayBuffer.empty[Long]
    val inProc = mutable.ArrayBuffer.empty[(String, Double, Double)] // kind, in-process ms, HTTP ms
    var inputBytes = 0L
    var server: Option[(graft.api.GraftApi, GraftHttpServer)] = None
    def stopServer(): Unit = { server.foreach(_._2.stop()); server = None }

    def step(s: JsonNode): Unit = {
      val kind = s.path("op").asText
      val id = s.path("id").asText
      val before = if (Trace.on) Engine.files(dir) else Map.empty[String, Long]
      def cli(args: String*) = Engine.cli(spark, args: _*)
      val r = rec.op(kind, id, module(kind)) {
        kind match {
          case "ingest" =>
            val f = s.path("file").asText
            cli("ingest", f, "--store", dir)._2.trim.linesIterator.toSeq.last
          case "follow" =>
            cli("follow", "--store", dir, "--table", "cases", "--index", "rag")._2.trim
          case "report" => cli("report", "--store", dir)._1.toString
          case "serve" =>
            stopServer()
            val api = Engine.api(spark, dir)
            val srv = new GraftHttpServer(api, 0)
            srv.start()
            server = Some((api, srv))
            srv.boundPort.toString
          case "forget" =>
            val cns = s.path("cns").elements().asScala.map(_.asText).toSeq
            forgotten ++= cns
            cli("forget", "--store", dir, "--case-numbers", cns.mkString(","))._2.trim
          case "compact" => cli("compact", "--store", dir)._2.length.toString
          case "vacuum" => cli("vacuum", "--store", dir)._2.length.toString
          case _ =>
            val (status, body) = Http.send(server.get._2, Http.req(s))
            answers(id) = (status, body)
            s"$status ${Http.md5(body)}"
        }
      }
      if (Trace.on) {
        written += Engine.files(dir).filter { case (p, _) => !before.contains(p) }.values.sum
        if (kind == "ingest") inputBytes += s.path("bytes").asLong
        if (kind == "serve" && r.ok) {
          // the reads the API just made at start-up, timed one by one
          val store = new SnapshotStore(spark, dir)
          Engine.ApiTables.foreach(t => Trace.span("store.read")(store.read(t)))
        }
        if (r.ok && !module.contains(kind)) {
          val q = Http.req(s)
          SparkWork.tagged(spark, s"inproc.$kind", "api") {
            val t0 = System.nanoTime()
            Trace.span(s"api.$kind")(Http.call(server.get._1, q))
            inProc += ((kind, (System.nanoTime() - t0) / 1e6, r.ms))
          }
        }
      }
    }

    input.path("warmup").elements().asScala.foreach(step)
    ctx.drain(); ctx.work.reset(); ctx.planning.reset()
    inProc.clear(); written.clear(); inputBytes = 0
    rec.startTimed()
    val n = rec.rounds(ctx.seconds, rounds.size)(rounds(_).foreach(step))
    rec.endTimed()
    stopServer()
    val layers = if (Trace.on) traced(ctx, dir, n, written.sum, inputBytes, inProc.toSeq)
      else Map.empty
    Map("rounds" -> n, "setup" -> setup, "layers" -> layers,
      "answers" -> answers.map { case (k, (st, b)) => Map("id" -> k, "status" -> st, "body" -> b) },
      "forget_leftovers" -> leftovers(new SnapshotStore(spark, dir), forgotten.toSeq))
  }

  /** Rows naming a forgotten case, per table: every count must be 0. */
  def leftovers(store: SnapshotStore, cns: Seq[String]): Map[String, Long] = {
    if (cns.isEmpty) return Map.empty
    val spark = store.read("cases").get.sparkSession
    import spark.implicits._
    val ids = cns.toDF("cn").select(xxhash64(lit("case"), col("cn"))).as[Long].collect().toSeq
    def count(table: String)(f: DataFrame => DataFrame): Option[(String, Long)] =
      store.read(table).map(df => table -> f(df).count())
    Seq(
      count("cases")(_.filter(col("case_number").isin(cns: _*))),
      count("case_parties")(_.filter(col("case_id").isin(ids: _*))),
      count("case_chunk_embeddings")(_.filter(col("case_number").isin(cns: _*))),
      count("chunk_ann_assignments")(_.filter(col("case_number").isin(cns: _*))),
      Some("postings" -> graft.streaming.StreamingPostings.servingPostings(store)
        .filter(col("doc_id").isin(ids: _*)).count()),
      count("quarantine")(_.filter(trim(coalesce(col("raw.case_number"), lit("")))
        .isin(cns: _*))),
      count("ingest_errors")(_.filter(coalesce(col("case_number"),
        trim(coalesce(col("details.raw.case_number"), lit("")))).isin(cns: _*)))
    ).flatten.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Per-layer numbers of the timed phase. */
  private def traced(ctx: Ctx, dir: String, rounds: Int, written: Long,
      inputBytes: Long, inProc: Seq[(String, Double, Double)]): Map[String, Double] = {
    ctx.drain()
    val ops = ctx.rec.all.filter(_.ok)
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val steps = ctx.input.path("rounds").elements().asScala.take(rounds)
      .flatMap(_.elements().asScala).toSeq
    def total(op: String, field: String) =
      steps.filter(_.path("op").asText == op).map(_.path(field).asLong).sum.toDouble
    def api(kind: String) = median(inProc.filter(_._1 == kind).map(_._2))
    def spans(name: String) = Trace.named(name, ctx.rec.timedStartNs, ctx.rec.timedEndNs)
    def perCall(kinds: String*)(f: Work => Double) = {
      val calls = inProc.count(k => kinds.contains(k._1))
      f(ctx.work.kinds(kinds.map("inproc." + _): _*)) / math.max(calls, 1)
    }
    val apiKinds = inProc.map(_._1).distinct
    val files = Engine.files(dir)
    Map(
      "api.get_case_ms" -> api("get_case"),
      "api.list_year_ms" -> api("list_year"),
      "api.list_judge_ms" -> api("list_judge"),
      "api.search_dockets_ms" -> api("search_dockets"),
      "api.keyword_ms" -> api("keyword"),
      "api.bm25_ms" -> api("bm25"),
      "api.phrase_ms" -> api("phrase"),
      "api.hybrid_ms" -> api("hybrid"),
      "api.ann_ms" -> api("ann"),
      "api.http_ms" -> median(inProc.map { case (_, in, http) => http - in }),
      "api.jobs_per_op" -> perCall(apiKinds: _*)(_.jobs.toDouble),
      "search.input_mb_per_op" -> perCall("keyword", "bm25", "phrase")(_.inputBytes / 1048576.0),
      "rag.input_mb_per_op" -> perCall("search_dockets", "ann")(_.inputBytes / 1048576.0),
      "ingest.batch_ms" -> median(ms("ingest")),
      "ingest.records_per_s" -> total("ingest", "records") / (ms("ingest").sum / 1000),
      "streaming.merge_ms" -> median(spans("streaming.merge")),
      "streaming.postings_ms" -> median(spans("streaming.postings")),
      "streaming.follow_rag_ms" -> median(ms("follow")),
      "streaming.forget_ms" -> median(spans("streaming.forget")),
      "rag.chunks_per_s" -> total("follow", "chunks") / (ms("follow").sum / 1000),
      "quality.report_ms" -> median(ms("report")),
      "store.read_ms" -> median(spans("store.read")),
      "store.vacuum_ms" -> median(ms("vacuum")),
      "store.compact_ms" -> median(ms("compact")),
      "store.written_mb_per_batch" -> written / 1048576.0 / math.max(ms("ingest").size, 1),
      "store.write_amp" -> written.toDouble / math.max(inputBytes, 1L),
      "store.disk_mb" -> files.values.sum / 1048576.0,
      "store.files" -> files.size.toDouble)
  }
}
