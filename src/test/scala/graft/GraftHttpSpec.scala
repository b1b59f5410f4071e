package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GraftApi, GraftHttpServer}
import graft.ingest.IngestJob
import graft.rag.{HashingEmbedder, RagPipeline}

/** The HTTP serving layer end-to-end over the reference corpus: every
  * reference endpoint (api.py:154-281) hit through a real socket, with
  * the reference's status codes and error bodies.
  */
class GraftHttpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val server = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val ingest = IngestJob.run(spark,
      IngestJob.readRaw(spark, ReferenceCorpus.path),
      1, "raw_dockets.json", "ref", Timestamp.valueOf("2026-01-01 00:00:00"))
    val embedder = HashingEmbedder(64)
    val embeddings = RagPipeline.backfill(ingest.cases, None, embedder)
    // the stored search indexes a production deployment maintains in
    // the ingest commit: docket postings (keyword/bm25/phrase) and the
    // chunk-ANN lists (searchDockets' pruned candidate pool)
    val store = new graft.store.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft-http-store").toString)
    graft.streaming.StreamingPostings.processBatch(store,
      ingest.cases.select(col("id").as("doc_id"),
        coalesce(col("docket_text"), lit("")).as("text")), 0L)
    RagPipeline.indexChunks(store, embeddings)
    val api = new GraftApi(spark, ingest.cases, ingest.judges, ingest.courts,
      ingest.caseTypes, ingest.parties, ingest.caseParties,
      Some(embeddings), embedder, Some(store))
    val s = new GraftHttpServer(api, port = 0)
    s.start()
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /health") {
    ReferenceCorpus.assumePresent()
    val r = get("/health")
    assert(r.statusCode() == 200)
    assert(mapper.readTree(r.body()).path("status").asText() == "ok")
  }

  test("GET /cases?year= returns summaries; missing filters → 400; bad year → 422") {
    ReferenceCorpus.assumePresent()
    val ok = get("/cases?year=2023")
    assert(ok.statusCode() == 200)
    val arr = mapper.readTree(ok.body())
    assert(arr.isArray && arr.size() > 0)
    assert(arr.get(0).has("case_number") && arr.get(0).has("judge"))
    assert(arr.get(0).path("filed_date").asText().startsWith("2023"))

    val none = get("/cases")
    assert(none.statusCode() == 400)
    assert(mapper.readTree(none.body()).path("error").asText()
      .contains("judge"))

    assert(get("/cases?year=1776").statusCode() == 422)
    assert(get("/cases?year=abc").statusCode() == 422)
  }

  test("GET /cases/{case_number}: detail with parties; unknown → 404") {
    ReferenceCorpus.assumePresent()
    val r = get("/cases/1:23-cv-12345")
    assert(r.statusCode() == 200)
    val d = mapper.readTree(r.body())
    assert(d.path("case_number").asText() == "1:23-cv-12345")
    assert(d.path("docket_text").asText().nonEmpty)
    val parties = d.path("parties")
    assert(parties.isArray && parties.size() > 0)
    assert(parties.get(0).has("name") && parties.get(0).has("normalized_name")
      && parties.get(0).has("role"))

    val missing = get("/cases/no-such-case")
    assert(missing.statusCode() == 404)
    assert(mapper.readTree(missing.body()).path("error").asText()
      .contains("not found"))
  }

  test("POST /cases/search: top-k results; validation → 422") {
    ReferenceCorpus.assumePresent()
    val r = post("/cases/search", """{"query":"breach of contract","limit":3}""")
    assert(r.statusCode() == 200)
    val arr = mapper.readTree(r.body())
    assert(arr.isArray && arr.size() == 3)
    assert(arr.get(0).has("best_similarity") && arr.get(0).has("best_chunk_snippet"))

    assert(post("/cases/search", """{"query":"x"}""").statusCode() == 422)
    assert(post("/cases/search", """{"query":"valid","limit":99}""").statusCode() == 422)
    assert(post("/cases/search", "not json").statusCode() == 422)
  }

  test("POST /search/keyword and /search/bm25: stored-index hits with " +
    "case numbers; validation → 422") {
    ReferenceCorpus.assumePresent()
    for (route <- Seq("/search/keyword", "/search/bm25")) {
      val r = post(route, """{"terms":["breach","contract"],"limit":5}""")
      assert(r.statusCode() == 200, s"$route: ${r.body()}")
      val arr = mapper.readTree(r.body())
      assert(arr.isArray && arr.size() > 0, s"$route returned no hits")
      assert(arr.get(0).has("case_number") &&
        arr.get(0).has("n_terms_matched"))
      // ranked: scores non-increasing
      val scoreField = if (route.endsWith("bm25")) "score_micro" else "score"
      val scores = (0 until arr.size()).map(i =>
        arr.get(i).path(scoreField).asLong())
      assert(scores == scores.sortBy(-_), s"$route hits not ranked")

      assert(post(route, """{"terms":[]}""").statusCode() == 422)
      assert(post(route, """{"terms":["  "]}""").statusCode() == 422)
      assert(post(route, """{"terms":["breach"],"limit":0}""").statusCode() == 422)
      assert(post(route, """{"terms":["breach"],"limit":99}""").statusCode() == 422)
      assert(post(route, "not json").statusCode() == 422)
    }
  }

  test("POST /search/phrase: positional adjacency over the stored " +
    "index; validation → 422") {
    ReferenceCorpus.assumePresent()
    val r = post("/search/phrase", """{"phrase":"breach of contract","limit":10}""")
    assert(r.statusCode() == 200, r.body())
    val arr = mapper.readTree(r.body())
    assert(arr.isArray && arr.size() > 0, "no 'breach of contract' phrase hits")
    assert(arr.get(0).has("case_number") && arr.get(0).has("n_phrase") &&
      arr.get(0).path("n_terms_used").asLong() == 3L)
    // a scrambled non-adjacent pattern of the same words scores fewer
    // docs than the real phrase (adjacency, not bag-of-words)
    val scrambled = post("/search/phrase", """{"phrase":"contract breach of"}""")
    assert(scrambled.statusCode() == 200)
    assert(mapper.readTree(scrambled.body()).size() <= arr.size())

    assert(post("/search/phrase", """{"phrase":"x"}""").statusCode() == 422)
    assert(post("/search/phrase", """{"phrase":"breach of","limit":51}""").statusCode() == 422)
    assert(post("/search/phrase", "{}").statusCode() == 422)
  }

  test("POST /search/hybrid: case-level BM25 + dense RRF, both legs " +
    "stored-index probes; validation → 422") {
    ReferenceCorpus.assumePresent()
    val r = post("/search/hybrid", """{"query":"breach of contract","limit":5}""")
    assert(r.statusCode() == 200, r.body())
    val arr = mapper.readTree(r.body())
    assert(arr.isArray && arr.size() > 0)
    val top = arr.get(0)
    assert(top.has("case_number") && top.has("rank_kw") &&
      top.has("rank_vec") && top.has("rrf_micro"))
    // fused scores non-increasing; at least one hit found by BOTH legs
    val scores = (0 until arr.size()).map(i => arr.get(i).path("rrf_micro").asLong())
    assert(scores == scores.sortBy(-_))
    assert((0 until arr.size()).exists(i =>
      arr.get(i).path("rank_kw").asLong() > 0 &&
        arr.get(i).path("rank_vec").asLong() > 0),
      "no case fused from both legs — fixture degenerated")

    assert(post("/search/hybrid", """{"query":"x"}""").statusCode() == 422)
    assert(post("/search/hybrid", """{"query":"breach","limit":0}""").statusCode() == 422)
  }

  test("POST /search/ann + filtered /search/hybrid: the equality-filter " +
    "object narrows to matching cases; unknown fields/values → 422") {
    ReferenceCorpus.assumePresent()
    def caseDetail(cn: String) = mapper.readTree(
      get("/cases/" + java.net.URLEncoder.encode(cn, "UTF-8")).body())
    val r = post("/search/ann",
      """{"query":"breach of contract","limit":3,"where":{"status":"active"}}""")
    assert(r.statusCode() == 200, r.body())
    val arr = mapper.readTree(r.body())
    assert(arr.isArray && arr.size() > 0)
    assert(arr.get(0).has("case_number") && arr.get(0).has("best_cosine"))
    (0 until arr.size()).foreach { i =>
      val cn = arr.get(i).path("case_number").asText()
      assert(caseDetail(cn).path("status").asText() == "active",
        s"$cn escaped the status filter")
    }
    // unfiltered /search/ann still serves
    assert(post("/search/ann",
      """{"query":"breach of contract","limit":3}""").statusCode() == 200)
    // hybrid with a year filter: every fused hit filed in that year
    val h = post("/search/hybrid",
      """{"query":"breach of contract","limit":3,"where":{"filed_year":2023}}""")
    assert(h.statusCode() == 200, h.body())
    val harr = mapper.readTree(h.body())
    assert(harr.isArray && harr.size() > 0)
    (0 until harr.size()).foreach { i =>
      val cn = harr.get(i).path("case_number").asText()
      assert(caseDetail(cn).path("filed_date").asText().startsWith("2023"),
        s"$cn escaped the filed_year filter")
    }
    // validation: unknown field (the reference's convention), malformed
    // where shapes, non-integer year — all 422, never 500
    assert(post("/search/ann",
      """{"query":"breach","where":{"label":3}}""").statusCode() == 422)
    assert(post("/search/hybrid",
      """{"query":"breach","where":{"nope":"x"}}""").statusCode() == 422)
    assert(post("/search/ann",
      """{"query":"breach","where":[1]}""").statusCode() == 422)
    assert(post("/search/ann",
      """{"query":"breach","where":{"status":["a"]}}""").statusCode() == 422)
    assert(post("/search/ann",
      """{"query":"breach","where":{"filed_year":"20x3"}}""").statusCode() == 422)
  }

  test("unknown route → 404 error body") {
    ReferenceCorpus.assumePresent()
    val r = get("/nope")
    assert(r.statusCode() == 404)
    assert(mapper.readTree(r.body()).has("error"))
  }

  test("concurrent soak: parallel mixed requests through the fixed " +
      "pool get isolated, correct responses") {
    ReferenceCorpus.assumePresent()
    // every case number in the corpus, each with a validator that only
    // ITS OWN response satisfies — a cross-request bleed (shared
    // mutable state anywhere in server → api → Spark collect) would
    // hand some request another request's payload and fail its check
    val caseNumbers = {
      val arr = mapper.readTree(get("/cases?year=2023").body())
      (0 until arr.size()).map(i => arr.get(i).path("case_number").asText())
    }
    assert(caseNumbers.nonEmpty)
    type Check = java.net.http.HttpResponse[String] => Unit
    val detail: Seq[(String, () => java.net.http.HttpResponse[String], Check)] =
      caseNumbers.map { cn =>
        val enc = java.net.URLEncoder.encode(cn, "UTF-8").replace("+", "%20")
        (s"detail:$cn", () => get(s"/cases/$enc"), (r: java.net.http.HttpResponse[String]) => {
          assert(r.statusCode() == 200)
          assert(mapper.readTree(r.body()).path("case_number").asText() == cn,
            s"response for $cn carried another case")
        })
      }
    val mixed: Seq[(String, () => java.net.http.HttpResponse[String], Check)] = Seq(
      ("list2023", () => get("/cases?year=2023"), r => {
        assert(r.statusCode() == 200)
        val a = mapper.readTree(r.body())
        (0 until a.size()).foreach(i =>
          assert(a.get(i).path("filed_date").asText().startsWith("2023")))
      }),
      ("search", () => post("/cases/search",
        """{"query":"breach of contract","limit":3}"""), r => {
        assert(r.statusCode() == 200)
        assert(mapper.readTree(r.body()).size() == 3)
      }),
      ("missing", () => get("/cases/no-such-case"),
        r => assert(r.statusCode() == 404)),
      ("badyear", () => get("/cases?year=1776"),
        r => assert(r.statusCode() == 422)),
      ("health", () => get("/health"), r => assert(r.statusCode() == 200)),
    )
    val work = Iterator.continually(detail ++ mixed).flatten.take(60).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    try {
      import scala.jdk.CollectionConverters._
      val results = pool.invokeAll(work.map { case (name, fire, check) =>
        new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] =
            try { check(fire()); None }
            catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
        }
      }.asJava).asScala.map(_.get())
      val failures = results.flatten
      assert(failures.isEmpty,
        s"${failures.size} of ${work.size} concurrent requests failed:\n" +
          failures.take(5).mkString("\n"))
    } finally pool.shutdown()
  }
}
