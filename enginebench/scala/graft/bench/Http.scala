package graft.bench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.api.{GraftApi, GraftHttpServer}

/** A request to the serving API, sent over HTTP or made as the
  * in-process `GraftApi` call behind its route.
  */
final case class Req(kind: String, method: String, path: String, body: String,
    args: JsonNode)

object Http {
  def req(n: JsonNode): Req =
    Req(n.path("op").asText, n.path("method").asText, n.path("path").asText,
      n.path("body").asText(""), n.path("args"))

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def send(server: GraftHttpServer, r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}${r.path}"))
    val req =
      if (r.method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  /** The API call behind a request's route, made in this JVM. */
  def call(api: GraftApi, r: Req): Any = {
    val a = r.args
    def terms = a.path("terms").elements().asScala.map(_.asText).toSeq
    val limit = a.path("limit").asInt(10)
    r.kind match {
      case "get_case" =>
        val cn = a.path("cn").asText
        api.getCase(cn).map(d => (d, api.getParties(cn)))
      case "list_year" => api.listCases(None, Some(a.path("year").asInt)).collect().toSeq
      case "list_judge" => api.listCases(Some(a.path("judge").asText), None).collect().toSeq
      case "search_dockets" => api.searchDockets(a.path("query").asText, limit)
      case "keyword" => api.keywordSearch(terms, limit)
      case "bm25" => api.bm25Search(terms, limit)
      case "phrase" => api.phraseSearch(a.path("phrase").asText.split("\\s+").toSeq, limit)
      case "hybrid" => api.hybridSearchDockets(a.path("query").asText, limit)
      case "ann" => api.annSearchDockets(a.path("query").asText, limit)
    }
  }
}
