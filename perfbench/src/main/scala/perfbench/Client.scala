package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed protocol exchange. `ttfbMs` ends when the response headers
  * arrive (the endpoint sends them before it streams rows); `bodyMs` is
  * the rest. */
final case class Reply(status: Int, body: String, ttfbMs: Double, bodyMs: Double,
    start: Long, end: Long) {
  def ms: Double = ttfbMs + bodyMs
}

/** Minimal SPARQL protocol client over the JDK HTTP client. */
final class SparqlClient(port: Int) {
  private val http = HttpClient.newHttpClient()
  private val base = s"http://localhost:$port/sparql"
  private val json = new ObjectMapper()

  private def exchange(req: HttpRequest): Reply = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val t1 = System.nanoTime()
    val body = new String(resp.body().readAllBytes(), StandardCharsets.UTF_8)
    val t2 = System.nanoTime()
    Reply(resp.statusCode(), body, (t1 - t0) / 1e6, (t2 - t1) / 1e6, start,
      System.currentTimeMillis())
  }

  def query(q: String, accept: String = "application/sparql-results+json"): Reply =
    exchange(HttpRequest.newBuilder(URI.create(base + "?query=" +
        URLEncoder.encode(q, "UTF-8"))).header("Accept", accept).GET().build())

  def update(u: String): Reply =
    exchange(HttpRequest.newBuilder(URI.create(base))
      .header("Content-Type", "application/sparql-update")
      .POST(HttpRequest.BodyPublishers.ofString(u)).build())

  /** SELECT results as rows of (variable → value). */
  def rows(r: Reply): Seq[Map[String, String]] =
    json.readTree(r.body).path("results").path("bindings").elements().asScala.map { b =>
      b.properties().asScala.map(e => e.getKey -> e.getValue.path("value").asText()).toMap
    }.toSeq

  def boolean(r: Reply): Boolean = json.readTree(r.body).path("boolean").asBoolean()
}

/** Request-level rdf metrics. */
object Rdf {
  /** One traced request: the jobs it ran, its reply and its result rows. */
  final case class Request(jobs: JobAgg, reply: Reply, rows: Int)

  def requestLayers(reqs: Seq[Request], compileMs: Double): Map[String, Double] = {
    val n = math.max(1, reqs.size)
    Map(
      "rdf.compile_ms" -> compileMs,
      "rdf.jobs_per_request" -> reqs.map(_.jobs.jobs).sum.toDouble / n,
      "rdf.ttfb_ms" -> Stats.median(reqs.map(_.reply.ttfbMs)),
      "rdf.body_ms" -> Stats.median(reqs.map(_.reply.bodyMs)),
      "rdf.rows_scanned_per_row" ->
        reqs.map(_.jobs.recordsRead).sum.toDouble / math.max(1, reqs.map(_.rows).sum))
  }

  /** Graph partitions (`g=` directories) of a store. */
  def partitions(storePath: String): Int =
    Option(new java.io.File(storePath).listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("g="))).getOrElse(0)
}
