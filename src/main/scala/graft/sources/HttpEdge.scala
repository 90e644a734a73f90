package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.Metlink

/** Live HTTP ingest/egress edge — the reference's two HTTPS process
  * boundaries made real: GET the GTFS-RT snapshot with an `x-api-key`
  * header (task.ts:150-167) and POST the resulting FeatureCollection
  * to the sink endpoint (task.ts:341). Both calls stay DRIVER-side,
  * exactly like the reference's Lambda; between them,
  * [[Metlink.snapshot]] evaluates a projection prepared once per
  * (Config, session SQL confs): no Dataset, no job. JDK
  * `java.net.http` only — no added dependencies.
  */
object HttpEdge {

  val EmptyFeatureCollection: String =
    """{"type":"FeatureCollection","features":[]}"""

  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** GET with headers; body on 2xx, throws otherwise (the reference's
    * `fetch` + `res.ok` check, task.ts:155-164). */
  def fetchJson(url: String, headers: Map[String, String] = Map.empty,
      timeout: Duration = Duration.ofSeconds(30)): String = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET().timeout(timeout)
    headers.foreach { case (k, v) => b.header(k, v) }
    val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"GET $url returned HTTP ${res.statusCode()}")
    res.body()
  }

  /** POST a JSON body; status code on 2xx, throws otherwise (the
    * reference's `this.submit`, task.ts:341). */
  def postJson(url: String, body: String,
      headers: Map[String, String] = Map.empty,
      timeout: Duration = Duration.ofSeconds(30)): Int = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("content-type", "application/json")
      .timeout(timeout)
    headers.foreach { case (k, v) => b.header(k, v) }
    val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"POST $url returned HTTP ${res.statusCode()}")
    res.statusCode()
  }

  /** The reference's whole `control()` run (task.ts:147-342) against
    * live endpoints: fetch → parse, transform and wrap
    * ([[Metlink.snapshot]]) → submit. Any non-fatal failure before the
    * submit posts an EMPTY FeatureCollection instead (task.ts:180-188)
    * so downstream markers go stale rather than freezing on an error.
    *
    * @return the FeatureCollection JSON that was submitted
    */
  def runMetlink(spark: SparkSession, fetchUrl: String, apiKey: String,
      submitUrl: String,
      cfg: Metlink.Config = Metlink.Config()): String = {
    val fc: String =
      try Metlink.snapshot(spark,
        fetchJson(fetchUrl, Map("x-api-key" -> apiKey)), cfg)
      catch {
        case NonFatal(e) =>
          // e.toString names the class: a refused connection's
          // message alone is null
          System.err.println("[graft] metlink fetch/transform of " +
            s"$fetchUrl failed, submitting empty FeatureCollection: $e")
          EmptyFeatureCollection
      }
    postJson(submitUrl, fc)
    fc
  }
}
