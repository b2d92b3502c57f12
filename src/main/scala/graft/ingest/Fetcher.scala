package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ThreadLocalRandom

/** HTTP download result: status, body bytes, Content-Type header. */
case class FetchResponse(
    status: Int,
    body: Array[Byte],
    contentTypeHeader: String)

/** Thrown when the final attempt still returns an HTTP error status —
  * mirrors `response.raise_for_status()` (reference `api_client.py:160`);
  * the message shape matches requests' ("404 Client Error"), which the
  * reference's error-path test asserts as a substring
  * (`test_integration.py:507-517`).
  */
class HttpStatusError(val status: Int, url: String)
    extends RuntimeException(
      s"$status ${if (status < 500) "Client" else "Server"} Error for url: $url")

/** Effectful document fetcher — deliberately an interface so tests inject a
  * deterministic fake and executors construct one real client per partition
  * (SURVEY.md §2 S5: never inside Catalyst's expression space).
  *
  * Calls can run from several threads at once: a task shares its one
  * instance among its in-flight documents ([[NewDocuments.InFlight]]), so
  * implementations must be thread-safe.
  */
trait Fetcher extends Serializable {
  /** GET with redirects; throws HttpStatusError / IOException on failure
    * after retries.
    */
  def get(url: String): FetchResponse
}

object Fetcher {
  /** Retry helper matching the reference's tenacity policy
    * (`api_client.py:148-151`): `attempts` tries, random-exponential
    * backoff in [min, max] seconds, reraise the last failure.
    */
  def withRetry[T](attempts: Int, minBackoffMs: Long = 1000,
      maxBackoffMs: Long = 10000)(body: => T): T = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case e: Exception if attempt < attempts =>
          val cap = math.min(maxBackoffMs,
            minBackoffMs * (1L << math.min(attempt - 1, 20)))
          val sleep = minBackoffMs +
            ThreadLocalRandom.current().nextLong(math.max(1, cap - minBackoffMs + 1))
          Thread.sleep(sleep)
        case e: Exception => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Production fetcher over the JDK HttpClient: follows redirects, 30 s
  * timeout, browser-like headers, 4 attempts with random-exponential
  * backoff (reference `api_client.py:36-41,148-161`). One instance per
  * partition — connection reuse mirrors the per-task `requests.Session`
  * (`new_document_actions.py:76`). Thread-safe: its only state is the
  * lazily built `HttpClient`, which is itself safe for concurrent sends.
  */
class JdkHttpFetcher(timeoutSeconds: Int = 30, attempts: Int = 4)
    extends Fetcher {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.ALWAYS)
    .connectTimeout(Duration.ofSeconds(timeoutSeconds))
    .build()

  override def get(url: String): FetchResponse =
    Fetcher.withRetry(attempts) {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(timeoutSeconds))
        // exact reference header set (api_client.py:36-41; the JDK client
        // manages Connection itself)
        .header("User-Agent", "Climate Policy Radar Data Ingestion Service")
        .header("Accept",
          "text/html,application/xhtml+xml,application/xml;q=0.9,image/webp,*/*;q=0.8")
        .header("Accept-Language", "en-US,en;q=0.5")
        .GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() >= 400)
        throw new HttpStatusError(resp.statusCode(), url)
      FetchResponse(resp.statusCode(), resp.body(),
        resp.headers().firstValue("Content-Type").orElse(""))
    }
}
