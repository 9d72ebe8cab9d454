package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** One completed HTTP exchange, as the client saw it. */
final case class Exchange(client: Int, path: String, q: String, sendNs: Long,
    recvNs: Long, status: Int, body: Array[Byte]) {
  def ms: Double = (recvNs - sendNs) / 1e6
  def ok: Boolean = status == 200
}

/** Client side of the benchmark: `java.net.http.HttpClient` against the
  * server on localhost. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  private def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)

  def get(clientId: Int, path: String, q: String = ""): Exchange = {
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .timeout(java.time.Duration.ofSeconds(120)).GET().build()
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
        (r.statusCode(), r.body())
      } catch {
        case _: java.io.IOException => (-1, Array.emptyByteArray)
      }
    Exchange(clientId, path, q, t0, System.nanoTime(), status, body)
  }

  def search(clientId: Int, q: String, num: Int): Exchange =
    get(clientId, s"/search_api?q=${enc(q)}&num=$num", q)

  def censor(clientId: Int, id: Long, key: String): Exchange =
    get(clientId, s"/censor/$id?censorship_key=${enc(key)}", id.toString)

  def embedding(q: String): Option[Array[Float]] = {
    val ex = get(-1, s"/clip_embedding?q=${enc(q)}", q)
    if (!ex.ok) None
    else {
      val node = Http.mapper.readTree(ex.body).get("clip_embedding")
      if (node == null || node.isNull) None
      else Some(Array.tabulate(node.size())(i => node.get(i).asDouble().toFloat))
    }
  }
}

object Http {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `/search_api` body → (id, score) pairs. */
  def pairs(body: Array[Byte]): IndexedSeq[(Long, Double)] = {
    val node = mapper.readTree(body)
    (0 until node.size()).map { i =>
      val p = node.get(i)
      p.get(0).asLong() -> p.get(1).asDouble()
    }
  }

  def bodyText(body: Array[Byte]): String = new String(body, UTF_8)
}
