package graft.http

import graft.SparkSpec
import graft.embed.DeterministicEmbedder
import graft.engine.{RClipEngine, SnapshotStore}
import com.fasterxml.jackson.databind.ObjectMapper
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

class HttpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private lazy val engine: RClipEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-http").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    new RClipEngine(spark, store, new DeterministicEmbedder(64),
      censorKey = Some("secret"))
  }
  private lazy val server: RClipHttpServer =
    new RClipHttpServer(engine).start()
  private def base = s"http://localhost:${server.boundPort}"

  private def get(path: String): (Int, String, String) = {
    val conn = new URL(base + path).openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setInstanceFollowRedirects(false)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (stream == null) ""
      else new String(stream.readAllBytes(), UTF_8)
    val ct = Option(conn.getHeaderField("Content-Type")).getOrElse("")
    conn.disconnect()
    (code, body, ct)
  }

  test("/search_api returns [id, score] pairs like the reference") {
    val (code, body, ct) = get("/search_api?q=label5+-label6&num=5")
    assert(code == 200 && ct.startsWith("application/json"))
    val arr = mapper.readTree(body)
    assert(arr.isArray && arr.size() == 5)
    assert(arr.get(0).get(0).isIntegralNumber) // id
    assert(arr.get(0).get(1).isDouble)         // score
    // empty parse → empty list (Q11 through the HTTP layer)
    val (_, empty, _) = get("/search_api?q=%21%21%21")
    assert(mapper.readTree(empty).size() == 0)
  }

  test("/search_api rejects a non-integer or negative num with 400 and " +
    "bounds num = Int.MaxValue by the live rows, on both regimes") {
    for (bad <- Seq("-1", "abc", "1.5", "", "2147483648"))
      assert(get(s"/search_api?q=label5&num=$bad")._1 == 400, s"num=$bad")
    assert(mapper.readTree(get("/search_api?q=label5&num=0")._2).size() == 0)
    val all = get("/search_api?q=label5&num=2147483647")
    assert(all._1 == 200)
    assert(mapper.readTree(all._2).size() == engine.count())
    // the distributed regime answers the same: 400 before a Spark limit(-1)
    // can fail the request with 500, every live row at Int.MaxValue
    val store = new SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-http-dist").toString)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val dist = new RClipEngine(spark, store, new DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    val s2 = new RClipHttpServer(dist).start()
    try {
      def get2(p: String): (Int, String) = {
        val c = new URL(s"http://localhost:${s2.boundPort}$p").openConnection()
          .asInstanceOf[HttpURLConnection]
        val code = c.getResponseCode
        val st = if (code >= 400) c.getErrorStream else c.getInputStream
        (code, if (st == null) "" else new String(st.readAllBytes(), UTF_8))
      }
      assert(get2("/search_api?q=label5&num=-1")._1 == 400)
      val (code, body) = get2("/search_api?q=label5&num=2147483647")
      assert(code == 200 && mapper.readTree(body).size() == dist.count())
    } finally s2.stop()
  }

  test("/thm rejects a size outside [1, MaxThumbSize] with 400") {
    for (bad <- Seq("0", "-5", "abc", (RClipHttpServer.MaxThumbSize + 1).toString))
      assert(get(s"/thm/-1?size=$bad")._1 == 400, s"size=$bad")
    val (code, body, _) = get(s"/thm/-1?size=${RClipHttpServer.MaxThumbSize}")
    assert(code == 200 && body.contains(s"""width="${RClipHttpServer.MaxThumbSize}""""))
  }

  test("/ and /search serve the HTML shell") {
    val (code, body, ct) = get("/")
    assert(code == 200 && ct.startsWith("text/html") && body.contains("<form"))
    val (code2, body2, _) = get("/search?q=zebra")
    assert(code2 == 200 && body2.contains("<form"))
  }

  test("/clip_embedding and /clip_text_embedding return the vectors") {
    val (code, body, _) = get("/clip_embedding?q=label1")
    assert(code == 200)
    assert(mapper.readTree(body).get("clip_embedding").size() == 64)
    val (code2, body2, _) = get("/clip_text_embedding?q=label1")
    assert(code2 == 200)
    assert(mapper.readTree(body2).get("clip_text_embedding").size() == 64)
  }

  test("/similar_words returns words and phrases blocks") {
    val (code, body, _) = get("/similar_words?q=label3")
    val node = mapper.readTree(body)
    assert(code == 200)
    assert(node.has("similar_words") && node.has("similar_phrases"))
    assert(node.get("similar_words").get(0).get(0).isTextual)
  }

  test("/visualize_clip_embedding returns an HTML fragment per dim") {
    val (code, body, _) = get("/visualize_clip_embedding?q=label1")
    assert(code == 200)
    val frag = mapper.readTree(body).get("clip_embedding").asText()
    assert(frag.contains("embedding-viz"))
    assert("<span".r.findAllIn(frag).length == 64)
  }

  test("/thm/-1 is the placeholder SVG; /info returns id + embedding") {
    val (code, body, ct) = get("/thm/-1?size=100")
    assert(code == 200 && ct.startsWith("image/svg+xml"))
    assert(body.contains("<circle") && body.contains("width=\"100\""))
    val (code2, body2, _) = get("/info/1")
    val node = mapper.readTree(body2)
    assert(code2 == 200 && node.get("image_id").asLong() == 1L)
    assert(node.get("clip_embedding").size() == 64)
    assert(get("/info/99999")._1 == 404)
  }

  test("/censor is key-gated and mutates; /reload redirects home") {
    val n0 = engine.count()
    val (_, bad, _) = get("/censor/5?censorship_key=wrong")
    assert(mapper.readTree(bad).has("error"))
    assert(engine.count() == n0)
    val (_, ok, _) = get("/censor/5?censorship_key=secret")
    assert(mapper.readTree(ok).get("msg").asText().contains("5"))
    assert(engine.count() == n0 - 1)
    val (code, _, _) = get("/reload")
    assert(code == 307)
  }

  test("/copyright_message matches the engine's store-derived message") {
    val (code, body, _) = get("/copyright_message")
    assert(code == 200)
    assert(mapper.readTree(body).asText() == engine.copyrightMessage)
  }

  test("S9: static assets served from the assets dir, traversal blocked") {
    val assets = java.nio.file.Files.createTempDirectory("graft-assets")
    java.nio.file.Files.createDirectory(assets.resolve("js"))
    java.nio.file.Files.writeString(assets.resolve("js/vue.global.prod.js"),
      "// vue stub")
    java.nio.file.Files.writeString(assets.resolve("rclip_server.html"),
      "<html><body><form>real shell</form></body></html>")
    val s2 = new RClipHttpServer(engine, assetsDir = Some(assets.toString)).start()
    try {
      def get2(p: String): (Int, String) = {
        val c = new URL(s"http://localhost:${s2.boundPort}$p").openConnection()
          .asInstanceOf[HttpURLConnection]
        c.setInstanceFollowRedirects(false)
        val code = c.getResponseCode
        val st = if (code >= 400) c.getErrorStream else c.getInputStream
        (code, if (st == null) "" else new String(st.readAllBytes(), UTF_8))
      }
      val (code, body) = get2("/js/vue.global.prod.js")
      assert(code == 200 && body.contains("vue stub"))
      // the shell now comes from the assets dir, like the reference
      assert(get2("/")._2.contains("real shell"))
      assert(get2("/js/missing.js")._1 == 404)
      assert(get2("/..%2F..%2Fetc%2Fpasswd")._1 == 404)
    } finally s2.stop()
  }
}
