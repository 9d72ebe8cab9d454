package graft.http

import graft.SparkSpec
import graft.embed.{DeterministicEmbedder, Embedder}
import graft.engine.{RClipEngine, SnapshotStore}
import com.fasterxml.jackson.databind.ObjectMapper
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

class HttpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def freshEngine(
      embedder: Embedder = new DeterministicEmbedder(64)): RClipEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-http").toString
    val store = new SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    new RClipEngine(spark, store, embedder, censorKey = Some("secret"))
  }
  private lazy val engine: RClipEngine = freshEngine()
  private lazy val server: RClipHttpServer =
    new RClipHttpServer(engine).start()
  private def base = s"http://localhost:${server.boundPort}"

  private def get(path: String): (Int, String, String) = getFrom(base, path)

  private def getFrom(root: String, path: String): (Int, String, String) = {
    val conn = new URL(root + path).openConnection()
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

  test("concurrent mixed requests each get the serial answer") {
    val paths = (0 until 8).map { t =>
      (0 until 25).map { i =>
        val n = t * 25 + i
        (n % 3) match {
          case 0 =>
            val q = if (n % 9 == 0) s"""{"image_id":${n + 1}} -label${n % 10}"""
              else s"label${n % 10} -label${(n / 10) % 10} x$n"
            s"/search_api?q=${java.net.URLEncoder.encode(q, UTF_8)}&num=1000"
          case 1 => s"/similar_words?q=label${n % 10}+w$n"
          case _ => s"/clip_embedding?q=label${n % 10}+e$n"
        }
      }
    }
    // serial answers from one server, concurrent ones from a second over a
    // cold engine, so concurrent requests also race on resolver misses and
    // on the first build of the serving matrix
    val serialServer = new RClipHttpServer(freshEngine()).start()
    val coldServer = new RClipHttpServer(freshEngine()).start()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val serial = paths.flatten.map(p =>
        p -> getFrom(s"http://localhost:${serialServer.boundPort}", p)).toMap
      assert(serial.values.forall(_._1 == 200))
      val answers = pool.invokeAll(paths.map { ps =>
        (() => ps.map(p => p -> getFrom(s"http://localhost:${coldServer.boundPort}", p))):
          Callable[Seq[(String, (Int, String, String))]]
      }.asJava).asScala.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(answers.length == 200)
      answers.foreach { case (p, got) => assert(got == serial(p), p) }
    } finally {
      pool.shutdownNow()
      serialServer.stop()
      coldServer.stop()
    }
  }

  test("a request over the admission cap is answered 503 with Retry-After, " +
    "not a reset") {
    val s2 = new RClipHttpServer(engine).start()
    val addr = new java.net.InetSocketAddress("localhost", s2.boundPort)
    val held = scala.collection.mutable.ArrayBuffer.empty[java.net.Socket]
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
      assert(cond)
    }
    def request(): HttpURLConnection = {
      val c = new URL(s"http://localhost:${s2.boundPort}/search_api?q=label1")
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(10000)
      c.setReadTimeout(30000)
      c
    }
    try {
      // each socket sends half a request: its exchange holds a worker (or
      // a queue slot) reading headers until the socket closes
      (1 to RClipHttpServer.MaxPending).foreach { _ =>
        val sock = new java.net.Socket()
        held += sock
        sock.connect(addr, 10000)
        sock.getOutputStream.write("GET /search_api?q=label1 HTTP/1.1\r\n".getBytes(UTF_8))
        sock.getOutputStream.flush()
      }
      await(s2.pending == RClipHttpServer.MaxPending)
      val over = request()
      assert(over.getResponseCode == 503)
      assert(over.getHeaderField("Retry-After") == "1")
      over.disconnect()
      held.foreach(_.close())
      await(s2.pending == 0)
      val after = request()
      assert(after.getResponseCode == 200)
      after.disconnect()
    } finally {
      held.foreach(_.close())
      s2.stop()
    }
  }

  test("past the admission cap, a half-sent request holds the dispatcher " +
    "only until the request deadline; a later request still gets its 503") {
    // URL terms embed through embedImage, which blocks here: the requests
    // on the workers stay in their handlers, so the gate stays full
    val release = new CountDownLatch(1)
    val base64 = new DeterministicEmbedder(64)
    val blocking = new Embedder {
      val dim: Int = 64
      def embedText(text: String): Array[Float] = base64.embedText(text)
      def embedImage(bytes: Array[Byte]): Array[Float] = {
        release.await()
        base64.embedImage(bytes)
      }
    }
    val s2 = new RClipHttpServer(freshEngine(blocking)).start()
    val addr = new java.net.InetSocketAddress("localhost", s2.boundPort)
    val held = scala.collection.mutable.ArrayBuffer.empty[java.net.Socket]
    def send(text: String): Unit = {
      val sock = new java.net.Socket()
      held += sock
      sock.connect(addr, 10000)
      sock.getOutputStream.write(text.getBytes(UTF_8))
      sock.getOutputStream.flush()
    }
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
      assert(cond)
    }
    def request(): HttpURLConnection = {
      val c = new URL(s"http://localhost:${s2.boundPort}/search_api?q=label1")
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(10000)
      c.setReadTimeout((RClipHttpServer.MaxRequestSeconds + 60) * 1000)
      c
    }
    try {
      (1 to RClipHttpServer.MaxPending).foreach { _ =>
        send("GET /search_api?q=https%3A%2F%2Fexample.com%2Fa.jpg HTTP/1.1\r\n" +
          "Host: localhost\r\n\r\n")
      }
      await(s2.pending == RClipHttpServer.MaxPending)
      // over the cap: the dispatcher runs this exchange itself and blocks
      // reading its headers until the deadline closes the connection
      send("GET /search_api?q=label1 HTTP/1.1\r\n")
      Thread.sleep(500)
      val t0 = System.nanoTime()
      val over = request()
      assert(over.getResponseCode == 503)
      assert(over.getHeaderField("Retry-After") == "1")
      over.disconnect()
      // the 503 waited for the deadline, so the stall was real
      assert((System.nanoTime() - t0) / 1e9 > RClipHttpServer.MaxRequestSeconds / 2)
      release.countDown()
      await(s2.pending == 0)
      val after = request()
      assert(after.getResponseCode == 200)
      after.disconnect()
    } finally {
      release.countDown()
      held.foreach(_.close())
      s2.stop()
    }
  }

  test("concurrent censors of different ids both land") {
    val s2 = new RClipHttpServer(freshEngine()).start()
    val root = s"http://localhost:${s2.boundPort}"
    def ids(): Set[Long] = {
      val (code, body, _) = getFrom(root, "/search_api?q=label5&num=2147483647")
      assert(code == 200)
      mapper.readTree(body).elements().asScala.map(_.get(0).asLong()).toSet
    }
    val (a, b) = (7L, 11L)
    val before = ids()
    assert(before.contains(a) && before.contains(b))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val answers = Seq(a, b).map { id =>
        pool.submit((() => {
          start.await()
          getFrom(root, s"/censor/$id?censorship_key=secret")
        }): Callable[(Int, String, String)])
      }
      start.countDown()
      Seq(a, b).zip(answers.map(_.get(120, TimeUnit.SECONDS))).foreach {
        case (id, (code, body, _)) =>
          assert(code == 200, body)
          assert(mapper.readTree(body).get("msg").asText() == s"Ok. $id is now censored")
      }
      val left = ids()
      assert(!left.contains(a) && !left.contains(b))
    } finally {
      pool.shutdownNow()
      s2.stop()
    }
  }

  test("stop() leaves no worker thread alive") {
    val s2 = new RClipHttpServer(engine).start()
    val prefix = s"graft-http-${s2.boundPort}-"
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    val pool = Executors.newFixedThreadPool(4)
    try {
      pool.invokeAll((1 to 8).map { i =>
        (() => new URL(s"http://localhost:${s2.boundPort}/clip_embedding?q=w$i")
          .openConnection().asInstanceOf[HttpURLConnection].getResponseCode): Callable[Int]
      }.asJava).asScala.foreach(f => assert(f.get() == 200))
    } finally pool.shutdownNow()
    assert(workers.nonEmpty)
    s2.stop()
    assert(workers.isEmpty, workers.map(_.getName))
  }

  test("sequential keep-alive searches are not held by delayed ACKs: " +
    "median of 30 num=1000 requests under 20 ms") {
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"$base/search_api?q=label4+-label7&num=1000")).GET().build()
    def once(): Double = {
      val t0 = System.nanoTime()
      val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }
    // the stall's fix is the JDK's NODELAY property, set before the first
    // server is created; check it directly so a slow host's timing is
    // told apart from a lost setting
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    (1 to 10).foreach(_ => once()) // warm: index build, JIT
    val ms = (1 to 30).map(_ => once()).sorted
    assert(ms(15) < 20.0, ms)
  }
}
