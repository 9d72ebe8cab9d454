package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.{RClipEngine, RedirectUrl, ResizedBytes, SvgPlaceholder}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ArrayBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The reference's HTTP surface (`rclip_server.py:376-492`) over the
  * engine façade — every endpoint, same paths, same response shapes —
  * on the JDK's built-in `com.sun.net.httpserver` (zero dependencies;
  * the server is a deployment veneer, ALL query semantics live in
  * [[RClipEngine]], which is what the correctness gates exercise).
  *
  * Endpoints: `/` + `/search` (HTML shell), `/search_api` ([[id, score]]
  * pairs), `/similar_words` ({similar_words, similar_phrases}),
  * `/clip_embedding`, `/clip_text_embedding`, `/visualize_clip_embedding`
  * (HTML fragment), `/censor/{id}` (key-gated), `/reload` (redirect `/`),
  * `/img/{id}` (redirect), `/thm/{id}` (placeholder SVG / redirect /
  * resized bytes), `/info/{id}`, `/copyright_message`, and S9 static
  * assets (`/js/...`, served from an optional assets dir — the
  * reference's `FileResponse('./assets/...')`).
  *
  * Requests run on a fixed pool of one daemon worker per available
  * processor (the reference serves from uvicorn worker threads) with a
  * bounded queue: past [[RClipHttpServer.MaxPending]] requests in flight
  * or queued, the pool rejects the exchange, the JDK's dispatcher thread
  * runs it instead, and the route answers 503 with `Retry-After` rather
  * than queueing without bound. Accepted sockets get TCP_NODELAY: the JDK
  * writes the response headers and the body separately, and with Nagle
  * on the body waits for the client's (delayed, ~40 ms) ACK of the
  * headers. A request whose headers have not arrived within
  * [[RClipHttpServer.MaxRequestSeconds]] is closed, so a client that
  * sends half a request holds a worker, or the dispatcher over the cap,
  * for a bounded time.
  */
final class RClipHttpServer(
    engine: RClipEngine,
    port: Int = 0,
    assetsDir: Option[String] = None,
    // the /thm local-resize ports — deployments plug HttpImageFetcher and
    // a real codec here; the defaults are the offline stubs
    fetcher: graft.engine.ImageFetcher = graft.engine.FakeImageFetcher,
    decoder: graft.multimodal.MultimodalOps.MediaDecoder =
      graft.multimodal.MultimodalOps.FakeMediaDecoder) {

  private val mapper = new ObjectMapper()
  private val server = RClipHttpServer.bind(port)
  // set on the dispatcher thread while it runs an exchange the pool
  // rejected: the route then answers 503 (an exception out of `execute`
  // would make the JDK drop the connection instead of answering)
  private val shedding = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val workers: ThreadPoolExecutor = {
    val n = Runtime.getRuntime.availableProcessors()
    val prefix = s"graft-http-${boundPort}-"
    val made = new AtomicInteger(0)
    new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
      new ArrayBlockingQueue[Runnable](math.max(1, RClipHttpServer.MaxPending - n)),
      (r: Runnable) => {
        val t = new Thread(r, prefix + made.incrementAndGet())
        t.setDaemon(true)
        t
      },
      (r: Runnable, _: ThreadPoolExecutor) => {
        shedding.set(true)
        try r.run() finally shedding.set(false)
      })
  }
  server.setExecutor(workers)

  /** Bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------ plumbing

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def send(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String, extra: Map[String, String] = Map.empty): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    extra.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, body.length)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def json(ex: HttpExchange, value: Any): Unit =
    send(ex, 200, mapper.writeValueAsBytes(value), "application/json")

  private def html(ex: HttpExchange, body: String): Unit =
    send(ex, 200, body.getBytes(UTF_8), "text/html",
      Map("Cache-Control" -> "public, max-age=3600"))

  private def redirect(ex: HttpExchange, to: String): Unit =
    send(ex, 307, Array.emptyByteArray, "text/plain",
      Map("Location" -> to))

  private def notFound(ex: HttpExchange): Unit =
    send(ex, 404, "not found".getBytes(UTF_8), "text/plain")

  private def badRequest(ex: HttpExchange, msg: String): Unit =
    send(ex, 400, msg.getBytes(UTF_8), "text/plain")

  /** Query parameter `name` as an Int in [lo, hi], `default` when absent;
    * None (answered 400, like the reference's typed `int`) otherwise. */
  private def intParam(ps: Map[String, String], name: String, default: Int,
      lo: Int, hi: Int): Option[Int] =
    ps.get(name) match {
      case None => Some(default)
      case Some(s) => s.toIntOption.filter(n => n >= lo && n <= hi)
    }

  private def handle(path: String)(f: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try {
        if (shedding.get)
          send(ex, 503, "server busy".getBytes(UTF_8), "text/plain",
            Map("Retry-After" -> "1"))
        else f(ex)
      } catch {
        // NonFatal only: a VM error (OOM, stack overflow) must propagate,
        // not masquerade as a 500. The body is generic — exception
        // messages carry internal paths/SQL and belong in the server log.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[http] $path failed: $e")
          send(ex, 500, "internal error".getBytes(UTF_8), "text/plain")
      })

  /** Trailing path segment as a long id (`/thm/{id}` style). */
  private def pathId(ex: HttpExchange): Option[Long] =
    ex.getRequestURI.getPath.split("/").lastOption
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  // ------------------------------------------------------------ payloads

  /** [[id, score]] pairs — the reference's `search_api` shape
    * (`rclip_server.py:386-393`). Served from the typed `searchRows`
    * path: identical rows to `search()`, but an interactive request on
    * the RAM-matrix regime never touches the query planner. */
  private def searchPairs(q: String, num: Int): java.util.List[Any] = {
    val out = new java.util.ArrayList[Any]()
    engine.searchRows(q, num).foreach { case (id, score) =>
      val pair = new java.util.ArrayList[Any]()
      pair.add(id); pair.add(score)
      out.add(pair)
    }
    out
  }

  private def floatList(v: Array[Float]): java.util.List[java.lang.Double] = {
    val l = new java.util.ArrayList[java.lang.Double]()
    v.foreach(x => l.add(java.lang.Double.valueOf(x.toDouble)))
    l
  }

  /** The visualize fragment: one colored cell per dimension (the
    * reference renders seaborn colors into an HTML strip, `:253-273`). */
  private def visualizeHtml(q: String): String =
    engine.visualize(q).map { c =>
      f"""<span class="dim" style="background:${c.color}" title="dim ${c.dim}: ${c.value}%.4f"></span>"""
    }.mkString("""<div class="embedding-viz">""", "", "</div>")

  /** Minimal embedded HTML shell (the reference ships a Vue app from
    * `./assets`; an assetsDir overrides this stub the same way). */
  private val shell: String =
    """<!doctype html><html><head><title>graft</title></head>
      |<body><h1>graft</h1>
      |<form action="/search"><input name="q"><button>search</button></form>
      |<p>API: /search_api?q=, /similar_words?q=, /clip_embedding?q=,
      |/visualize_clip_embedding?q=, /thm/{id}, /info/{id}</p>
      |</body></html>""".stripMargin

  // ------------------------------------------------------------ routes

  handle("/") { ex =>
    val p = ex.getRequestURI.getPath
    if (p == "/" || p == "/index.html") html(ex, shellBody())
    else assetsDir match {
      // S9: static assets (the reference's ./assets + /js/vue...)
      case Some(dir) =>
        val f = java.nio.file.Paths.get(dir, p).normalize()
        if (f.startsWith(java.nio.file.Paths.get(dir)) &&
            java.nio.file.Files.isRegularFile(f))
          send(ex, 200, java.nio.file.Files.readAllBytes(f),
            contentTypeOf(p), Map("Cache-Control" -> "public, max-age=172800"))
        else notFound(ex)
      case None => notFound(ex)
    }
  }

  private def shellBody(): String = assetsDir
    .map(d => java.nio.file.Paths.get(d, "rclip_server.html"))
    .filter(java.nio.file.Files.isRegularFile(_))
    .map(p => new String(java.nio.file.Files.readAllBytes(p), UTF_8))
    .getOrElse(shell)

  private def contentTypeOf(p: String): String =
    if (p.endsWith(".js")) "application/javascript"
    else if (p.endsWith(".html")) "text/html"
    else if (p.endsWith(".css")) "text/css"
    else if (p.endsWith(".svg")) "image/svg+xml"
    else "application/octet-stream"

  handle("/search") { ex => html(ex, shellBody()) }

  handle("/search_api") { ex =>
    // any non-negative Int: the engine's top-k is bounded by the live
    // rows, so num = Int.MaxValue returns every row and allocates no more
    val ps = params(ex)
    intParam(ps, "num", 12, 0, Int.MaxValue) match {
      case Some(num) => json(ex, searchPairs(ps.getOrElse("q", ""), num))
      case None => badRequest(ex, "num must be a non-negative integer")
    }
  }

  handle("/similar_words") { ex =>
    val ps = params(ex)
    val q = ps.getOrElse("q", "")
    val m = new java.util.LinkedHashMap[String, Any]()
    // words half from the typed RAM-map path (identical rows, no planner)
    val sw = new java.util.ArrayList[Any]()
    engine.similarWordsRows(q, 50).foreach { case (w, s) =>
      val pair = new java.util.ArrayList[Any]()
      pair.add(w); pair.add(s)
      sw.add(pair)
    }
    m.put("similar_words", sw)
    val sp = new java.util.ArrayList[Any]()
    engine.similarPhrasesRows(q, 50).foreach { case (p, s) =>
      val pair = new java.util.ArrayList[Any]()
      pair.add(p); pair.add(s)
      sp.add(pair)
    }
    m.put("similar_phrases", sp)
    json(ex, m)
  }

  handle("/clip_embedding") { ex =>
    val q = params(ex).getOrElse("q", "")
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("clip_embedding",
      engine.resolveEmbedding(q).map(floatList).orNull)
    json(ex, m)
  }

  handle("/clip_text_embedding") { ex =>
    val q = params(ex).getOrElse("q", "")
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("clip_text_embedding", floatList(engine.textEmbedding(q)))
    json(ex, m)
  }

  handle("/visualize_clip_embedding") { ex =>
    val q = params(ex).getOrElse("q", "")
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("clip_embedding", visualizeHtml(q))
    json(ex, m)
  }

  handle("/censor/") { ex =>
    val key = params(ex).getOrElse("censorship_key", "")
    val m = new java.util.LinkedHashMap[String, Any]()
    pathId(ex) match {
      case Some(id) if engine.censor(id, key) =>
        m.put("msg", s"Ok. $id is now censored")
      case _ =>
        m.put("error", "censorship key didn't match")
    }
    json(ex, m)
  }

  handle("/reload") { ex => engine.reload(); redirect(ex, "/") }

  handle("/img/") { ex =>
    pathId(ex).flatMap(id => engine.thumbnailUrl(id, 600)) match {
      case Some(url) => redirect(ex, url)
      case None      => notFound(ex)
    }
  }

  handle("/thm/") { ex =>
    intParam(params(ex), "size", 400, 1, RClipHttpServer.MaxThumbSize) match {
      case None => badRequest(ex,
        s"size must be an integer in [1, ${RClipHttpServer.MaxThumbSize}]")
      case Some(size) =>
        pathId(ex).flatMap(id => engine.thumbnail(id, size, fetcher, decoder)) match {
          case Some(SvgPlaceholder(svg)) =>
            send(ex, 200, svg.getBytes(UTF_8), "image/svg+xml",
              Map("Cache-Control" -> "public, max-age=172800"))
          case Some(RedirectUrl(url)) => redirect(ex, url)
          case Some(ResizedBytes(bytes)) =>
            send(ex, 200, bytes, "image/jpeg",
              Map("Cache-Control" -> "public, max-age=172800"))
          case None => notFound(ex)
        }
    }
  }

  handle("/info/") { ex =>
    pathId(ex).flatMap(engine.info) match {
      case Some((id, vec)) =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("image_id", id)
        m.put("clip_embedding", floatList(vec))
        json(ex, m)
      case None => notFound(ex)
    }
  }

  handle("/copyright_message") { ex => json(ex, engine.copyrightMessage) }

  // ------------------------------------------------------------ lifecycle

  def start(): RClipHttpServer = { server.start(); this }

  /** Closes the listener and every connection, then interrupts the
    * workers and waits for them to exit. */
  def stop(): Unit = {
    server.stop(0)
    workers.shutdownNow()
    workers.awaitTermination(30, TimeUnit.SECONDS)
  }

  /** Requests admitted and not yet finished (running or queued). */
  private[http] def pending: Int = workers.getActiveCount + workers.getQueue.size
}

object RClipHttpServer {
  /** Largest `/thm` size: a local resize allocates size × size·3/4 pixels. */
  val MaxThumbSize: Int = 4096

  /** Most requests in flight plus queued before new ones get 503: at the
    * ~47 ms of a `num=1000` search over 2^16 × 512 rows on four workers,
    * a full queue already waits about 3 s. */
  val MaxPending: Int = 256

  /** Longest a request may take to deliver its headers (its body too, if
    * it has one), counted from when the dispatcher first sees its bytes.
    * Time in the pool's queue counts, so this sits well above the wait of
    * a full queue (see [[MaxPending]]). */
  val MaxRequestSeconds: Int = 30

  /** Binds the JDK server with TCP_NODELAY and the request deadline on,
    * unless either property was set explicitly. The JDK reads both once,
    * when the first server in the JVM is created. */
  private def bind(port: Int): HttpServer = {
    def default(key: String, value: String): Unit =
      if (System.getProperty(key) == null) System.setProperty(key, value)
    default("sun.net.httpserver.nodelay", "true")
    default("sun.net.httpserver.maxReqTime", MaxRequestSeconds.toString)
    HttpServer.create(new InetSocketAddress(port), 0)
  }
}
