package graft.engine

import graft.embed.Embedder
import graft.parser.QueryParser
import graft.parser.QueryParser._
import graft.vec.VectorOps

/** Image-byte source for URL query terms and ingest (reference S4,
  * `rclip_server.py:73-83`). HTTP is a deployment concern; offline builds
  * plug a deterministic fake. */
trait ImageFetcher extends Serializable {
  def fetch(url: String): Array[Byte]
}

/** Deterministic stand-in: the "image" at a URL is the URL's UTF-8 bytes.
  * Keeps URL-term resolution (Q4) testable with zero egress. */
object FakeImageFetcher extends ImageFetcher {
  def fetch(url: String): Array[Byte] = url.getBytes("UTF-8")
}

/** Production fetcher: plain `java.net` GET with the polite UA header the
  * reference sends (`rclip_server.py:75-79`). Not exercised in the
  * offline build (zero egress) — tests and oracles use
  * [[FakeImageFetcher]]. */
final class HttpImageFetcher(
    userAgent: String = "graft/0.1 (batch embedding indexer)",
    timeoutMs: Int = 30000) extends ImageFetcher {
  def fetch(url: String): Array[Byte] = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestProperty("User-Agent", userAgent)
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    val in = conn.getInputStream
    try in.readAllBytes()
    finally { in.close(); conn.disconnect() }
  }
}

/** Point lookups the resolver needs from the stored corpus (J2 / Q5 / Q7):
  * implemented by the engine against the cached images DataFrame. */
trait StoredVectors {
  /** Embedding of the stored row with this id, if present. */
  def byId(id: Long): Option[Array[Float]]
  /** A stored embedding chosen uniformly at random (engine seeds it). */
  def random(): Option[Array[Float]]
}

/** Term resolution + combine — the reference's `guess_user_intent`
  * (SURVEY §2.7 Q4–Q12; `rclip_server.py:108-188`). Pure driver-side: the
  * output is a unit `Array[Float]`, which then travels into the scored
  * scan as a plan literal.
  *
  * Per-term memoization mirrors the reference's `functools.lru_cache`
  * (default maxsize 128, `rclip_server.py:144`).
  */
final class TermResolver(
    embedder: Embedder,
    stored: StoredVectors,
    fetcher: ImageFetcher = FakeImageFetcher,
    cacheSize: Int = 128) {

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private val cache =
    new java.util.LinkedHashMap[String, Option[Array[Float]]](cacheSize, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Array[Float]]]): Boolean =
        size() > cacheSize
    }

  /** Resolve a full query string to its combined unit vector (Q10);
    * None when nothing parses (Q11). */
  def resolve(q: String): Option[Array[Float]] = {
    val terms = QueryParser.parse(q)
    val contribs = terms.flatMap { t =>
      resolveTerm(t.body).map(v => t.weight -> v)
    }
    VectorOps.combine(contribs)
  }

  /** Resolve one term body (memoized on its text). */
  def resolveTerm(body: TermBody): Option[Array[Float]] = {
    val key = body match {
      case JsonTerm(t) => t
      case b           => b.text
    }
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else {
      // computed outside the lock: a miss can run a Spark job (image_id)
      // or a fetch (URL), and concurrent requests must not wait on it. A
      // racing duplicate is pure, so the first insert wins.
      val v = resolveUncached(body)
      val raced = cache.synchronized(cache.putIfAbsent(key, v))
      if (raced != null) raced else v
    }
  }

  private def resolveUncached(body: TermBody): Option[Array[Float]] = body match {
    case JsonTerm(raw)  => resolveJson(raw)
    case Group(inner)   =>
      // Outer parens stripped (Q3) then re-dispatched: the inner text can
      // itself be a URL, JSON, or plain words (`rclip_server.py:134,144+`).
      QueryParser.parse(inner) match {
        case Seq(single) if single.weight == 1.0f => resolveTerm(single.body)
        case _                                    => resolveText(inner)
      }
    case Words(t)  => resolveText(t)
    case Quoted(t) => resolveText(t)
  }

  private def resolveText(t: String): Option[Array[Float]] =
    if (t.isEmpty) None
    else if (t.matches("(?i)^https?://.*")) // Q4: URL → download + image-embed
      Some(VectorOps.normalize(embedder.embedImage(fetcher.fetch(t))))
    else Some(embedder.embedText(t)) // Q9

  private def resolveJson(raw: String): Option[Array[Float]] = {
    val parsed =
      try Some(JsonMethods.parse(raw))
      catch { case _: Throwable => None }
    parsed.flatMap { j =>
      (j \ "image_id") match {
        case JInt(n)    => stored.byId(n.toLong) // Q5
        case JLong(n)   => stored.byId(n)
        case _ =>
          (j \ "clip_embedding") match {
            case JArray(xs) => // Q6: literal vector in the query string
              Some(xs.map {
                case JDouble(d)  => d.toFloat
                case JInt(n)     => n.toFloat
                case JLong(n)    => n.toFloat
                case JDecimal(d) => d.toFloat
                case _           => 0.0f
              }.toArray)
            case _ =>
              if ((j \ "random_img") != JNothing) stored.random() // Q7
              else
                (j \ "random_seed") match {
                  case JInt(n)  => Some(seededUnitVector(n.toLong)) // Q8
                  case JLong(n) => Some(seededUnitVector(n))
                  case _        => None
                }
          }
      }
    }
  }

  /** Q8: deterministic Gaussian unit vector per seed
    * (`rclip_server.py:164-174`; java.util.Random replaces CPython's
    * Mersenne gauss — semantics are "stable per seed", not bit-parity,
    * SURVEY §7.4). */
  def seededUnitVector(seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val v = new Array[Float](embedder.dim)
    var i = 0
    while (i < v.length) { v(i) = rnd.nextGaussian().toFloat; i += 1 }
    VectorOps.normalize(v)
  }

  def cacheStats: (Int, Int) = cache.synchronized((cache.size(), cacheSize))
}
