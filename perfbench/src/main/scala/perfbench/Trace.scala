package perfbench

/** In-memory spans around the benchmark's calls into each layer. One
  * request's spans share `req`; `parent` is the span that caused this one
  * (0 for a request's root). Written out once, when the run ends. */
final case class Span(req: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

final class Tracer {
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()

  /** Run `f` inside a span named `name`; `f` receives the span's id so it
    * can parent child spans. */
  def span[A](req: Long, parent: Long, name: String)(f: Long => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(req, id, parent, name, t0, t1) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sp = all
    val self = Tracer.selfTimes(sp)
    val lines = sp.sortBy(_.startNs).map { s =>
      s"""{"req":${s.req},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** A span's duration minus the part of its interval that its children
    * cover (overlapping children are counted once). */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val kids = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Self time of every span, by span id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, byParent.getOrElse(s.id, Nil))).toMap
  }
}
