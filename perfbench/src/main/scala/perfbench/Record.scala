package perfbench

import scala.collection.mutable

/** What one run reports: metrics with units, operation counts, the output
  * checks that failed (with their cause), and free-form context (sample
  * counts, host attestation, regime guards). */
final class Record(val workload: String, val seed: Long, val trace: Boolean) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failedOps = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A failed output check or regime guard: counted as a failed operation
    * and listed with its cause. */
  def fail(cause: String, ops: Long = 1L): Unit = {
    failures += cause
    failedOps += ops
  }

  def correct: Boolean = failures.isEmpty

  def toJson: String = {
    val m = Http.mapper
    val root = m.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    root.put("trace", if (trace) 1 else 0)
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failedOps)
    val ms = root.putObject("metrics")
    metrics.foreach { case (k, (v, u)) =>
      val o = ms.putObject(k); o.put("value", v); o.put("unit", u)
    }
    val fs = root.putArray("failures")
    failures.foreach(fs.add)
    root.set[com.fasterxml.jackson.databind.JsonNode]("info", m.valueToTree(Record.javaify(info)))
    m.writeValueAsString(root)
  }
}

object Record {
  def javaify(x: Any): Any = x match {
    case mm: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      mm.foreach { case (k, v) => out.put(k.toString, javaify(v)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(v => out.add(javaify(v)))
      out
    case a: Array[_] => javaify(a.toSeq)
    case o => o
  }
}
