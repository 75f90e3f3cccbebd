package loopbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Everything one benchmark run measured, unreduced: run.py computes
  * medians, percentiles and lateness from it, so that accounting lives
  * in one tested place.
  */
final class Record(val workload: String, val seed: Long, val traced: Boolean) {
  val setupS = mutable.ArrayBuffer[Double]()
  private val series = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val values = mutable.LinkedHashMap[String, Double]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** Open-loop requests: (due, sent, done) in ns since the phase began,
    * and whether the response was correct.
    */
  val openLoop = mutable.ArrayBuffer[(Long, Long, Long, Boolean)]()
  @volatile var attempted = 0L
  @volatile var failed = 0L
  var counters: Map[String, Map[String, Double]] = Map.empty
  var tracedOps = 0

  def add(name: String, v: Double): Unit = synchronized {
    series.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }

  /** Record an output check; a failed check fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    synchronized { checks += ((name, ok, if (ok) "" else detail)) }
    if (!ok) System.err.println(s"[loopbench] check failed: $name: $detail")
    ok
  }

  /** Count one attempted operation; `ok = false` also counts a failure. */
  def attempt(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  def toJson: String = synchronized {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", workload).put("seed", seed).put("traced", traced)
      .put("attempted", attempted).put("failed", failed)
      .put("traced_ops", tracedOps)
    val su = root.putArray("setup_s"); setupS.foreach(su.add(_))
    val se = root.putObject("series")
    series.foreach { case (k, vs) => val a = se.putArray(k); vs.foreach(a.add(_)) }
    val va = root.putObject("values")
    values.foreach { case (k, v) => va.put(k, v) }
    val ch = root.putArray("checks")
    checks.foreach { case (n, ok, d) =>
      ch.addObject().put("name", n).put("ok", ok).put("detail", d) }
    val ol = root.putArray("open_loop")
    openLoop.foreach { case (due, sent, done, ok) =>
      ol.addArray().add(due).add(sent).add(done).add(ok) }
    val co: ObjectNode = root.putObject("counters")
    counters.foreach { case (span, cs) =>
      val o = co.putObject(span); cs.foreach { case (k, v) => o.put(k, v) } }
    m.writeValueAsString(root)
  }
}
