package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** What one benchmark JVM measured: raw samples, scalar values, and every
  * failed or wrong operation with its cause. Percentiles and the final
  * metrics are computed from these by `run.py`, so the JVM side only
  * records.
  */
final class Record {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Long]
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  /** (hub, stored rows, its sources as (table, key columns)), for the
    * distinct-key check `run.py` makes.
    */
  val hubs = mutable.ArrayBuffer.empty[(String, Long, Seq[(String, Seq[String])])]
  /** The traced run's spans: per span, its totals by name. */
  var spans: Map[String, Map[String, Long]] = Map.empty
  var attempted = 0L
  private var firstTimedCallMs: Long = -1L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def value(name: String, v: Double): Unit = values(name) = v
  def add(name: String, v: Double): Unit = values(name) = values.getOrElse(name, 0.0) + v

  /** Called once, right before the first timed call: set-up ends here. */
  def setupDone(): Unit = if (firstTimedCallMs < 0) firstTimedCallMs = System.currentTimeMillis()

  def setupSeconds: Double = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (firstTimedCallMs - jvmStart) / 1e3
  }

  /** Run one operation; a throw is recorded with its class and the first
    * line of its message, and the run goes on.
    */
  def attempt[A](op: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch { case e: Throwable => fail(op, e); None }
  }

  def fail(op: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).orElse(Option(root.getMessage)).getOrElse("")
    failures += ((op, e.getClass.getName, msg.linesIterator.nextOption().getOrElse("")))
  }

  /** A result check: a wrong result counts as a failure of `op`. */
  def check(op: String, ok: Boolean, what: => String): Unit =
    if (!ok) failures += ((op, "WrongResult", what))

  def toJson: String = Record.mapper.writeValueAsString(Map(
    "setup_s" -> setupSeconds,
    "attempted" -> attempted,
    "samples" -> samples,
    "values" -> values,
    "counts" -> counts,
    "spans" -> spans,
    "hubs" -> hubs.map { case (h, n, srcs) =>
      Map("hub" -> h, "rows" -> n, "sources" -> srcs.map { case (t, cs) => Map("table" -> t, "columns" -> cs) })
    },
    "oracle" -> oracle,
    "failures" -> failures.map { case (op, cls, msg) => Map("op" -> op, "class" -> cls, "message" -> msg) }))
}

object Record {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
