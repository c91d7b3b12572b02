package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span totals. A span is one timed call, named `phase|what`; Spark
  * work is attributed to it through the job group set around the call
  * (streaming batches carry their query's run id as job group).
  */
final class SpanAgg {
  val jobs, stages, tasks, runMs, cpuNs, scanBytes, shuffleWrite, shuffleRead,
    fetchWaitMs, spillBytes, writeBytes = new AtomicLong
}

/** The traced run's instrumentation: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, all
  * registered from the benchmark. Everything is kept in memory and read
  * once at the end; the time spent inside the callbacks is measured too.
  */
final class Trace(spark: SparkSession) {
  val spans = TrieMap.empty[String, SpanAgg]
  private val stageSpan = TrieMap.empty[Int, String]
  private val runSpan = TrieMap.empty[String, String]
  val callbackNs = new AtomicLong
  val planningMs = new AtomicLong
  /** Streaming progress fields summed over every batch of every query. */
  val progress = TrieMap.empty[String, AtomicLong]
  /** Last reported state rows / memory per query. */
  val stateRows = TrieMap.empty[String, Long]
  val stateMem = TrieMap.empty[String, Long]

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }
  private def span(id: String): SpanAgg = spans.getOrElseUpdate(id, new SpanAgg)
  private def bump(k: String, v: Long): Unit = progress.getOrElseUpdate(k, new AtomicLong).addAndGet(v)

  /** Streaming jobs run under their query's run id; name that span. */
  def nameRun(runId: java.util.UUID, name: String): Unit = runSpan(runId.toString) = name

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("untraced")
      val id = runSpan.getOrElse(group, group)
      e.stageIds.foreach(stageSpan(_) = id)
      span(id).jobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      span(stageSpan.getOrElse(e.stageInfo.stageId, "untraced")).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val a = span(stageSpan.getOrElse(e.stageId, "untraced"))
        a.tasks.incrementAndGet()
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.scanBytes.addAndGet(m.inputMetrics.bytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        a.spillBytes.addAndGet(m.diskBytesSpilled)
        a.writeBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(observe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(observe(qe))
    private def observe(qe: QueryExecution): Unit = {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      p.durationMs.asScala.foreach { case (k, v) => bump(s"duration.$k", v.longValue) }
      bump("batches", 1)
      val name = Option(p.name).getOrElse(p.id.toString)
      stateRows(name) = p.stateOperators.map(_.numRowsTotal).sum
      stateMem(name) = p.stateOperators.map(_.memoryUsedBytes).sum
      bump("state.commitMs", p.stateOperators.map(_.commitTimeMs).sum)
    }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Wait until every event posted so far (streaming progress included)
    * has reached the listeners.
    */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span's totals, written out once at the end of the run. */
  def spanTotals: Map[String, Map[String, Long]] =
    scala.collection.immutable.TreeMap(spans.toSeq.map { case (id, a) =>
      id -> Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "scan_bytes" -> a.scanBytes,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spillBytes,
        "write_bytes" -> a.writeBytes).map { case (k, v) => k -> v.get }.toMap
    }: _*)

  /** Totals over the spans whose id satisfies `keep`. */
  def total(keep: String => Boolean)(f: SpanAgg => AtomicLong): Long =
    spans.collect { case (id, a) if keep(id) => f(a).get }.sum
}

object Trace {
  /** Wall-clock GC time of every collector so far, in seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Sets the job group around `f` when traced, so the spans see its work. */
  def within[A](trace: Option[Trace], spark: SparkSession, id: String)(f: => A): A =
    trace match {
      case None => f
      case Some(_) =>
        spark.sparkContext.setJobGroup(id, id)
        try f finally spark.sparkContext.clearJobGroup()
    }

  /** The per-layer metrics shared by every workload, over the spans `keep`
    * selects and the `planningMs` the timed calls planned for, scaled by
    * `per` (the number of passes they cover).
    */
  def report(t: Trace, rec: Record, keep: String => Boolean, wallS: Double, cores: Int,
             planningMs: Long, per: Double = 1.0): Unit = {
    def tot(f: SpanAgg => AtomicLong) = t.total(keep)(f) / per
    rec.value("planning.s", planningMs / 1e3 / per)
    rec.value("trace.callback_s", t.callbackNs.get / 1e9)
    rec.value("scheduling.jobs", tot(_.jobs))
    rec.value("scheduling.stages", tot(_.stages))
    rec.value("scheduling.tasks", tot(_.tasks))
    val taskS = tot(_.runMs) / 1e3
    rec.value("compute.task_s", taskS)
    rec.value("compute.cpu_s", tot(_.cpuNs) / 1e9)
    rec.value("compute.busy_ratio", if (wallS > 0) taskS * per / (wallS * cores) else 0.0)
    rec.value("scan.bytes", tot(_.scanBytes))
    rec.value("shuffle.write_bytes", tot(_.shuffleWrite))
    rec.value("shuffle.read_bytes", tot(_.shuffleRead))
    rec.value("shuffle.fetch_wait_s", tot(_.fetchWaitMs) / 1e3)
    rec.value("spill.bytes", tot(_.spillBytes))
    rec.value("write.bytes", tot(_.writeBytes))
  }
}
