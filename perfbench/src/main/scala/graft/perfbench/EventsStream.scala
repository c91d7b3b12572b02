package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.Streams

/** `events_stream`: the events replayed in seeded, time-ordered
  * micro-batches (one landing file per trigger) through five
  * `graft.streaming.Streams` operators, each to a `memory` sink with
  * `Trigger.AvailableNow`. The memory sink materialises every row, as
  * `noop` would, and keeps them, so the timed output itself is checked
  * against the batch twin a spec already pins for the operator.
  *
  * Two landing dirs come from `run.py`: `raw` carries the redelivered
  * duplicates and feeds the operators built for redelivery
  * (`tumblingCounts`, `dedupStream`); `clean` is the same split without
  * them and feeds the per-user state machines.
  */
object EventsStream {

  private def land(c: Main.Ctx, kind: String): String = {
    val src = Paths.get(c.inputs, "feed", kind)
    val dst = Paths.get(c.work, "landing", kind)
    Files.createDirectories(dst)
    val names = scala.util.Using.resource(Files.list(src))(_.iterator().asScala.toList)
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
    names.zipWithIndex.foreach { case (n, i) => Main.land(src.resolve(n), dst.resolve(n), i) }
    dst.toString
  }

  private def events(c: Main.Ctx, dir: String): DataFrame = {
    val schema = c.spark.read.parquet(dir).schema
    val raw = c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    raw.withColumn("tms", graft.Tables.tmsFromTs(schema("ts").dataType)).drop("ts")
  }

  /** (name, input kind, output mode, operator) */
  val Queries: Seq[(String, String, String, DataFrame => DataFrame)] = Seq(
    ("tumbling_counts", "raw", "complete", df => Streams.tumblingCounts(df)),
    ("dedup", "raw", "append", df => Streams.dedupStream(df)),
    ("sessionize", "clean", "append", df => Streams.sessionize(df).toDF()),
    ("transitions", "clean", "append", df => Streams.transitionsStream(df).toDF()),
    ("attribution", "clean", "append", df => Streams.attributionStream(df).toDF()))

  /** Runs one operator over its landing dir into a memory sink named
    * `name`, until every landed file is processed.
    */
  private def runQuery(c: Main.Ctx, name: String, in: DataFrame, mode: String,
                       op: DataFrame => DataFrame): StreamingQuery = {
    val q = op(in).writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", s"${c.work}/ckpt/$name")
      .trigger(Trigger.AvailableNow()).start()
    c.trace.foreach(_.nameRun(q.runId, s"stream|$name"))
    q.awaitTermination()
    q
  }

  def run(c: Main.Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    val dirs = Map("raw" -> land(c, "raw"), "clean" -> land(c, "clean"))
    rec.setupDone()
    val gc0 = Trace.gcSeconds
    val planning0 = c.trace.map { t => t.drain(); t.planningMs.get }.getOrElse(0L)
    val wall0 = System.nanoTime()
    var rows = 0L
    Queries.foreach { case (name, kind, mode, op) =>
      Main.log(s"events_stream: $name")
      rec.attempt(s"stream:$name") {
        val q = runQuery(c, name, events(c, dirs(kind)), mode, op)
        val batches = q.recentProgress.flatMap(p => Option(p.durationMs.get("triggerExecution")))
          .map(_.longValue / 1e3)
        batches.headOption.foreach(v => rec.sample("first_batch_s", v))
        batches.drop(1).foreach(v => rec.sample("batch_s", v))
        rows += q.recentProgress.map(_.numInputRows).sum
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    rec.value("stream_wall_s", wallS)
    rec.value("input_rows", rows)
    rec.value("gc_s", Trace.gcSeconds - gc0)
    c.trace.foreach { t =>
      t.drain()
      Trace.report(t, rec, id => id != "untraced", wallS, c.cores, t.planningMs.get - planning0)
      Streaming.report(t, rec)
    }
    check(c, dirs)
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** Untimed: the sink contents against the batch twins. */
  private def check(c: Main.Ctx, dirs: Map[String, String]): Unit = {
    val spark = c.spark
    val rec = c.rec
    Main.log("events_stream: checks")
    def batch(kind: String): DataFrame = {
      val df = spark.read.parquet(dirs(kind))
      df.withColumn("tms", graft.Tables.tmsFromTs(df.schema("ts").dataType)).drop("ts")
    }
    def out(name: String): Option[DataFrame] =
      if (spark.catalog.tableExists(name)) Some(spark.table(name)) else None
    val raw = batch("raw")
    out("tumbling_counts").foreach { got =>
      rec.check("stream:tumbling_counts", sorted(got) == sorted(Streams.tumblingCounts(raw)),
        "tumbling counts differ from the batch run over the same input")
    }
    out("dedup").foreach { got =>
      val ids = got.select("event_id").collect().map(_.getLong(0))
      val want = raw.select("event_id").distinct().count()
      rec.check("stream:dedup", ids.length == want && ids.distinct.length == ids.length,
        s"dedup emitted ${ids.length} rows (${ids.distinct.length} distinct), input has $want distinct ids")
    }
    out("attribution").foreach { got =>
      val cols = Seq("event_id", "user_id", "tms", "touch_type", "touch_tms", "latency_ms")
      val want = graft.SparkEntry.queries("events_attribution")(spark, c.data)
      rec.check("stream:attribution",
        sorted(got.select(cols.head, cols.tail: _*)) == sorted(want.select(cols.head, cols.tail: _*)),
        "attribution differs from the batch events_attribution operator")
    }
    rec.check("stream:input", batch("clean").count() == spark.read.parquet(s"${c.data}/events.parquet").count(),
      "the clean replay does not carry every event exactly once")
  }
}

/** Per-layer metrics of the streaming engine, from the traced run's
  * `StreamingQueryListener`.
  */
object Streaming {
  def report(t: Trace, rec: Record): Unit = {
    def ms(k: String) = t.progress.get(k).map(_.get).getOrElse(0L) / 1e3
    rec.value("streaming.add_batch_s", ms("duration.addBatch"))
    rec.value("streaming.commit_s", ms("duration.walCommit") + ms("duration.commitOffsets"))
    rec.value("streaming.planning_s", ms("duration.queryPlanning"))
    rec.value("streaming.state_rows", t.stateRows.values.sum)
    rec.value("streaming.state_mem_bytes", t.stateMem.values.sum)
    rec.value("streaming.state_commit_s", ms("state.commitMs"))
  }
}
