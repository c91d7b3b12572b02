package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.streaming.Trigger

import graft.dv.{ContinuousPipeline, DvGo, DvLoader, DvMaintenance, DvPlan}

/** `vault`: pg_auto_dw's lifecycle over `DvPlanner.GoScope`.
  *
  *  1. classification (`DvGo.derivedPlan`) — part of set-up;
  *  2. `DvGo.go(bucketed = true)` into a fresh repo;
  *  3. `DvLoader.incrementalLoad` of the seeded delta source;
  *  4. seeded customer micro-batches through `ContinuousPipeline.sink`,
  *     one landing file per trigger, in segments;
  *  5. between segments the query stops, `DvMaintenance.compactBucketed`
  *     runs on each object the pipeline touched, and the query restarts
  *     from its checkpoint.
  *
  * `run.py` writes the delta source and the micro-batch files; their
  * `manifest.json` says how many rows of each kind they carry, which is
  * what the checks expect to be appended.
  */
object Vault {

  /** Buckets per vault object: two per core, so the build and the
    * micro-batch appends fit the benchmark's small source; the layout,
    * the appends and the compaction work the same way at any count.
    */
  def buckets(cores: Int): Int = 2 * cores

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))

  private def bytes(p: Path): Long = files(p).map(Files.size).sum

  /** Bucket id of a bucketed writer's output file (`..._00017.c000...`). */
  private def bucketOf(f: Path): String =
    "_(\\d{5})\\.c\\d+".r.findFirstMatchIn(f.getFileName.toString).map(_.group(1)).getOrElse("?")

  private def objectsFedBy(plan: DvPlan, table: String): Seq[String] =
    plan.hubs.filter(_.spec.sourceTable == table).map(h => s"hub_${h.spec.name}") ++
      plan.sats.filter(_.sourceTable == table).map(t => s"sat_${t.name}") ++
      plan.links.filter(_.sourceTable == table).map(l => s"link_${l.name}")

  /** Rows a batch of `newKeys` new keys and `changed` rows with the
    * `changedCols` descriptors altered must append to `obj`.
    */
  private def expectedAppend(plan: DvPlan, obj: String, newKeys: Long, changed: Long,
                             changedCols: Set[String]): Long =
    if (obj.startsWith("hub_") || obj.startsWith("link_")) newKeys
    else plan.sats.find(t => s"sat_${t.name}" == obj) match {
      case Some(t) if t.descriptors.exists(d => changedCols(d.name)) => newKeys + changed
      case _ => newKeys
    }

  def run(c: Main.Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    val mapper = Record.mapper
    val t0 = System.nanoTime()
    val plan = DvGo.derivedPlan(spark, c.data)
    rec.value("dv.classify_s", (System.nanoTime() - t0) / 1e9)
    rec.setupDone()
    val gc0 = Trace.gcSeconds
    val planning0 = c.trace.map { t => t.drain(); t.planningMs.get }.getOrElse(0L)
    val wall0 = System.nanoTime()
    val repo = s"${c.work}/repo"

    // 2. go() into a fresh repo
    Main.log("vault: go")
    val g0 = System.nanoTime()
    val built = rec.attempt("go")(c.within("go|build")(
      DvGo.go(spark, c.data, repo, bucketed = true, buckets = buckets(c.cores), plan = Some(plan))))
    rec.value("go_s", (System.nanoTime() - g0) / 1e9)
    if (built.isEmpty) return
    rec.value("dv.go.rows", built.get.objects.map(_._2).sum.toDouble)
    def repoFiles = files(Paths.get(repo)).size
    rec.value("dv.go.files", repoFiles)
    // data files written into the repo, by every step after set-up
    var written = repoFiles.toLong
    rec.value("dv.go.bytes", bytes(Paths.get(repo)))
    val srcBytes = graft.dv.DvPlanner.GoScope.map(t => graft.Tables.dirBytes(graft.Tables.path(c.data, t))).sum
    rec.value("src_bytes", srcBytes)

    // row counts from the parquet footers: no Spark job between timed steps
    val hadoopConf = spark.sessionState.newHadoopConf()
    def stored(obj: String): Long = files(Paths.get(repo, obj)).map { f =>
      val in = HadoopInputFile.fromPath(new HadoopPath(f.toString), hadoopConf)
      scala.util.Using.resource(ParquetFileReader.open(in))(_.getRecordCount)
    }.sum
    // every hub must hold the distinct keys of all its sources plus 2 ghost
    // rows; run.py counts the distinct keys with DuckDB
    plan.hubs.foreach { h =>
      rec.hubs += ((s"hub_${h.spec.name}", stored(s"hub_${h.spec.name}"),
        h.sources.map(src => src.table -> src.parts.map(_.name))))
    }

    // 3. incremental reload of the seeded delta source
    Main.log("vault: reload")
    val delta = s"${c.inputs}/delta"
    val dm = mapper.readTree(new java.io.File(s"$delta/manifest.json"))
    val reloadFrom = repoFiles
    val r0 = System.nanoTime()
    val loaded = rec.attempt("reload")(c.within("reload|delta")(
      DvLoader.incrementalLoad(spark, delta, repo)))
    rec.value("reload_s", (System.nanoTime() - r0) / 1e9)
    written += repoFiles - reloadFrom
    rec.value("dv.reload.rows_offered", dm.get("rows_offered").asLong.toDouble)
    loaded.foreach { got =>
      rec.value("dv.reload.rows_appended", got.map(_._2).sum.toDouble)
      got.foreach { case (obj, n) =>
        val table = objectTable(plan, obj)
        val t = dm.get("tables").get(table)
        val want = if (t == null) 0L else expectedAppend(plan, obj, t.get("new").asLong,
          t.get("changed").asLong, t.get("changed_cols").elements().asScala.map(_.asText).toSet)
        rec.check(s"reload:$obj", n == want, s"reload appended $n rows to $obj, expected $want")
      }
    }

    // 4 + 5. micro-batches in segments, compaction between segments
    val feed = s"${c.inputs}/feed"
    val fm = mapper.readTree(new java.io.File(s"$feed/manifest.json"))
    val landing = Paths.get(c.work, "landing")
    Files.createDirectories(landing)
    val st = ContinuousPipeline.State(s"${c.work}/catalog", s"${c.work}/responses", repo)
    val touched = objectsFedBy(plan, "customer")
    val schema = spark.read.parquet(s"$feed/${fm.get("segments").get(0).get(0).get("file").asText}").schema
    var streamS = 0.0
    var compactS = 0.0
    var offered = 0L
    val want = scala.collection.mutable.Map(touched.map(o => o -> stored(o)): _*)
    var fileNo = 0
    val segments = fm.get("segments").elements().asScala.toSeq
    segments.zipWithIndex.foreach { case (seg, si) =>
      seg.elements().asScala.foreach { b =>
        Main.land(Paths.get(feed, b.get("file").asText), landing.resolve(f"batch-$fileNo%04d.parquet"), fileNo)
        fileNo += 1
        offered += b.get("rows").asLong
        touched.foreach(o => want(o) += expectedAppend(plan, o, b.get("new").asLong,
          b.get("changed").asLong, b.get("changed_cols").elements().asScala.map(_.asText).toSet))
      }
      Main.log(s"vault: segment $si")
      val segmentFrom = repoFiles
      val s0 = System.nanoTime()
      rec.attempt(s"stream:segment$si") {
        val q = ContinuousPipeline.sink(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing.toString),
          "customer", st, s"${c.work}/checkpoint")
          .queryName(s"vault_seg$si").trigger(Trigger.AvailableNow()).start()
        c.trace.foreach(_.nameRun(q.runId, s"batch|segment$si"))
        q.awaitTermination()
        q.recentProgress.foreach { p =>
          Option(p.durationMs.get("triggerExecution")).foreach(v => rec.sample("batch_s", v.longValue / 1e3))
        }
      }
      streamS += (System.nanoTime() - s0) / 1e9
      written += repoFiles - segmentFrom
      if (si < segments.size - 1) {
        Main.log("vault: compaction")
        touched.foreach { obj =>
          val before = stored(obj)
          val nBefore = files(Paths.get(repo, obj)).size
          rec.sample("dv.batch.files_per_object", nBefore)
          val k0 = System.nanoTime()
          rec.attempt(s"compact:$obj")(c.within(s"compact|$obj")(
            DvMaintenance.compactBucketed(spark, repo, obj))).foreach { case (fb, fa) =>
            val dt = (System.nanoTime() - k0) / 1e9
            compactS += dt
            rec.add("dv.compact.files_before", fb)
            rec.add("dv.compact.files_after", fa)
            written += fa
            val after = files(Paths.get(repo, obj))
            rec.add("dv.compact.bytes_rewritten", after.map(Files.size).sum)
            rec.check(s"compact:$obj", stored(obj) == before,
              s"compaction of $obj changed its row count")
            rec.check(s"compact:$obj", after.map(bucketOf).distinct.size == after.size,
              s"compaction of $obj left ${after.size} files over ${after.map(bucketOf).distinct.size} buckets")
          }
        }
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    rec.value("stream_s", streamS)
    rec.value("write.files", written)
    rec.value("dv.compact_s", compactS)
    rec.value("rows_offered", offered)
    touched.foreach { obj =>
      val got = stored(obj)
      rec.check(s"stream:$obj", got == want(obj), s"$obj holds $got rows after the stream, expected ${want(obj)}")
    }
    rec.value("gc_s", Trace.gcSeconds - gc0)
    c.trace.foreach { t =>
      t.drain()
      Trace.report(t, rec, id => id != "untraced", wallS, c.cores, t.planningMs.get - planning0)
      Streaming.report(t, rec)
    }
  }

  private def objectTable(plan: DvPlan, obj: String): String =
    plan.hubs.find(h => s"hub_${h.spec.name}" == obj).map(_.spec.sourceTable)
      .orElse(plan.sats.find(t => s"sat_${t.name}" == obj).map(_.sourceTable))
      .orElse(plan.links.find(l => s"link_${l.name}" == obj).map(_.sourceTable))
      .getOrElse(sys.error(s"unknown vault object $obj"))
}
