package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark JVM: builds the session the way graft's entry points do,
  * runs one workload, and writes a JSON record.
  *
  *   Main --workload ops|vault|events_stream --data DIR --work DIR --inputs DIR
  *        --seed N --seconds S --trace 0|1 --out FILE
  *
  * `run.py` launches it; see perfbench/README.md.
  */
object Main {
  final case class Args(workload: String, data: String, work: String, inputs: String, seed: Long,
                        seconds: Double, trace: Boolean, out: String)

  final case class Ctx(spark: SparkSession, args: Args, rec: Record, trace: Option[Trace],
                       cores: Int) {
    def data: String = args.data
    def work: String = args.work
    /** Where `run.py` wrote the workload's seeded inputs besides the tables. */
    def inputs: String = args.inputs
    def within[A](span: String)(f: => A): A = Trace.within(trace, spark, span)(f)
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    Args(kv("workload"), kv("data"), kv("work"), kv("inputs"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("out"))
  }

  /** `local[n]` with n = the host's cores, shuffle partitions = n, and
    * `Tables.applyConfs` on top — how graft's own entry points build theirs.
    * Every scratch location Spark uses is under the run's work dir.
    */
  def session(data: String, work: String, cores: Int): SparkSession =
    graft.Tables.applyConfs(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints"), data)
      .getOrCreate()

  /** Copies a landing file into a file-source dir with a modification
    * time that orders it `seq`-th, so one trigger reads one file in order.
    */
  def land(src: java.nio.file.Path, dst: java.nio.file.Path, seq: Int): Unit = {
    Files.copy(src, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + seq * 1000L))
  }

  private val started = System.nanoTime()

  /** A progress line in the JVM's log. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val rec = new Record
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(args.data, args.work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    rec.value("session.start_s", (System.nanoTime() - t0) / 1e9)
    val trace = if (args.trace) Some(new Trace(spark).install()) else None
    val ctx = Ctx(spark, args, rec, trace, cores)
    try {
      args.workload match {
        case "ops" => Ops.run(ctx)
        case "vault" => Vault.run(ctx)
        case "events_stream" => EventsStream.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        log(s"workload failed: $e")
        throw e
    } finally {
      spark.streams.active.foreach(_.stop())
      trace.foreach { t => t.drain(); rec.spans = t.spanTotals }
      Files.writeString(Paths.get(args.out), rec.toJson)
      spark.stop()
    }
  }
}
