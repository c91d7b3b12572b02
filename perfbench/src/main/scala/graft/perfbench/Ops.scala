package graft.perfbench

/** `ops`: graft's query mix. A first pass over the operators in the fresh
  * session pays JIT, codegen and the session-cache builds; repeat passes
  * in the same session then run until the time budget, counted from the
  * end of the first pass, is spent. Each call is timed in two parts:
  * inside the operator function until it returns its DataFrame, and the
  * full materialisation through the `noop` sink.
  * An untimed pass afterwards counts each operator's rows for the oracle
  * check `run.py` makes.
  */
object Ops {

  /** The default operator set: one operator from each main operator
    * family (TPC-H analytics, events, data vault, text, dedup, similarity),
    * each with a DuckDB oracle. It is small because
    * the first pass runs in a cold JVM and the whole run has to fit the
    * benchmark's time budget.
    */
  val Selected: Seq[String] = Seq(
    "q1_pricing_summary", "events_funnel", "dv_link_orders", "text_tfidf",
    "dedup_minhash_lsh", "knn_cosine")

  def run(c: Main.Ctx): Unit = {
    val registry = graft.SparkEntry.queries
    val ops = Selected
    val rng = new scala.util.Random(c.args.seed)
    c.rec.setupDone()
    val gc0 = Trace.gcSeconds

    /** One timed call, in a span when `traced`; returns its total latency
      * when it succeeded.
      */
    def call(phase: String, op: String, traced: Boolean): Option[Double] = c.rec.attempt(op) {
      def timed = {
        val a = System.nanoTime()
        val df = registry(op)(c.spark, c.data)
        val b = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val e = System.nanoTime()
        val kind = phase.takeWhile(_.isLetter)
        c.rec.add(s"$kind.construct_s", (b - a) / 1e9)
        c.rec.add(s"$kind.action_s", (e - b) / 1e9)
        (e - a) / 1e9
      }
      if (traced) c.within(s"$phase|$op")(timed) else timed
    }

    Main.log(s"ops: first pass over ${ops.size} operators")
    rng.shuffle(ops).foreach(op =>
      call("first", op, c.trace.isDefined).foreach(t => c.rec.sample(s"first|$op", t)))
    // Repeat passes until the budget, counted from the end of the first
    // pass, is spent (two at least). A traced run alternates passes with
    // the listeners attached and detached in ABBA blocks (traced, plain,
    // plain, traced; one block at least), so the tracing overhead is
    // measured as traced minus untraced in one session, and warming across
    // the passes favours neither side. ABBA cancels only steady warming,
    // so a traced run first makes one more pass, untraced and unsampled,
    // to take up the warming the first repeat pass still does.
    def tracedPass(p: Int) = c.trace.isDefined && (p % 4 == 0 || p % 4 == 3)
    c.trace.foreach { t =>
      Main.log("ops: warm-up pass")
      t.uninstall()
      rng.shuffle(ops).foreach(op => call("warmup", op, traced = false))
      t.install()
    }
    val t0 = System.nanoTime()
    val (minPasses, block) = if (c.trace.isDefined) (4, 4) else (2, 1)
    def more(p: Int) =
      p < minPasses || p % block != 0 || (System.nanoTime() - t0) / 1e9 < c.args.seconds
    var pass = 0
    var planningMs = 0L
    while (more(pass)) {
      val traced = tracedPass(pass)
      if (c.trace.isDefined && !traced) c.trace.get.uninstall()
      val phase = if (traced) s"repeat$pass" else s"plain$pass"
      Main.log(s"ops: pass $phase")
      c.trace.filter(_ => traced).foreach { t => t.drain(); planningMs -= t.planningMs.get }
      val passStart = System.nanoTime()
      rng.shuffle(ops).foreach(op => call(phase, op, traced).foreach(t => c.rec.sample(s"repeat|$op", t)))
      c.rec.sample(if (traced) "pass_traced_s" else "pass_plain_s", (System.nanoTime() - passStart) / 1e9)
      c.trace.filter(_ => traced).foreach { t => t.drain(); planningMs += t.planningMs.get }
      if (c.trace.isDefined && !traced) c.trace.get.install()
      pass += 1
    }
    c.rec.value("repeat_passes", pass)
    c.rec.value("gc_s", Trace.gcSeconds - gc0)

    val memo = graft.queries.SessionCache.buildLog(c.spark).filter(_._1.endsWith(s"@${c.data}"))
    c.rec.value("memo.builds", memo.size)
    c.rec.value("memo.build_s", memo.map(_._2).sum)

    c.trace.foreach { t =>
      t.drain()
      val traced = (0 until pass).filter(tracedPass).map(p => s"repeat$p|")
      val keep = (id: String) => traced.exists(id.startsWith)
      val wall = c.rec.samples("pass_traced_s").sum
      Trace.report(t, c.rec, keep, wall, c.cores, planningMs, per = traced.size)
      c.rec.value("queries.jobs_per_op", t.total(keep)(_.jobs).toDouble / (traced.size * ops.size))
    }

    // untimed: row counts for the oracle comparison
    val oracles = graft.SparkEntry.oracleSql
    ops.foreach { op =>
      oracles.get(op).foreach(c.rec.oracle(op) = _)
      c.rec.attempt(s"count:$op")(registry(op)(c.spark, c.data).count())
        .foreach(n => c.rec.counts(op) = n)
    }
  }
}
