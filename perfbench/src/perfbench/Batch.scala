package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

/** End-to-end numbers of one measured window. */
final case class E2e(throughput: Double, p50: Double, p95: Double, heapMb: Double) {
  def put(res: Result): Unit = {
    res.put("throughput_per_s", throughput, "1/s")
    res.put("latency_p50_s", p50, "s")
    res.put("latency_p95_s", p95, "s")
    res.put("retained_heap_mb", heapMb, "MB")
  }
  def overhead(res: Result, untraced: E2e): Unit = {
    res.put("overhead.throughput_per_s", throughput / untraced.throughput, "ratio")
    res.put("overhead.latency_p50_s", p50 / untraced.p50, "ratio")
    res.put("overhead.latency_p95_s", p95 / untraced.p95, "ratio")
    res.put("overhead.retained_heap_mb", heapMb / untraced.heapMb, "ratio")
  }
}

/** Per iteration a new seeded corpus version lands in a fresh directory
  * and two client threads drain a seeded queue of curation slots
  * against it. Every path-stamped cache misses, so artifact builds and
  * the text/vector kernels carry the time; the next version is written
  * while the current one is read. */
object CorpusRefresh {
  val Queue: Seq[String] = Seq("decontaminate_bloom", "ann_hybrid")
  val Sf = "0.02"
  val Clients = 2
  /** A window measures one version per this many seconds of the run's
    * budget: a nominal time fixed in advance, so that every run does
    * the same work whatever the machine's speed. */
  val VersionS = 4.0

  def run(ctx: Ctx, res: Result): Unit = {
    val base = s"${ctx.work}/base"
    ctx.generate("tables", "--seed", ctx.seed.toString, "--out", base, "--sf", Sf)
    @volatile var tracing = false
    val runner = new Runner(ctx.spark, res, () => tracing, ctx.plantFailure)
    val queue = Queue ++ (if (ctx.plantFailure) Seq(Runner.Planted) else Nil)
    val rng = new scala.util.Random(ctx.seed)
    var version = 0

    def stage(v: Int): Thread = {
      val t = new Thread(() => ctx.generate("corpus", "--seed", ctx.seed.toString,
        "--version", v.toString, "--base", base, "--out", s"${ctx.work}/stage-$v"))
      t.start()
      t
    }
    var next = stage(0)

    /** Lands the staged version, drains the queue against it with
      * `Clients` threads and returns (calls, docs, landing-to-last-output
      * seconds). The following version is staged meanwhile. A measured
      * version's oracle-covered slots are dumped once it is drained. */
    def refresh(measured: Boolean): (Seq[CallRec], Long, Double) = {
      next.join()
      val dir = s"${ctx.work}/v$version"
      Files.move(Paths.get(s"${ctx.work}/stage-$version"), Paths.get(dir))
      val landed = System.nanoTime()
      version += 1
      next = stage(version)
      val calls = Parallel.map(rng.shuffle(queue), Clients)(
        s => runner.call(s, dir))
      val secs = (calls.map(_.t1).max - landed) / 1e9
      System.err.println(f"[perfbench] v${version - 1} drained in $secs%.3f s")
      val docs = ctx.spark.read.parquet(s"$dir/documents.parquet").count()
      if (measured) runner.dumpOracle(queue, dir, s"${ctx.work}/oracle-v${version - 1}")
      (calls, docs, secs)
    }

    // untimed warm-up: after two versions a version's time is close to
    // steady, so a window holds versions that are alike
    val (warm, _, _) = refresh(measured = false)
    refresh(measured = false)
    ctx.setupDone(res)

    def window(): (Seq[CallRec], E2e) = {
      val rounds = Seq.fill(math.max(1, math.round(ctx.seconds / VersionS).toInt))(
        refresh(measured = true))
      val calls = rounds.flatMap(_._1).toSeq
      (calls, E2e(rounds.map(_._2).sum / rounds.map(_._3).sum,
        Stats.median(calls.map(_.wallS)), Stats.pct(calls.map(_.wallS), 0.95),
        ctx.retainedHeapMb()))
    }

    try {
      val (_, untraced) = window()
      if (!ctx.trace) untraced.put(res)
      else {
        val tr = new Tracer(ctx.spark)
        tr.install()
        tracing = true
        val (calls, traced) = try window() finally { tracing = false; tr.finish() }
        traced.overhead(res, untraced)
        BatchLayers.report(ctx, res, calls, warm, tr, s"${ctx.work}/slots.json")
        Kernels.run(ctx, res, s"${ctx.work}/v${version - 1}")
      }
    } finally next.join()
  }
}

/** Per-layer numbers of a traced window of slot calls, attributed by
  * job group after the run: construct → plan → execute per call, the
  * jobs each phase launched, and their stages' task metrics. */
object BatchLayers {
  def report(ctx: Ctx, res: Result, calls: Seq[CallRec], firsts: Seq[CallRec],
      tr: Tracer, artifact: String): Unit = {
    final case class Row(c: CallRec, cJobs: Seq[JobSpan], xJobs: Seq[JobSpan],
        stages: Seq[StageSpan])
    val rows = calls.filter(_.ok).map { c =>
      val cj = tr.jobsOf(s"c.${c.id}")
      val xj = tr.jobsOf(s"x.${c.id}")
      Row(c, cj, xj, tr.stagesOf(cj ++ xj))
    }
    def iv(js: Seq[JobSpan]) = js.map(j => (j.startMs, j.endMs))
    def self(from: Long, to: Long, js: Seq[JobSpan]): Double =
      (to - from) / 1e9 - Tracer.covered(iv(js), Clock.ms(from).toLong,
        Clock.ms(to).toLong) / 1000.0
    def mean(f: Row => Double) = Stats.mean(rows.map(f))
    def phase(r: Row, k: String) = r.c.phases.getOrElse(k, 0.0)
    val wall = rows.map(r => (r.c.t1 - r.c.t0) / 1e9).sum
    val taskRun = rows.map(_.stages.map(_.runMs).sum / 1000.0).sum

    res.put("operators.construct_s", mean(r => (r.c.tc - r.c.t0) / 1e9), "s")
    res.put("operators.construct_self_s", mean(r => self(r.c.t0, r.c.tc, r.cJobs)), "s")
    res.put("operators.construct_jobs", mean(_.cJobs.size.toDouble), "count")
    res.put("plan.analysis_s", mean(phase(_, "analysis")), "s")
    res.put("plan.optimization_s", mean(phase(_, "optimization")), "s")
    res.put("plan.physical_s", mean(phase(_, "planning")), "s")
    res.put("plan.span_s", mean(r => (r.c.tp - r.c.tc) / 1e9), "s")
    res.put("exec.wall_s", mean(r => (r.c.t1 - r.c.tp) / 1e9), "s")
    res.put("exec.self_s", mean(r => self(r.c.tp, r.c.t1, r.xJobs)), "s")
    res.put("exec.jobs", mean(r => (r.cJobs.size + r.xJobs.size).toDouble), "count")
    res.put("exec.stages", mean(_.stages.size.toDouble), "count")
    res.put("exec.tasks", mean(_.stages.map(_.tasks).sum.toDouble), "count")
    res.put("exec.task_run_s", mean(_.stages.map(_.runMs).sum / 1000.0), "s")
    res.put("exec.task_cpu_s", mean(_.stages.map(_.cpuNs).sum / 1e9), "s")
    res.put("exec.gc_s", mean(_.stages.map(_.gcMs).sum / 1000.0), "s")
    res.put("exec.busy_ratio", if (wall > 0) taskRun / (wall * ctx.cores) else 0.0, "ratio")
    res.put("exec.shuffle_read_bytes", mean(_.stages.map(_.shuffleRead).sum.toDouble), "bytes")
    res.put("exec.shuffle_write_bytes", mean(_.stages.map(_.shuffleWrite).sum.toDouble), "bytes")
    res.put("exec.spill_bytes", mean(_.stages.map(_.spill).sum.toDouble), "bytes")
    res.put("exec.jobless_calls", rows.count(_.xJobs.isEmpty).toDouble, "count")
    res.put("Tables.scan_bytes", mean(_.stages.map(_.inputBytes).sum.toDouble), "bytes")
    res.put("Tables.scan_files", mean(_.c.scanFiles.toDouble), "count")
    res.put("cache.pinned_mb", ctx.pinnedMb(), "MB")
    // construct + plan + execute against the call's outer span: time
    // spent in neither phase (a sleep, a settle wait) shows up here
    res.put("trace.span_coverage_min", if (rows.isEmpty) 0.0 else
      rows.map(r => (r.c.t1 - r.c.t0).toDouble / (r.c.outer1 - r.c.outer0)).min, "ratio")
    res.put("trace.calls", rows.size.toDouble, "count")

    val firstConstruct = firsts.filter(_.ok).groupBy(_.slot)
      .map { case (s, cs) => s -> Stats.median(cs.map(c => (c.tc - c.t0) / 1e9)) }
    val perSlot = rows.groupBy(_.c.slot).toSeq.sortBy(_._1).map { case (slot, rs) =>
      val fields = Seq(
        "calls" -> rs.size.toDouble,
        "jobless_calls" -> rs.count(_.xJobs.isEmpty).toDouble,
        "first_construct_s" -> firstConstruct.getOrElse(slot, -1.0),
        "construct_p50_s" -> Stats.median(rs.map(r => (r.c.tc - r.c.t0) / 1e9)),
        "construct_jobs" -> Stats.mean(rs.map(_.cJobs.size.toDouble)),
        "plan_p50_s" -> Stats.median(rs.map(r => (r.c.tp - r.c.tc) / 1e9)),
        "exec_p50_s" -> Stats.median(rs.map(r => (r.c.t1 - r.c.tp) / 1e9)),
        "exec_jobs" -> Stats.mean(rs.map(_.xJobs.size.toDouble)))
      Json.str(slot) + ": " + fields.map { case (k, v) => s"${Json.str(k)}: $v" }
        .mkString("{", ", ", "}")
    }
    new File(artifact).getParentFile.mkdirs()
    Files.writeString(Paths.get(artifact), perSlot.mkString("{\n", ",\n", "\n}\n"))
  }
}
