package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.EventSource
import graft.streaming.{AlertSink, DeviceEvent, HealthAlert, HealthMonitor, NotifyPipeline}

/** The benchmark's notifier: records when each alert reached the
  * delivery seam. Local-mode executors share the JVM, so the static
  * queue sees every executor-side call. */
object AlertClock extends AlertSink.Notifier {
  val seen = new ConcurrentLinkedQueue[(HealthAlert, Long)]()
  override def notify(a: HealthAlert): Unit = { seen.add((a, Clock.nowUs)); () }
}

/** Open loop: a separate generator process lands seeded event files on
  * a wall-clock schedule; `EventSource.fileStream` feeds them to
  * `NotifyPipeline.startWithBoard` (monitor → suppress → audit log +
  * board). An untimed backlog warms the query up; then a reference
  * step runs, over which latency is taken, and bursts land one at a
  * time on the idle query, whose median drain rate is the throughput. */
object AlertStream {
  /** Untimed warm-up: a backlog of this many seconds at 1000 events/s
    * lands before the query starts, so the first micro-batch holds
    * exactly that backlog whatever the start-up timing. */
  val Backlog: Seq[(Int, Double)] = Seq(1000 -> 2.0)
  /** Events per second of the reference step, which runs once the
    * backlog is drained. */
  val RefRate = 2000
  /** Events of the burst: one file, so it lands at once and one
    * micro-batch takes all of it. A trigger's fixed cost is seconds,
    * so a batch this large is what makes the per-event cost show. */
  val BurstEvents = 200000
  /** Bursts per pass: one drain is one trigger, so the median of a few
    * is what makes the throughput steady. */
  val Bursts = 3
  /** The generator's file slice (gen.py FILE_MS). */
  val FileS = 0.25
  val CooldownUs = 2000000L

  final case class Landed(file: String, n: Long, dueS: Double, landedS: Double)

  def run(ctx: Ctx, res: Result): Unit = {
    val untraced = pass(ctx, res, "u", coldCheck = !ctx.trace)
    if (!ctx.trace) {
      res.put("setup_s", untraced.setupS, "s")
      untraced.e2e.put(res)
    } else {
      val root = s"${ctx.work}/t"
      val tr = new Tracer(ctx.spark, Seq(s"$root/audit" -> "audit", s"$root/board" -> "board"))
      tr.install()
      val traced = try pass(ctx, res, "t", coldCheck = true) finally tr.finish()
      traced.e2e.overhead(res, untraced.e2e)
      layers(ctx, res, traced, tr)
    }
  }

  /** `files` and `commitOf` cover the reference step, which ran from
    * `measuredFromS` to `refDoneS`. */
  final case class Pass(setupS: Double, e2e: E2e, files: Seq[Landed],
      commitOf: Map[String, Double], measuredFromS: Double, refDoneS: Double)

  /** One run of the query. With `coldCheck` the cold-start check runs
    * beside the untimed verification of the query's output. */
  private def pass(ctx: Ctx, res: Result, tag: String, coldCheck: Boolean): Pass = {
    val spark = ctx.spark
    import spark.implicits._
    val root = s"${ctx.work}/$tag"
    val (land, audit, board, ck) = (s"$root/land", s"$root/audit", s"$root/board", s"$root/ck")
    new File(land).mkdirs()
    AlertClock.seen.clear()
    def generate(phase: Int, steps: Seq[(Int, Double)], lead: Double): (Process, Double) = {
      val t0 = System.currentTimeMillis() / 1000.0 + lead
      val p = new ProcessBuilder(ctx.python, ctx.gen, "stream", "--seed", ctx.seed.toString,
        "--phase", phase.toString, "--dir", land, "--t0", f"$t0%.3f", "--ladder",
        steps.map { case (r, s) => f"$r:$s%.3f" }.mkString(","))
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.INHERIT).start()
      (p, t0)
    }
    def finish(p: Process): Unit = {
      val rc = p.waitFor()
      if (rc != 0) throw new IllegalStateException(s"stream generator exited $rc")
    }
    // the backlog and the bursts are due in the past, so each lands as
    // soon as it is written; a burst is written once the reference
    // step is drained, so its events are the newest
    val (warm, _) = generate(0, Backlog, -Backlog.map(_._2).sum)
    finish(warm)
    val events = EventSource.fileStream(spark, land, maxFilesPerTrigger = 100000).as[DeviceEvent]
    val q = NotifyPipeline.startWithBoard(events, audit, board, ck, CooldownUs, AlertClock)
    var gen: Process = null
    var measuredFrom, refDone = 0.0
    try {
      q.processAllAvailable()
      ctx.mark("backlog drained")
      val (p, t0) = generate(1, Seq(RefRate -> ctx.seconds), 0.5)
      gen = p
      measuredFrom = t0
      finish(p)
      q.processAllAvailable()
      refDone = System.currentTimeMillis() / 1000.0
      ctx.mark("reference step drained")
      for (b <- 0 until Bursts) {
        gen = generate(2 + b, Seq((BurstEvents / FileS).toInt -> FileS), -FileS)._1
        finish(gen)
        q.processAllAvailable()
      }
      ctx.mark("bursts drained")
    } finally {
      q.stop()
      if (gen != null && gen.isAlive) { gen.destroy(); gen.waitFor() }
    }
    q.recentProgress.foreach(p => System.err.println(s"[perfbench] trigger ${p.batchId} " +
      s"${p.timestamp} ${p.numInputRows} rows ${p.durationMs.get("triggerExecution")} ms " +
      p.durationMs.asScala.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")))
    val setupS = measuredFrom - ctx.processStartMs / 1000.0
    q.exception.foreach { e =>
      res.attempted.incrementAndGet()
      res.fail(s"stream query failed: ${e.getMessage.take(200)}")
    }

    def manifest(phase: Int): Seq[Landed] = {
      val src = Source.fromFile(s"$land.manifest-$phase.jsonl")
      try src.getLines().map { l =>
        def f(k: String) = raw""""$k": ("?)([^,"}]*)""".r.findFirstMatchIn(l).get.group(2)
        Landed(f("file"), f("n").toLong, f("due_s").toDouble, f("landed_s").toDouble)
      }.toList finally src.close()
    }
    val files = manifest(1)
    val bursts = (0 until Bursts).map(b => manifest(2 + b).head)
    val commitAt = q.recentProgress.toSeq.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0 +
        p.durationMs.asScala.get("triggerExecution").map(_.toLong).getOrElse(0L) / 1000.0))
      .toMap
    val commitOf = batchOfFile(s"$ck/sources/0").flatMap { case (f, b) =>
      commitAt.get(b).map(f -> _) }

    val cold = new Thread(() => if (coldCheck) coldStart(ctx, res))
    cold.start()
    val missing = verify(ctx, res, land, audit, board)
    ctx.mark("stream output verified")
    if ((manifest(0) ++ manifest(1) ++ bursts).map(_.n).sum !=
        spark.read.schema(EventSource.schema).parquet(land).count())
      res.fail("landed event count differs from the events read back")

    // Latency over the reference step: creation → notifier call. An
    // expected alert that never arrived is infinitely late.
    val (lo, hi) = (files.map(_.dueS).min - FileS, files.map(_.dueS).max)
    def inRef(a: HealthAlert) = { val s = a.ts.getTime / 1000.0; s >= lo && s < hi }
    val lat = AlertClock.seen.asScala.toSeq.collect { case (a, us) if inRef(a) =>
      (us - micros(a)) / 1e6 } ++ missing.filter(inRef).map(_ => Double.PositiveInfinity)

    // Throughput: a burst's events over landing → commit of its
    // micro-batch, median over the bursts. A query fed at this rate in
    // batches of this size ends each batch as the next one has landed,
    // so it is the highest rate at which its backlog does not grow.
    val rates = bursts.map(b =>
      b.n / (commitOf.getOrElse(b.file, Double.PositiveInfinity) - b.landedS))
    cold.join()
    Pass(setupS, E2e(Stats.median(rates), Stats.median(lat), Stats.pct(lat, 0.95),
      ctx.retainedHeapMb()), files, commitOf, measuredFrom, refDone)
  }

  /** The delivered log must equal monitor → suppress over the same
    * events as one static Dataset, and the board must equal the log's
    * latest row per (device, action). Returns the expected alerts that
    * were not delivered. */
  private def verify(ctx: Ctx, res: Result, land: String, audit: String,
      board: String): Seq[HealthAlert] = {
    val spark = ctx.spark
    import spark.implicits._
    val static = spark.read.schema(EventSource.schema).parquet(land).as[DeviceEvent]
    val want = AlertSink.suppressStream(HealthMonitor.monitor(static), CooldownUs)
      .collect().toSeq
    val got = AlertSink.deliveredLog(spark, audit).drop("epoch").as[HealthAlert]
      .collect().toSeq
    val missing = want.diff(got)
    val extra = got.diff(want)
    res.attempted.addAndGet(want.size.toLong)
    (missing.map("missing alert " + _) ++ extra.map("unexpected alert " + _)).foreach(res.fail)
    val latest = got.groupBy(a => (a.user_id, a.action))
      .map { case (_, as) => as.maxBy(a => a.ts.getTime) }
      .map(a => (a.user_id, a.action, a.ts)).toSet
    val boardRows = NotifyPipeline.board(spark, board).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getTimestamp(1))).toSet
    res.attempted.incrementAndGet()
    if (boardRows != latest)
      res.fail(s"board differs from the log: ${boardRows.diff(latest).size} extra, " +
        s"${latest.diff(boardRows).size} missing")
    missing
  }

  /** A fresh query whose first micro-batch holds no alert — a healthy
    * fleet at start-up — and whose second batch does. Outside every
    * timed span; checked like the measured query. The library's known
    * defect on this path is reported as such (see perfbench/README.md);
    * any other failure or mismatch counts as failed. */
  private def coldStart(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val root = s"${ctx.work}/cold"
    val (land, audit, board, ck) = (s"$root/land", s"$root/audit", s"$root/board", s"$root/ck")
    new File(land).mkdirs()
    val t0 = System.currentTimeMillis()
    // event i of a file: id `from + i`, created `from + i` ms after t0
    def landFile(name: String, from: Int, types: Seq[String]): Unit = {
      val stage = s"$root/stage-$name"
      types.zipWithIndex.map { case (t, i) =>
        DeviceEvent(from + i, new java.sql.Timestamp(t0 + from + i), 7L, t, 1.0, "{}")
      }.toDS().coalesce(1).write.parquet(stage)
      val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$land/$name.parquet"))
    }
    val quiet = new AlertSink.Notifier { override def notify(a: HealthAlert): Unit = () }
    var q: StreamingQuery = null
    try {
      landFile("a", 0, Seq.fill(3)("click"))
      q = NotifyPipeline.startWithBoard(
        EventSource.fileStream(spark, land, maxFilesPerTrigger = 100000).as[DeviceEvent],
        audit, board, ck, CooldownUs, quiet)
      q.processAllAvailable()
      landFile("b", 100, Seq.fill(4)("error"))
      q.processAllAvailable()
      verify(ctx, res, land, audit, board)
      ctx.mark("cold start verified")
    } catch {
      case e: Throwable if emptyBoardDefect(e, board) =>
        res.knownDefects.add("NotifyPipeline.startWithBoard stops with " +
          "UNABLE_TO_INFER_SCHEMA when its first micro-batch delivers no alert")
      case e: Throwable =>
        res.attempted.incrementAndGet()
        res.fail("query whose first batch holds no alert failed: " +
          String.valueOf(e.getMessage).take(200))
    } finally if (q != null) q.stop()
    ctx.mark("cold start checked")
  }

  /** The library's known defect, and only it: the board's data
    * directory was written without a parquet file (the empty first
    * batch) and reading it back stopped the query. */
  private def emptyBoardDefect(e: Throwable, board: String): Boolean = {
    def parquet(f: File): Boolean =
      if (f.isDirectory) f.listFiles().exists(parquet) else f.getName.endsWith(".parquet")
    val data = new File(s"$board/data")
    String.valueOf(e.getMessage).contains("UNABLE_TO_INFER_SCHEMA") &&
      data.isDirectory && !parquet(data)
  }

  private def micros(a: HealthAlert): Long =
    Math.floorDiv(a.ts.getTime, 1000L) * 1000000L + a.ts.getNanos / 1000L

  /** File → micro-batch from the file source's own log in the
    * checkpoint (plain and compacted entries). */
  private def batchOfFile(dir: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.matches("""\d+(\.compact)?""")).flatMap { f =>
      val src = Source.fromFile(f)
      try src.getLines().flatMap(l => entry.findFirstMatchIn(l)
        .map(m => new File(m.group(1)).getName -> m.group(2).toLong)).toList
      finally src.close()
    }.toMap
  }

  /** Trigger phases, state stores, sink writes, source lag and the
    * generator's own lateness, over the reference step. */
  private def layers(ctx: Ctx, res: Result, p: Pass, tr: Tracer): Unit = {
    def at(x: StreamingQueryProgress) = java.time.Instant.parse(x.timestamp).toEpochMilli / 1000.0
    val ps = tr.progress.asScala.toSeq
      .filter(x => at(x) >= p.measuredFromS && at(x) < p.refDoneS && x.numInputRows > 0)
    def d(x: StreamingQueryProgress, k: String) =
      x.durationMs.asScala.get(k).map(_.toLong / 1000.0).getOrElse(0.0)
    def meanD(k: String) = Stats.mean(ps.map(d(_, k)))
    val trig = ps.map(d(_, "triggerExecution"))
    res.put("streaming.triggers", ps.size.toDouble, "count")
    res.put("streaming.trigger_p50_s", Stats.median(trig), "s")
    res.put("streaming.trigger_p90_s", Stats.pct(trig, 0.9), "s")
    res.put("streaming.add_batch_s", meanD("addBatch"), "s")
    res.put("streaming.query_planning_s", meanD("queryPlanning"), "s")
    res.put("streaming.wal_commit_s", meanD("walCommit"), "s")
    res.put("streaming.commit_offsets_s", meanD("commitOffsets"), "s")
    res.put("sources.latest_offset_s", meanD("latestOffset"), "s")
    res.put("sources.get_batch_s", meanD("getBatch"), "s")
    // stateOperators lists the plan's stateful nodes top-down: the
    // suppress stage sits above the monitor
    Seq("suppress" -> 0, "monitor" -> 1).foreach { case (name, i) =>
      val ops = ps.flatMap(_.stateOperators.lift(i))
      res.put(s"streaming.$name.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      res.put(s"streaming.$name.state_mem_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
      res.put(s"streaming.$name.state_commit_s", Stats.mean(ops.map(_.commitTimeMs / 1000.0)), "s")
    }
    val n = math.max(1, ps.size)
    val qes = tr.qes.asScala.toSeq
      .filter(x => x.endMs / 1000.0 >= p.measuredFromS && x.endMs / 1000.0 < p.refDoneS)
    res.put("streaming.audit_write_s", qes.filter(_.tag == "audit").map(_.durationNs / 1e9).sum / n, "s")
    res.put("streaming.board_upsert_s", qes.filter(_.tag == "board").map(_.durationNs / 1e9).sum / n, "s")
    val measured = p.files
    val backlog = ps.map { x =>
      measured.count(f => f.landedS <= at(x) && p.commitOf.get(f.file).forall(_ > at(x))).toDouble
    }
    res.put("sources.backlog_files", Stats.mean(backlog), "count")
    res.put("generator.lateness_s", p.files.map(f => f.landedS - f.dueS).max, "s")
    res.put("cache.pinned_mb", ctx.pinnedMb(), "MB")
  }
}
