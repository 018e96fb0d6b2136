package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wall clock shared by the harness and Spark's listener events, which
  * carry `System.currentTimeMillis` stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 1]); +Inf entries are
    * failures and sort last. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.PositiveInfinity
    else {
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The JSON result the harness hands to `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val errors = new ConcurrentLinkedQueue[String]()
  /** Library defects a check met and recognised; reported, not counted. */
  val knownDefects = new ConcurrentLinkedQueue[String]()
  /** (data directory, dump directory) pairs for the DuckDB oracle. */
  val oracle = mutable.ArrayBuffer.empty[(String, String)]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 50) errors.add(what)
  }

  def json: String = {
    // a failed call's infinite latency reads as 1e9 s: JSON has no Inf
    def num(d: Double) = if (d.isNaN || d.isInfinite) "1.0E9" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val or = oracle.map { case (d, o) => s"[${Json.str(d)}, ${Json.str(o)}]" }
      .mkString("[", ", ", "]")
    def list(q: ConcurrentLinkedQueue[String]) = q.asScala.map(Json.str).mkString("[", ", ", "]")
    s"""{"metrics": $ms, "attempted": ${attempted.get}, "failed": ${failed.get}, """ +
      s""""errors": ${list(errors)}, "known_defects": ${list(knownDefects)}, "oracle": $or}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One slot call: construct (the `SparkEntry.queries` function), plan
  * (the counted frame's `queryExecution.executedPlan`) and execute
  * (collecting the count). Times are `System.nanoTime`; `outer*` is
  * the whole call including the job-group bookkeeping, so the three
  * phases can be checked against it. A failed call has `ok = false`
  * and counts as infinitely slow. */
final case class CallRec(slot: String, id: Long, outer0: Long,
    t0: Long, tc: Long, tp: Long, t1: Long, outer1: Long, rows: Long,
    ok: Boolean, err: String, phases: Map[String, Double], scanFiles: Long) {
  def wallS: Double = if (ok) (t1 - t0) / 1e9 else Double.PositiveInfinity
}

/** Calls slots through the public entry point and checks the rows-only
  * invariant; oracle-covered slots are checked later against DuckDB. */
final class Runner(spark: SparkSession, res: Result, traced: () => Boolean,
    plantFailure: Boolean) {
  private val entries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++
      (if (plantFailure) Map(Runner.Planted -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted failure")))
      else Map.empty)
  val oracleSql: Map[String, String] = graft.SparkEntry.oracleSql
  private val ids = new AtomicLong

  def call(slot: String, dir: String): CallRec = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val trace = traced()
    val outer0 = System.nanoTime()
    if (trace) sc.setJobGroup(s"c.$id", slot)
    val t0 = System.nanoTime()
    var tc, tp = t0
    val rec = try {
      val df = entries(slot)(spark, dir)
      tc = System.nanoTime()
      if (trace) sc.setJobGroup(s"x.$id", slot)
      val counted = df.groupBy().count()
      val qe = counted.queryExecution
      qe.executedPlan
      tp = System.nanoTime()
      val rows = counted.collect()(0).getLong(0)
      val t1 = System.nanoTime()
      val phases = if (trace) qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs / 1000.0 } else Map.empty[String, Double]
      val files = if (trace) Runner.scanFiles(qe) else 0L
      CallRec(slot, id, outer0, t0, tc, tp, t1, 0L, rows, ok = true,
        "", phases, files)
    } catch { case e: Throwable =>
      CallRec(slot, id, outer0, t0, tc, tp, System.nanoTime(), 0L,
        -1L, ok = false, e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage).take(200), Map.empty, 0L)
    } finally if (trace) sc.clearJobGroup()
    val done = rec.copy(outer1 = System.nanoTime())
    res.attempted.incrementAndGet()
    if (!done.ok) res.fail(s"call $slot: ${done.err}")
    else if (!oracleSql.contains(slot) && done.rows < 1)
      res.fail(s"call $slot: rows-only slot returned no rows")
    done
  }

  /** Dumps each oracle-covered slot once with the statement
    * `tools/check.py` compares it against. Dumps run outside every timed
    * span, so they run concurrently. */
  def dumpOracle(slots: Seq[String], dir: String, dumpDir: String): Unit = {
    val covered = slots.distinct.filter(oracleSql.contains).sorted
    new File(dumpDir).mkdirs()
    Parallel.map(covered, spark.sparkContext.defaultParallelism) { s =>
      try entries(s)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dumpDir/$s")
      catch { case e: Throwable =>
        res.attempted.incrementAndGet()
        res.fail(s"oracle dump $s: ${e.getClass.getSimpleName}")
      }
    }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      covered.map(s => s"${Json.str(s)}: ${Json.str(oracleSql(s))}")
        .mkString("{", ", ", "}"))
    res.oracle += ((dir, dumpDir))
  }
}

object Parallel {
  /** `f` over `xs` on `threads` threads pulling from one queue; results
    * in completion order. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val todo = new ConcurrentLinkedQueue[A](xs.asJava)
    val done = new ConcurrentLinkedQueue[B]()
    val workers = (1 to math.max(1, math.min(threads, xs.size))).map { _ =>
      val t = new Thread(() => {
        var x = todo.poll()
        while (x != null) { done.add(f(x)); x = todo.poll() }
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    done.asScala.toSeq
  }
}

object Runner {
  val Planted = "planted_failure"

  /** Files the counted frame's scans read, from the scan nodes' SQL
    * metrics (adaptive stages included). */
  def scanFiles(qe: org.apache.spark.sql.execution.QueryExecution): Long = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanLike =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}

/** Everything one run needs: the session, the seed, the clock budget
  * and the places it may write. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, work: String, processStartMs: Long,
    python: String, gen: String, plantFailure: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Runs the seeded generator as a child process and waits for it. */
  def generate(args: String*): Unit = {
    val p = new ProcessBuilder((Seq(python, gen) ++ args): _*)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .start()
    val rc = p.waitFor()
    if (rc != 0) throw new IllegalStateException(s"generator ${args.head} exited $rc")
  }

  /** Notes in the run's log how far into the run a phase ended. */
  def mark(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${(System.currentTimeMillis() - processStartMs) / 1000.0}%.2f s")

  def setupDone(res: Result): Unit = {
    res.put("setup_s", (System.currentTimeMillis() - processStartMs) / 1000.0, "s")
    mark("set-up done")
  }

  /** Heap in use once full collections stop freeing memory. Spark's
    * cleaner drops broadcast and shuffle blocks on its own thread after
    * a collection finds their handles unreachable, so one collection is
    * not enough; this runs outside every timed span. */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (prev - cur > 0.5 && rounds < 8) {
      Thread.sleep(100)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[${a.getOrElse("cores", "4")}]")
      .config("spark.sql.shuffle.partitions", a.getOrElse("cores", "4"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session ready after ${
      (System.currentTimeMillis() - a("start-ms").toLong) / 1000.0}%.2f s")
    val ctx = Ctx(spark, workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("start-ms").toLong, a("python"), a("gen"),
      a.get("plant-failure").contains("1"))
    val res = new Result
    try workload match {
      case "corpus_refresh" => CorpusRefresh.run(ctx, res)
      case "alert_stream" => AlertStream.run(ctx, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable =>
      e.printStackTrace()
      res.attempted.incrementAndGet()
      res.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    ctx.mark("workload done")
    Files.writeString(Paths.get(a("out")), res.json)
    spark.stop()
  }
}
