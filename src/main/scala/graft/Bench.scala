package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement protocol (round 7 — after two consecutive rounds of
  * ±30% one-directional drift on byte-identical plans defeated
  * min-of-three): the suite runs TWICE end-to-end, three timed runs
  * per slot per pass, and the headline `queries` value is the MIN of
  * the two per-pass MEDIANS. A median-of-three absorbs one cold/JIT
  * run inside a pass; the min across passes absorbs a load burst that
  * hits one whole pass (the r6 failure mode: the driver's recorded
  * tail slots ran 2–3× their isolated cost while a local replay of
  * the identical commit reproduced none of it). `queries_median` keeps
  * the median of all six timed runs so spread stays diagnosable:
  * headline and median moving together on an unchanged plan is a real
  * regression; the headline holding while the median inflates is
  * environment. The JSON also records the machine's 1-minute load
  * average before and after, heap ceiling, and per-pass wall time, so
  * a loaded-machine artifact is self-identifying instead of reading
  * as a code regression.
  */
object Bench {
  private def median3(a: Double, b: Double, c: Double): Double =
    Seq(a, b, c).sorted.apply(1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 100+ queries x several codegen stages x 6 timed runs blow
      // through the default 100-entry generated-class cache, so every
      // run of every slot Janino-recompiles its whole-stage code —
      // uniform late-suite slot inflation that reads as a regression
      // (see GraftSession for the full note). Static conf: set here,
      // before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    // Dev-loop filter (the driver never sets it): bench only the named
    // slots, e.g. SPARK_GRAFT_ONLY=tfidf_top,word_freq_topk — isolates
    // a slot from cross-slot JVM state when chasing a regression.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = (only match {
      case Some(ks) => SparkEntry.queries.filter(q => ks(q._1))
      case None => SparkEntry.queries
    }).toSeq.sortBy(_._1)

    /** One suite pass: per slot, GC-settle then three timed runs.
      * Returns (slot -> runs) plus the pass wall time. A slot that
      * throws reports -1 runs, never a fake timing, and is not
      * re-run within the pass. */
    def pass(): (Map[String, Seq[Double]], Double) = {
      val t0 = System.nanoTime()
      val res = selected.map { case (name, fn) =>
        // Slot hygiene: a previous query's construction can leave
        // orphaned localCheckpoint blocks pinned until their RDDs are
        // GC-collected (ContextCleaner releases them on reference
        // collection). A GC + short settle between slots releases that
        // storage so its block-manager pressure and GC pauses don't
        // land in THIS query's timed passes.
        System.gc()
        Thread.sleep(250)
        def timed(): Double =
          try {
            val t = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        val a = timed()
        val b = if (a < 0) a else timed()
        val c = if (a < 0 || b < 0) -1.0 else timed()
        name -> Seq(a, b, c)
      }.toMap
      (res, (System.nanoTime() - t0) / 1e9)
    }

    val (p1, wall1) = pass()
    val (p2, wall2) = pass()
    // self-describing medians (round-7 verdict #7): the two pass
    // medians are LABELED — pass 1 is the cold (fresh-JVM/JIT) pass,
    // pass 2 the warm one — so a reader cannot mistake warmup for a
    // regression (ngram_jaccard's cold median ran 4× its warm median
    // on an unchanged plan). The headline stays min of the two.
    val results = selected.map { case (name, _) =>
      val (r1, r2) = (p1(name), p2(name))
      if (r1.exists(_ < 0) || r2.exists(_ < 0)) name -> (-1.0, -1.0, -1.0)
      else {
        val (mCold, mWarm) = (median3(r1(0), r1(1), r1(2)),
          median3(r2(0), r2(1), r2(2)))
        name -> (math.min(mCold, mWarm), mCold, mWarm)
      }
    }
    val loadEnd = os.getSystemLoadAverage
    val xmxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // resident pinned-artifact mass at suite end (the r14 drift
    // hypothesis: eager localCheckpoint audit artifacts accumulate as
    // the suite grows, and later slots GC over a bigger heap) — a
    // NUMBER in the artifact so the theory is checkable round-over-
    // round instead of re-guessed
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(_.memSize).sum / (1024 * 1024)
    def jsonMap(f: ((String, (Double, Double, Double))) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f((k, v)) }
        .mkString("{", ",", "}")
    val qs = jsonMap(_._2._1)
    val qsCold = jsonMap(_._2._2)
    val qsWarm = jsonMap(_._2._3)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failed = results.filter(_._2._1 < 0).map(_._1)
    // failed slots are left out of `total`; `failed_count` keeps the
    // file artifact from reading as healthy (bench_guard refuses it)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""failed_count":${failed.size},"queries":$qs,""" +
        s""""queries_median_cold":$qsCold,"queries_median_warm":$qsWarm,""" +
        s""""sf":"$sfDir","protocol":"min-of-pass-medians(2x3)",""" +
        s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd,""" +
        s""""xmx_mb":$xmxMb,"cpus":$cpus,"storage_mb":$storageMb,""" +
        s""""pass_wall_sec":[$wall1,$wall2]}"""
    // The full artifact goes to the FILE only. The driver's round
    // capture keeps just the last 2000 chars of the log, so a 15 KB
    // single line can never parse from it (every BENCH_r*.json through
    // r8 carries "parsed": null with a mid-map fragment as the tail).
    // stdout therefore carries ONLY a compact line guaranteed to fit
    // inside that window WITH the trailing sbt "[success]" line: the
    // headline metric, the top slots by headline time rounded to ms,
    // and a pointer to the full per-slot file.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    def ms(d: Double): Double = math.rint(d * 1000) / 1000
    val top = results.sortBy(-_._2._1).takeWhile(_._2._1 >= 0)
      .foldLeft((List.empty[String], 0)) { case ((acc, len), (k, v)) =>
        val e = "\"" + k + "\":" + ms(v._1)
        // budget the queries map to ~1300 chars so the whole line stays
        // well under the driver's 2000-char tail window
        if (len + e.length > 1300) (acc, len) else (e :: acc, len + e.length + 1)
      }._1.reverse
    val compact =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
        s""""queries":${top.mkString("{", ",", "}")},""" +
        s""""slots":${results.size},"slots_shown":${top.size},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""full":"$out","sf":"$sfDir","protocol":"min-of-pass-medians(2x3)",""" +
        s""""load_avg":[$loadStart,$loadEnd]}"""
    println(compact)
    spark.stop()
  }
}
