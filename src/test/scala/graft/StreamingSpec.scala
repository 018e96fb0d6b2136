package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.EventSource
import graft.streaming.{DeviceEvent, HealthMonitor, MonitorState, StreamingAggs}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, minute: Int, dev: Long, typ: String): DeviceEvent =
    DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), dev, typ, 1.0, "{}")

  test("state kernel: escalation ladder fires at 3/6/9 then recovers") {
    val events = (1 to 9).map(i => ev(i, i, 7L, "error")) :+ ev(10, 10, 7L, "click")
    val (alerts, state) = HealthMonitor.step(events, MonitorState(0, 0))
    assert(alerts.map(_.action) === Seq(
      HealthMonitor.SERVICE_RESTART, HealthMonitor.USB_POWER_CYCLE,
      HealthMonitor.REBOOT, HealthMonitor.RECOVERED))
    assert(alerts.map(_.consec_fails) === Seq(3, 6, 9, 9))
    assert(state === MonitorState(0, 0))
  }

  test("state kernel: short failure bursts below threshold stay silent") {
    val events = Seq(ev(1, 1, 7L, "error"), ev(2, 2, 7L, "error"),
      ev(3, 3, 7L, "click"), ev(4, 4, 7L, "error"))
    val (alerts, state) = HealthMonitor.step(events, MonitorState(0, 0))
    assert(alerts.isEmpty)
    assert(state === MonitorState(1, 0))
  }

  test("streaming monitor over MemoryStream: state carries across micro-batches") {
    val input = MemoryStream[DeviceEvent](1, spark, None)
    val q = HealthMonitor.monitor(input.toDS())
      .writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    try {
      // batch 1: two failures — below threshold, no alert
      input.addData(ev(1, 1, 5L, "error"), ev(2, 2, 5L, "error"))
      q.processAllAvailable()
      assert(spark.table("alerts").count() === 0)
      // batch 2: third consecutive failure → SERVICE_RESTART
      input.addData(ev(3, 3, 5L, "error"))
      q.processAllAvailable()
      val a = spark.table("alerts").as[HealthAlertRow].collect()
      assert(a.length === 1)
      assert(a.head.action === HealthMonitor.SERVICE_RESTART)
      assert(a.head.consec_fails === 3)
      // batch 3: recovery
      input.addData(ev(4, 4, 5L, "purchase"))
      q.processAllAvailable()
      val b = spark.table("alerts").orderBy($"ts").as[HealthAlertRow].collect()
      assert(b.map(_.action).toSeq === Seq(
        HealthMonitor.SERVICE_RESTART, HealthMonitor.RECOVERED))
    } finally q.stop()
  }

  test("streaming monitor isolates devices") {
    val input = MemoryStream[DeviceEvent](2, spark, None)
    val q = HealthMonitor.monitor(input.toDS())
      .writeStream.format("memory").queryName("alerts2")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, 1, 1L, "error"), ev(2, 2, 1L, "error"),
        ev(3, 1, 2L, "error"), ev(4, 3, 2L, "error"), ev(5, 4, 2L, "error"))
      q.processAllAvailable()
      val a = spark.table("alerts2").as[HealthAlertRow].collect()
      assert(a.length === 1 && a.head.user_id === 2L)
    } finally q.stop()
  }

  test("windowed failure counts over a replayed file stream match the batch answer") {
    val staging = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val stream = EventSource.replayTable(spark, sf, staging, parts = 4)
    val q = StreamingAggs.metricSums(stream)
      .writeStream.format("memory").queryName("msums")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode only emits windows the watermark has passed; the final
    // window(s) may be withheld, so compare as subset + spot total
    val streamed = spark.table("msums")
      .select($"user_id", $"window.start".as("w"), $"metric_sum", $"sample_count")
    val batch = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .groupBy(window($"ts", "60 seconds"), $"user_id")
      .agg(sum($"value").as("metric_sum"), count(lit(1)).as("sample_count"))
      .select($"user_id", $"window.start".as("w"), $"metric_sum", $"sample_count")
    val extra = streamed.exceptAll(batch).count()
    assert(extra === 0, "streamed windows must be a subset of batch windows")
    assert(streamed.count() > 0)
  }

  test("checkpoint restart: monitor state survives a query stop/start") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val input = MemoryStream[DeviceEvent](3, spark, None)
    def start() = HealthMonitor.monitor(input.toDS())
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(ev(1, 1, 9L, "error"), ev(2, 2, 9L, "error"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.schema(
      org.apache.spark.sql.Encoders.product[HealthAlertRow].schema)
      .parquet(outDir).count() === 0)
    // restart from checkpoint: the 2-failure state must persist so the
    // third failure triggers SERVICE_RESTART
    val q2 = start()
    try {
      input.addData(ev(3, 3, 9L, "error"))
      q2.processAllAvailable()
    } finally q2.stop()
    val a = spark.read.parquet(outDir).as[HealthAlertRow].collect()
    assert(a.length === 1)
    assert(a.head.action === HealthMonitor.SERVICE_RESTART)
    assert(a.head.consec_fails === 3)
  }

  test("streaming dedup drops replayed event ids across micro-batches") {
    val input = MemoryStream[DeviceEvent](5, spark, None)
    val q = StreamingAggs.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 1, 1L, "click"), ev(2, 2, 1L, "view"),
        ev(1, 1, 1L, "click")) // duplicate within the batch
      q.processAllAvailable()
      input.addData(ev(2, 2, 1L, "view"), ev(3, 3, 1L, "purchase")) // replay + new
      q.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select($"event_id").as[Long].collect().sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("Welford aggregator matches var_samp/stddev on grouped data") {
    val vals = Tables.events(spark, sf).select($"user_id", $"value")
    val welford = vals.as[(Long, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.WelfordAgg.toColumn.name("w"))
      .collect().toMap
    val expected = vals.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), avg($"value").as("m"),
        var_samp($"value").as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    expected.foreach { case (k, (n, m, v)) =>
      val w = welford(k)
      assert(w.n === n)
      assert(math.abs(w.mean - m) < 1e-9 * math.max(1, math.abs(m)))
      assert(math.abs(w.var_samp - v) < 1e-6 * math.max(1, math.abs(v)))
    }
  }

  test("stream-stream interval join pairs failures with recent successes only") {
    val input = MemoryStream[DeviceEvent](4, spark, None)
    val q = StreamingAggs.failureContext(input.toDF(), windowMinutes = 10)
      .writeStream.format("memory").queryName("failctx")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, 1, 3L, "purchase"),  // 10:01 — within 10 min of the 10:05 failure
        ev(2, 5, 3L, "error"),     // 10:05 — should join with event 1
        ev(3, 30, 3L, "error"),    // 10:30 — no purchase in (10:20, 10:30): alone
        ev(4, 2, 4L, "purchase"),  // other device — must not cross-join
        ev(5, 40, 3L, "purchase"), // 10:40 — AFTER the failures: must not join
        // advance both watermarks far enough to emit results
        ev(6, 59, 3L, "error"), ev(7, 59, 3L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("failctx").collect()
      val joined = rows.map(r => (r.getLong(2), r.getTimestamp(3))).toSet
      assert(joined.exists(_._1 == 2L), s"10:05 failure not joined: ${rows.toSeq}")
      assert(!rows.exists(_.getLong(2) == 3L), "10:30 failure had no in-window success")
      assert(rows.forall(_.getLong(0) == 3L), "cross-device join leak")
      // the 10:05 failure joined the 10:01 purchase, not the 10:40 one
      rows.filter(_.getLong(2) == 2L).foreach { r =>
        assert(r.getTimestamp(3).before(r.getTimestamp(1)))
      }
    } finally q.stop()
  }

  test("session windows stream: sessions have positive counts") {
    val staging = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val stream = EventSource.replayTable(spark, sf, staging, parts = 2)
    val q = StreamingAggs.sessions(stream)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("sess")
    assert(rows.count() > 0)
    assert(rows.filter($"n_events" < 1).count() === 0)
  }

  test("streaming zscore: warmup silent, planted spike flagged from prior-batch stats") {
    def pv(id: Long, minute: Int, dev: Long, v: Double): DeviceEvent =
      DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 12:$minute%02d:00"),
        dev, "purchase", v, "{}")
    val input = MemoryStream[DeviceEvent](12, spark, None)
    val q = StreamingAggs.zscoreStream(input.toDS(), k = 2.0, minSamples = 10)
      .writeStream.format("memory").queryName("zscore_out")
      .outputMode("append").start()
    try {
      // batch 1: 12 calm samples around 10±1 — the first 10 are warmup,
      // the last two are in-band; nothing may fire
      val calm = (1 to 12).map(i => pv(i, i, 9L, 10.0 + (i % 3) - 1))
      input.addData(calm)
      q.processAllAvailable()
      assert(spark.table("zscore_out").count() === 0,
        "calm warmup stream must not alert")
      // batch 2: one spike far outside the carried stats, one calm sample
      input.addData(pv(100, 20, 9L, 50.0), pv(101, 21, 9L, 10.0))
      q.processAllAvailable()
      val alerts = spark.table("zscore_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(alerts.toSeq === Seq((9L, 100L, 50.0)),
        s"exactly the spike must fire: ${alerts.toSeq}")
      // the alert was judged against PRIOR stats (mean ≈ 10, not
      // dragged toward 50 by the spike itself)
      val priorMean = spark.table("zscore_out").collect().head.getDouble(4)
      assert(priorMean > 9.0 && priorMean < 11.0, s"prior mean $priorMean")
    } finally q.stop()
  }

  test("streaming ewma: state carries across batches, equals the batch fold") {
    def pv(id: Long, minute: Int, dev: Long, v: Double): DeviceEvent =
      DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 11:$minute%02d:00"),
        dev, "purchase", v, "{}")
    val input = MemoryStream[DeviceEvent](11, spark, None)
    val q = StreamingAggs.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    try {
      // batch 1: device 5 gets three samples (one out of order), device
      // 6 one; a non-purchase event must be ignored
      input.addData(pv(1, 2, 5L, 10.0), pv(2, 1, 5L, 4.0), pv(3, 3, 5L, 7.0),
        pv(4, 1, 6L, 2.0), ev(5, 4, 5L, "error"))
      q.processAllAvailable()
      val b1 = spark.table("ewma_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // device 5 in ts order: 4.0, 10.0, 7.0 seeded at 4.0
      val e5a = 0.2 * 7.0 + 0.8 * (0.2 * 10.0 + 0.8 * 4.0)
      assert(b1.toSet === Set((5L, e5a, 3L), (6L, 2.0, 1L)))
      // batch 2: device 5 continues — the carried state, not a restart
      input.addData(pv(6, 5, 5L, 1.0))
      q.processAllAvailable()
      val b2 = spark.table("ewma_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(b2.toSet.contains((5L, 0.2 * 1.0 + 0.8 * e5a, 4L)),
        s"batch 2 output: ${b2.toSet}")
    } finally q.stop()
  }

  test("streaming cusum: state carries across batches, equals the batch fold, alarm latches") {
    def pv(id: Long, minute: Int, dev: Long, v: Double): DeviceEvent =
      DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 11:$minute%02d:00"),
        dev, "purchase", v, "{}")
    val input = MemoryStream[DeviceEvent](13, spark, None)
    // target 50, slack 5 → ref 55; h = 20
    val q = StreamingAggs.cusumStream(input.toDS(), target = 50.0,
      slack = 5.0, h = 20.0)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("update").start()
    try {
      // batch 1: device 5 — 70, 60 out of ts order (65 first by id but
      // later by minute): fold order must be ts order 70, 65
      input.addData(pv(1, 2, 5L, 65.0), pv(2, 1, 5L, 70.0),
        pv(3, 1, 6L, 40.0), ev(4, 3, 5L, "error"))
      q.processAllAvailable()
      val b1 = spark.table("cusum_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))
      // device 5: s = max(0, 0 + 15) = 15, then max(0, 15 + 10) = 25
      assert(b1.toSet === Set((5L, 2L, 25.0, 25.0, true),
        (6L, 1L, 0.0, 0.0, false)))
      // batch 2: device 5 drops back in band — statistic decays but
      // the alarm stays latched (max is monotone)
      input.addData(pv(5, 4, 5L, 35.0))
      q.processAllAvailable()
      val b2 = spark.table("cusum_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))
      assert(b2.toSet.contains((5L, 3L, 5.0, 25.0, true)),
        s"batch 2 output: ${b2.toSet}")
      // parity with the batch fold over the replayed history
      val history = Seq(
        (5L, Timestamp.valueOf("2024-01-01 11:02:00"), 1L, "purchase", 65.0),
        (5L, Timestamp.valueOf("2024-01-01 11:01:00"), 2L, "purchase", 70.0),
        (6L, Timestamp.valueOf("2024-01-01 11:01:00"), 3L, "purchase", 40.0),
        (5L, Timestamp.valueOf("2024-01-01 11:04:00"), 5L, "purchase", 35.0))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      val batch = graft.operators.Monitoring
        .cusumOf(history, target = 50.0, slack = 5.0, h = 20.0)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSet
      // memory sink keeps every emitted update — the device's LATEST
      // row (max n_events) is its current state
      val streamed = b2.groupBy(_._1).map(_._2.maxBy(_._2)).toSet
      assert(batch === streamed, s"batch $batch vs streamed $streamed")
    } finally q.stop()
  }

  test("streaming heartbeat: silent device alerts once via event-time timeout, resuming re-arms") {
    def hb(id: Long, t: String, dev: Long): DeviceEvent =
      DeviceEvent(id, Timestamp.valueOf(t), dev, "purchase", 1.0, "{}")
    val input = MemoryStream[DeviceEvent](19, spark, None)
    // 1-hour silence threshold, 10-minute watermark delay
    val q = StreamingAggs.heartbeatStream(input.toDS(),
      maxGapUs = 3600000000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("hb_out")
      .outputMode("append").start()
    try {
      input.addData(hb(1, "2024-01-01 10:00:00", 1L), hb(2, "2024-01-01 10:00:00", 2L))
      q.processAllAvailable()
      // device 2 keeps talking; its events push the watermark past
      // device 1's 11:00 deadline
      input.addData(hb(3, "2024-01-01 12:00:00", 2L))
      q.processAllAvailable()
      input.addData(hb(4, "2024-01-01 12:01:00", 2L))
      q.processAllAvailable()
      val alerts = spark.table("hb_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val ts0 = Timestamp.valueOf("2024-01-01 10:00:00")
      val t0 = ts0.getTime / 1000L * 1000000L + ts0.getNanos / 1000L
      assert(alerts.toSeq === Seq((1L, 1L, t0, t0 + 3600000000L)),
        s"alerts: ${alerts.toSeq}")
      // device 1 resumes: no duplicate alert for the old outage, state
      // re-arms from the new heartbeat; device 2 was never silent
      input.addData(hb(5, "2024-01-01 12:30:00", 1L), hb(6, "2024-01-01 12:40:00", 2L))
      q.processAllAvailable()
      assert(spark.table("hb_out").count() === 1, "resume must not re-alert")
    } finally q.stop()
  }

  test("registry-seeded heartbeat: a registered device that NEVER reports alerts exactly once") {
    import graft.streaming.{RegistryHeartbeat, RegistrySeed}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def hb(id: Long, t: String, dev: Long): DeviceEvent =
        DeviceEvent(id, Timestamp.valueOf(t), dev, "purchase", 1.0, "{}")
      def us(t: String): Long = {
        val ts = Timestamp.valueOf(t)
        ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
      }
      // devices 1 and 2 both REGISTERED at 10:00; device 2 never sends
      // a single event — the exact case A41 is blind to (no event, no
      // state, no timer) and the reference's describe-stream poll
      // exists for (a stream that never came up after a deploy)
      val registry = Seq(
        RegistrySeed(1L, us("2024-01-01 10:00:00")),
        RegistrySeed(2L, us("2024-01-01 10:00:00"))).toDS()
      val input = MemoryStream[DeviceEvent](21, spark, None)
      // 1-hour silence threshold, 10-minute watermark delay
      val q = RegistryHeartbeat.heartbeatStreamSeeded(input.toDS(), registry,
          maxGapUs = 3600000000L, watermark = "10 minutes")
        .writeStream.format("memory").queryName("reg_hb_out")
        .outputMode("append").start()
      try {
        // device 1 keeps reporting (each event re-arms it inside the
        // gap); its events are also what pushes the watermark past
        // device 2's registration deadline of 11:00
        input.addData(hb(1, "2024-01-01 10:30:00", 1L))
        q.processAllAvailable()
        input.addData(hb(2, "2024-01-01 11:05:00", 1L))
        q.processAllAvailable()
        input.addData(hb(3, "2024-01-01 11:20:00", 1L))
        q.processAllAvailable()
        input.addData(hb(4, "2024-01-01 11:25:00", 1L))
        q.processAllAvailable()
        val alerts = spark.table("reg_hb_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // exactly one alert: device 2, "registered, never heard from"
        // (last_event_id = -1, last_us = registration, deadline =
        // registration + gap); device 1 never alerted
        assert(alerts.toSeq === Seq(
          (2L, -1L, us("2024-01-01 10:00:00"), us("2024-01-01 11:00:00"))),
          s"alerts: ${alerts.toSeq}")
        // device 2 finally comes up: re-seeds from its event, no
        // duplicate alert for the old outage while inside the new gap
        input.addData(hb(5, "2024-01-01 11:30:00", 2L))
        q.processAllAvailable()
        input.addData(hb(6, "2024-01-01 11:40:00", 1L))
        q.processAllAvailable()
        assert(spark.table("reg_hb_out").count() === 1,
          "resume must not re-alert")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming burn rate: closed buckets replay onto the batch rows, state crosses batches") {
    def bev(id: Long, h: Int, min: Int, typ: String): DeviceEvent =
      DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00"),
        1L, typ, 1.0, "{}")
    // bucket with hour 01: 3 errors + 1 purchase (burn 3.75), hour 02:
    // 4 purchases (burn 0), hour 03: 1 error + 3 views (burn 1.25);
    // bucket ratio 4/12 → burn_6h ≈ 1.6667 → hour 01 pages (both hot),
    // hour 03 does not (fast window under 1.5)
    val bucket0 = Seq(
      bev(1, 1, 10, "error"), bev(2, 1, 12, "error"), bev(3, 1, 14, "error"),
      bev(4, 1, 20, "purchase"),
      bev(5, 2, 10, "purchase"), bev(6, 2, 11, "purchase"),
      bev(7, 2, 12, "purchase"), bev(8, 2, 13, "purchase"),
      bev(9, 3, 5, "error"), bev(10, 3, 6, "view"),
      bev(11, 3, 7, "view"), bev(12, 3, 8, "view"))
    // error-free sentinels: close bucket 0, then close the sentinel's
    // own bucket — neither adds over-budget hours, so the batch
    // operator over the same history emits exactly the streamed rows
    val sentinels = Seq(bev(13, 7, 0, "purchase"), bev(14, 13, 30, "purchase"))
    val input = MemoryStream[DeviceEvent](17, spark, None)
    val q = StreamingAggs.burnRateStream(input.toDS())
      .writeStream.format("memory").queryName("burn_out")
      .outputMode("append").start()
    try {
      input.addData(bucket0.take(8): _*)
      q.processAllAvailable()
      assert(spark.table("burn_out").count() === 0, "open bucket must not emit")
      input.addData((bucket0.drop(8) ++ sentinels): _*)
      q.processAllAvailable()
      val streamed = spark.table("burn_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSet
      val history = (bucket0 ++ sentinels)
        .map(e => (e.user_id, e.ts, e.event_id, e.event_type, e.value))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      val batch = graft.operators.Monitoring.burnRateOf(history).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSet
      assert(streamed === batch, s"streamed $streamed vs batch $batch")
      assert(streamed.size === 2)
      val byErrors = streamed.groupBy(_._3)
      assert(byErrors(3L).head._7, "3-error hour must page")
      assert(!byErrors(1L).head._7, "1-error hour must not page")
    } finally q.stop()
  }

  private def seasonalEv(id: Long, day: Int, h: Int, min: Int, dev: Long,
      v: Double, typ: String = "purchase"): DeviceEvent =
    DeviceEvent(id, Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$min%02d:00"),
      dev, typ, v, "{}")

  test("streaming seasonal deviation: planted 03:00 anomaly that a global mean misses") {
    import graft.operators.Monitoring
    // history: device 1, three days — quiet at 03:00 (sum 2.0/window),
    // busy at 14:00 (sum 100.0/window)
    val history = (1 to 3).flatMap { day =>
      Seq(seasonalEv(day * 10L, day, 3, 10, 1L, 1.0),
        seasonalEv(day * 10L + 1, day, 3, 40, 1L, 1.0),
        seasonalEv(day * 10L + 2, day, 14, 10, 1L, 50.0),
        seasonalEv(day * 10L + 3, day, 14, 40, 1L, 50.0))
    }
    val baseline = Monitoring.seasonalBaseline(history.toDS().toDF())
    val input = MemoryStream[DeviceEvent](13, spark, None)
    val q = StreamingAggs.seasonalDeviationStream(input.toDS(), baseline)
      .writeStream.format("memory").queryName("seasonal_out")
      .outputMode("append").start()
    try {
      // day 4 live: 03:00 sums to 10.0 (5x its slot baseline), 14:00 is
      // a normal 100.0; a far-future click advances the watermark
      input.addData((1 to 5).map(i =>
        seasonalEv(100L + i, 4, 3, i * 5, 1L, 2.0)) ++
        Seq(seasonalEv(110L, 4, 14, 10, 1L, 50.0),
          seasonalEv(111L, 4, 14, 40, 1L, 50.0)))
      q.processAllAvailable()
      input.addData(seasonalEv(120L, 10, 0, 0, 1L, 0.0, "click"))
      q.processAllAvailable()
      val flags = spark.table("seasonal_out").collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5)))
      assert(flags.toSeq === Seq((1L, 3, 10.0, 2.0, 5.0)),
        s"exactly the 03:00 window must flag: ${flags.toSeq}")
      // the anomalous hour's sum (10.0) is far BELOW the device's
      // all-hours mean hourly sum ((3*2 + 3*100) / 6 = 51): any
      // global-mean threshold reads it as low-normal traffic — only
      // the same-slot baseline exposes it as a 5x spike
      assert(10.0 < 51.0)
    } finally q.stop()
  }

  test("streaming seasonal deviation: replayed history flags the batch detector's exact set") {
    import graft.operators.Monitoring
    // three devices x three days x three slots with deterministic
    // varying sums — several windows land beyond the 1.5x cut in both
    // directions, several inside it
    val history = for {
      dev <- 1 to 3; day <- 1 to 3; h <- Seq(3, 14, 20)
    } yield seasonalEv((dev * 100 + day * 10 + h).toLong, day, h, 30,
      dev.toLong, ((day * 7 + dev * 3 + h) % 13).toDouble + 1.0)
    val histDf = history.toDS().toDF()
    val baseline = Monitoring.seasonalBaseline(histDf)
    val want = Monitoring.seasonalDeviationOf(histDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(want.nonEmpty, "parity history must contain deviating windows")
    assert(want.size < history.size, "some windows must be in-band")
    val input = MemoryStream[DeviceEvent](14, spark, None)
    val q = StreamingAggs.seasonalDeviationStream(input.toDS(), baseline)
      .writeStream.format("memory").queryName("seasonal_parity")
      .outputMode("append").start()
    try {
      input.addData(history)
      q.processAllAvailable()
      input.addData(seasonalEv(9999L, 10, 0, 0, 1L, 0.0, "click"))
      q.processAllAvailable()
      val got = spark.table("seasonal_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toSet
      assert(got === want,
        s"stream/batch divergence: stream-only=${got -- want}, batch-only=${want -- got}")
    } finally q.stop()
  }

  test("live MTTR: replayed history emits the batch operator's recovered incidents once") {
    import graft.operators.Monitoring
    val want = Monitoring.mttr(spark, sf).collect()
      .filter(_.getLong(3) >= 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.nonEmpty, "sf0.001 must contain recovered incidents")
    val history = Tables.events(spark, sf)
      .orderBy($"ts", $"event_id").as[DeviceEvent].collect()
    val (sliceA, sliceB) = history.splitAt(history.length / 2)
    val input = MemoryStream[DeviceEvent](23, spark, None)
    val q = StreamingAggs.recoveryStream(input.toDS())
      .writeStream.format("memory").queryName("recovery_out")
      .outputMode("append").start()
    try {
      input.addData(sliceA.toSeq)
      q.processAllAvailable()
      input.addData(sliceB.toSeq)
      q.processAllAvailable()
      def got: Set[(Long, Long, Long, Long)] = spark.table("recovery_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
        .toSet
      val g1 = got
      assert(g1 === want,
        s"stream/batch divergence: stream-only=${g1 -- want}, batch-only=${want -- g1}")
      // at-least-once transport: replaying a slice must not double-emit
      input.addData(sliceB.toSeq)
      q.processAllAvailable()
      assert(got === g1, "replayed events re-emitted recovery rows")
      assert(spark.table("recovery_out").count() === g1.size.toLong,
        "duplicate recovery rows emitted")
    } finally q.stop()
  }

  test("streaming trend: replayed history refits the batch capacity forecast bit-exactly") {
    def pv(id: Long, hour: Int, dev: Long, v: Double): DeviceEvent =
      DeviceEvent(id, new Timestamp(1704067200000L + hour * 3600000L),
        dev, "purchase", v, "{}")
    // device 1: the A60 spec's exact ramp (+0.5/hour from 100); device
    // 2: flat; split mid-series so state must carry across triggers
    val all = (0 to 240).map(i => pv(i.toLong, i, 1L, 100.0 + 0.5 * i)) ++
      (0 to 24).map(i => pv(500L + i, i, 2L, 50.0))
    val (first, second) = all.partition(_.event_id % 2 == 0)
    val input = MemoryStream[DeviceEvent](17, spark, None)
    val q = StreamingAggs.trendStream(input.toDS())
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("update").start()
    try {
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(second: _*)
      q.processAllAvailable()
      val live = spark.table("trend_out").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .groupBy(_._1).map { case (d, rows) => d -> rows.maxBy(_._2) }
      import spark.implicits._
      val batch = graft.operators.Monitoring.capacityForecastOf(
        all.map(e => (e.user_id, e.ts, e.event_type, e.value))
          .toDF("user_id", "ts", "event_type", "value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .map(t => t._1 -> t).toMap
      assert(live.keySet === batch.keySet, s"fleet drift: $live vs $batch")
      live.foreach { case (d, row) =>
        assert(row === batch(d), s"device $d: stream $row != batch ${batch(d)}")
      }
    } finally q.stop()
  }

  test("streaming flaps: replayed history pages the batch flagged device-days, once each") {
    import graft.operators.Monitoring
    val want = Monitoring.statusFlaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "sf0.001 must contain flapping device-days")
    val history = Tables.events(spark, sf)
      .orderBy($"ts", $"event_id").as[DeviceEvent].collect()
    // split mid-history so device-day flip counts cross a trigger
    val (sliceA, sliceB) = history.splitAt(history.length / 2)
    val input = MemoryStream[DeviceEvent](24, spark, None)
    val q = StreamingAggs.flapStream(input.toDS())
      .writeStream.format("memory").queryName("flap_out")
      .outputMode("append").start()
    try {
      input.addData(sliceA.toSeq)
      q.processAllAvailable()
      input.addData(sliceB.toSeq)
      q.processAllAvailable()
      def got: Seq[(Long, Long, Long)] = spark.table("flap_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val g1 = got
      assert(g1.map(t => (t._1, t._2)).toSet === want,
        s"stream/batch divergence: stream-only=" +
          s"${g1.map(t => (t._1, t._2)).toSet -- want}, " +
          s"batch-only=${want -- g1.map(t => (t._1, t._2)).toSet}")
      // pages fire AT the threshold, exactly once per device-day
      assert(g1.forall(_._3 === 4L), s"page not at threshold: $g1")
      assert(g1.size === want.size, "device-day paged more than once")
      // at-least-once transport: replaying a slice must not re-page
      input.addData(sliceB.toSeq)
      q.processAllAvailable()
      assert(got === g1, "replayed events re-paged flap alerts")
    } finally q.stop()
  }

  test("window percentiles stream: closed windows match the batch sketch sibling bit-exactly") {
    // two devices, two hour windows of purchases with spread values,
    // then a late-hour event to push the watermark past both
    def pev(id: Long, dev: Long, hour: Int, minute: Int, v: Double) =
      DeviceEvent(id, Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00"),
        dev, "purchase", v, "{}")
    var id = 0L
    val body = for {
      dev <- Seq(1L, 2L); hour <- Seq(10, 11); m <- 0 until 20
    } yield { id += 1; pev(id, dev, hour, m * 2,
      (dev * 100 + hour + m).toDouble) }
    val flush = pev(9999L, 1L, 15, 0, 1.0) // watermark pusher
    val input = MemoryStream[DeviceEvent](207, spark, None)
    val q = StreamingAggs.windowPercentiles(input.toDS().toDF())
      .writeStream.format("memory").queryName("pctl_stream")
      .outputMode("append").start()
    try {
      input.addData(body.toIndexedSeq)
      q.processAllAvailable()
      input.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("pctl_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // the four planted windows are closed; the flush window may be held
    assert(live.keySet.size >= 4, s"closed windows missing: ${live.keySet}")
    val batch = graft.operators.Monitoring.windowPercentilesApproxOf(
        body.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    batch.foreach { case (k, v) =>
      assert(live.get(k).contains(v),
        s"stream window $k diverged: ${live.get(k)} vs $v") }
  }
}

case class HealthAlertRow(user_id: Long, ts: Timestamp, action: String, consec_fails: Int)
