package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig}

/** A device the fleet KNOWS about before it has sent anything — the
  * reference's own premise: check_connect.sh:3 looks up the stream for
  * a configured device name, and the whole restart.sh ladder exists to
  * escalate when that KNOWN device is absent. `registered_us` is when
  * the device entered the registry (deploy time); its first silence
  * deadline counts from there. */
case class RegistrySeed(user_id: Long, registered_us: Long)

/** Registry-SEEDED heartbeat timeout — closes the fleet-absence hole in
  * [[StreamingAggs.heartbeatStream]] (A41): that monitor arms a
  * device's timeout from its events, so a device that NEVER sends its
  * first event (dead on deploy — the exact failure the reference's
  * describe-stream poll exists to catch) has no state, no deadline, and
  * never alerts. Here the state store is seeded from the registry
  * before the first trigger: `handleInitialState` runs once per
  * registry row at query start and arms an event-time timer at
  * registered_us + maxGapUs — which is why this runs on
  * transformWithState rather than flatMapGroupsWithState (the older
  * API stores initial state but cannot arm a timeout for a key that
  * never receives data, so the seed would be inert exactly in the
  * never-reported case it exists for).
  *
  * Semantics elsewhere match A41 exactly: a reporting device re-arms
  * from each newer heartbeat (the stale timer is deleted — one live
  * timer per device), a fired alert clears state so an outage alerts
  * once, and a resuming device re-seeds from its next event. An alert
  * for a never-reported device carries last_event_id = -1 and
  * last_us = registered_us — "registered, never heard from".
  *
  * Scale: one ValueState row + one timer per registered device —
  * O(fleet), the store IS the registry; RocksDB provider required
  * (transformWithState runs only on the RocksDB state store).
  */
class RegistryHeartbeatProcessor(maxGapUs: Long)
    extends StatefulProcessorWithInitialState[Long, DeviceEvent, SilenceAlert, RegistrySeed] {

  @transient private var state: org.apache.spark.sql.streaming.ValueState[HeartbeatState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[HeartbeatState](
      "heartbeat", Encoders.product[HeartbeatState], TTLConfig.NONE)
  }

  /** Once per registry row, before any data: the deadline exists from
    * REGISTRATION, not from a first event that may never come. */
  override def handleInitialState(key: Long, seed: RegistrySeed,
      timerValues: TimerValues): Unit = {
    state.update(HeartbeatState(seed.registered_us, -1L))
    getHandle.registerTimer((seed.registered_us + maxGapUs) / 1000L)
  }

  override def handleInputRows(key: Long, rows: Iterator[DeviceEvent],
      timerValues: TimerValues): Iterator[SilenceAlert] = {
    val latest = rows.maxBy(e => (HealthMonitor.tsMicros(e.ts), e.event_id))
    val us = HealthMonitor.tsMicros(latest.ts)
    val prev = Option(state.get())
    // keep the newest heartbeat across batches (a late slice must not
    // rewind the deadline); exactly one live timer per device
    if (prev.forall(_.lastUs <= us)) {
      prev.foreach(p => getHandle.deleteTimer((p.lastUs + maxGapUs) / 1000L))
      state.update(HeartbeatState(us, latest.event_id))
      getHandle.registerTimer((us + maxGapUs) / 1000L)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expired: ExpiredTimerInfo): Iterator[SilenceAlert] = {
    Option(state.get()) match {
      case None => Iterator.empty // raced a concurrent clear — nothing to say
      case Some(s) =>
        state.clear()
        // deadline from STATE (exact µs), not from the ms-granular
        // timer, so alert rows are bit-identical to A41's
        Iterator.single(SilenceAlert(key, s.lastEventId, s.lastUs,
          s.lastUs + maxGapUs))
    }
  }
}

object RegistryHeartbeat {

  /** Attach the seeded monitor: `registry` is the static fleet table
    * (one row per known device). Requires the RocksDB state store
    * provider, as all transformWithState operators do. */
  def heartbeatStreamSeeded(events: Dataset[DeviceEvent],
      registry: Dataset[RegistrySeed],
      maxGapUs: Long = 43200000000L,
      watermark: String = "10 minutes"): Dataset[SilenceAlert] = {
    require(maxGapUs > 0, s"maxGapUs $maxGapUs must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new RegistryHeartbeatProcessor(maxGapUs),
        TimeMode.EventTime(), OutputMode.Append(),
        registry.groupByKey(_.user_id))
  }
}
