package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Ingest-time NEAR-dedup state — the streaming twin of the batch
  * SimHash sweep (`Dedup.simhashPairs`): a doc's 64-bit SimHash is
  * split into four 16-bit chunks (pigeonhole: Hamming ≤ 3 ⇒ at least
  * one identical chunk), each chunk value is a state bucket, and a doc
  * is a near-duplicate iff ANY of its four buckets holds a
  * Hamming-≤ 3 signature from the watermark horizon. Same shape as the
  * batch bucket join, with the bucket turned into keyed state
  * (Spark 4's transformWithState: typed `ValueState`, event-time timers).
  *
  * Scale/state bounds: state is per (chunk, value) bucket — 4 sig rows
  * of ~16 bytes per doc in the horizon, NOT per corpus. Eviction is
  * twofold: lazily by event time whenever a bucket receives a row, and
  * via an EVENT-TIME TIMER per bucket so buckets that go quiet are
  * also cleaned once the watermark passes their horizon (without the
  * timer, a burst that touches much of the 4×65536 keyspace would
  * leave its signatures in the store forever). A hard `maxSigs` cap
  * per bucket bounds a boilerplate flood (one hot bucket): past the
  * cap the OLDEST signatures age out first, which only weakens recall
  * against docs already `maxSigs` deep in a mass-dup cluster (the
  * batch sweep still catches those).
  */
class NearDupProcessor(maxHamming: Int, horizonMs: Long, maxSigs: Int)
    extends StatefulProcessor[Long, ChunkDoc, ChunkVerdict] {

  @transient private var sigs: ListState[BucketSig] = _
  @transient private var lastTimer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sigs = getHandle.getListState[BucketSig](
      "sigs", Encoders.product[BucketSig], TTLConfig.NONE)
    lastTimer = getHandle.getValueState[Long](
      "lastTimer", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[ChunkDoc],
      timerValues: TimerValues): Iterator[ChunkVerdict] = {
    // deterministic within-batch order (iterator order is not): the
    // earliest (ts, doc_id) wins in EVERY bucket, so the four chunk
    // streams of one doc can never disagree about who came first
    val batch = rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
    var stored = sigs.get().toList
    val out = batch.map { d =>
      val t = d.ts.getTime
      stored = stored.filter(_.tsMs >= t - horizonMs)
      val dup = stored.exists(s =>
        java.lang.Long.bitCount(s.sig ^ d.sig) <= maxHamming)
      // dup sigs are stored too: a cluster's later members should match
      // whichever member is still in the horizon, not only the survivor
      stored = (stored :+ BucketSig(d.sig, t)).takeRight(maxSigs)
      ChunkVerdict(d.doc_id, d.ts, dup, d.clean_text, d.source, d.n_tokens)
    }
    sigs.put(stored.toArray)
    // clean this bucket up if it then goes quiet: fire ONE ms past the
    // horizon after the newest signature (batch is ts-sorted, so .last
    // is the batch max). The +1 makes the fire-time cutoff strictly
    // exceed this batch's newest sig — a sig that survives a firing was
    // therefore added by a LATER batch, which registered its own later
    // timer. That invariant is what guarantees every bucket eventually
    // empties: without it the newest sig would survive its own timer
    // forever (tsMs == cutoff) with no follow-up timer pending.
    // ONE pending timer per bucket, tracked in state: re-registering
    // every micro-batch would pile up a pending timer per batch across
    // the horizon (extra timer-state rows + redundant firings on a hot
    // bucket). Advance the single timer only when this batch pushes the
    // bucket's newest signature forward — a batch of only-older events
    // keeps the existing (later) timer, which already evicts its sigs.
    val expiry = batch.last.ts.getTime + horizonMs + 1
    if (!lastTimer.exists() || lastTimer.get() < expiry) {
      if (lastTimer.exists()) getHandle.deleteTimer(lastTimer.get())
      getHandle.registerTimer(expiry)
      lastTimer.update(expiry)
    }
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ChunkVerdict] = {
    // a sig at or older than (expiry - horizon - 1) can no longer match
    // anything the watermark still admits — drop it; clear the bucket
    // entirely when nothing survives (clearing deletes the RocksDB key
    // itself, so a quiet bucket costs zero state, not one stale row)
    val cutoff = expiredTimerInfo.getExpiryTimeInMs - horizonMs
    val kept = sigs.get().toList.filter(_.tsMs >= cutoff)
    // the single-timer invariant (expiry = newest sig + horizon + 1)
    // makes `kept` empty whenever the tracked timer fires; the non-empty
    // branch is defensive only
    if (kept.isEmpty) { sigs.clear(); lastTimer.clear() }
    else sigs.put(kept.toArray)
    Iterator.empty
  }
}

/** One (bucket, doc) row of the 4-way chunk explode. The payload
  * (`clean_text`/`source`) rides ONLY on the chunk-0 row — shipping it
  * on all four would quadruple shuffle and window-state volume for the
  * fattest column; the consolidation picks the single non-null copy. */
case class ChunkDoc(bucket: Long, doc_id: Long, ts: java.sql.Timestamp,
    sig: Long, clean_text: Option[String], source: Option[String],
    n_tokens: Long)

/** Per-bucket verdict for one doc (4 per doc; consolidated by max). */
case class ChunkVerdict(doc_id: Long, ts: java.sql.Timestamp, dup: Boolean,
    clean_text: Option[String], source: Option[String], n_tokens: Long)

/** A signature held in bucket state. */
case class BucketSig(sig: Long, tsMs: Long)
