package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.UpsertSink

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def snap(dir: String): Map[Long, (String, Long)] =
    UpsertSink.snapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("keyed upsert: last-writer-wins across batches, version wins within a batch") {
    val dir = tmp("graft-upsert")
    val b1 = Seq((1L, "one", 10L), (2L, "two", 10L), (3L, "three", 10L),
      // same key twice in one batch: the higher version must win
      (5L, "five-old", 1L), (5L, "five-new", 2L))
      .toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(b1, 0L, dir, "doc_id", "ver", nBuckets = 8)
    val b2 = Seq((2L, "two-v2", 20L), (4L, "four", 20L))
      .toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(b2, 1L, dir, "doc_id", "ver", nBuckets = 8)
    assert(snap(dir) === Map(
      1L -> ("one", 10L), 2L -> ("two-v2", 20L), 3L -> ("three", 10L),
      4L -> ("four", 20L), 5L -> ("five-new", 2L)))
  }

  test("empty first batch into a fresh snapshot: the next batch still applies") {
    val dir = tmp("graft-upsert")
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(empty, 0L, dir, "doc_id", "ver", nBuckets = 8)
    val b1 = Seq((1L, "one", 10L), (2L, "two", 10L))
      .toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(b1, 1L, dir, "doc_id", "ver", nBuckets = 8)
    assert(snap(dir) === Map(1L -> ("one", 10L), 2L -> ("two", 10L)))
    // the empty batch is still recorded: its replay short-circuits
    UpsertSink.applyBatch(empty, 0L, dir, "doc_id", "ver", nBuckets = 8)
    assert(snap(dir) === Map(1L -> ("one", 10L), 2L -> ("two", 10L)))
  }

  test("replayed batch id is a no-op; untouched buckets are not rewritten") {
    val dir = tmp("graft-upsert")
    val many = (0L until 64L).map(i => (i, s"v$i", 1L))
      .toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(many, 0L, dir, "doc_id", "ver", nBuckets = 8)
    def fileStamps: Map[String, Long] = {
      val root = new java.io.File(s"$dir/data")
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .flatMap(b => b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${b.getName}/${f.getName}" -> f.lastModified()))
        .toMap
    }
    val before = fileStamps
    // one single-key update: exactly one bucket may change
    val upd = Seq((7L, "seven-v2", 2L)).toDF("doc_id", "text", "ver")
    UpsertSink.applyBatch(upd, 1L, dir, "doc_id", "ver", nBuckets = 8)
    val after = fileStamps
    val changedBuckets = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(_.split("/").head)
    assert(changedBuckets.size === 1,
      s"single-key update rewrote buckets: $changedBuckets")
    assert(snap(dir)(7L) === (("seven-v2", 2L)))
    // replaying the SAME batch id must change nothing — not even mtimes
    val frozen = fileStamps
    UpsertSink.applyBatch(upd, 1L, dir, "doc_id", "ver", nBuckets = 8)
    assert(fileStamps === frozen, "replayed batch id rewrote the snapshot")
  }

  test("streaming path: two triggers fold into one consistent snapshot") {
    val dir = tmp("graft-upsert")
    val ckpt = tmp("graft-upsert-ckpt")
    val input = MemoryStream[(Long, String, Long)](31, spark, None)
    val q = UpsertSink.start(
      input.toDF().toDF("doc_id", "text", "ver"),
      dir, ckpt, "doc_id", "ver", nBuckets = 4)
    try {
      input.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      input.addData((2L, "b2", 2L), (3L, "c", 2L))
      q.processAllAvailable()
      assert(snap(dir) === Map(
        1L -> ("a", 1L), 2L -> ("b2", 2L), 3L -> ("c", 2L)))
    } finally q.stop()
  }

  test("compaction folds per-batch file sets into one file per bucket, content unchanged") {
    val dir = tmp("graft-upsert")
    // several batches all touching bucket-sharing keys -> multi-file buckets
    (0 until 4).foreach { b =>
      val batch = (0L until 16L).map(i => (i, s"b$b-v$i", b.toLong))
        .toDF("doc_id", "text", "ver")
      UpsertSink.applyBatch(batch, b.toLong, dir, "doc_id", "ver", nBuckets = 4)
    }
    def files: Map[String, Int] = {
      val root = new java.io.File(s"$dir/data")
      root.listFiles().filter(_.getName.startsWith("bucket="))
        .map(b => b.getName ->
          b.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    assert(files.values.exists(_ > 1), "compaction test is vacuous: no small files")
    val before = snap(dir)
    UpsertSink.compactSnapshot(spark, dir, nBuckets = 4)
    assert(files.values.forall(_ === 1), s"buckets not compacted: $files")
    assert(snap(dir) === before, "compaction changed snapshot content")
  }

  test("marker expiry keeps the newest, replay of a kept batch still short-circuits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-exp").toString
    def doc(id: Long, v: Long) = Seq((id, v, s"v$v")).toDF("k", "ver", "payload")
    (0L until 6L).foreach(b => UpsertSink.applyBatch(doc(b, b), b, dir, "k", "ver", 4))
    val markers = new java.io.File(s"$dir/_committed")
    // local Hadoop FS writes a .crc beside each marker — count markers
    def ids = markers.list().filter(_.forall(_.isDigit)).sorted.toSeq
    assert(ids === (0 to 5).map(_.toString))
    val dropped = UpsertSink.expireMarkers(spark, dir, keepLast = 2)
    assert(dropped === 4 && ids === Seq("4", "5"))
    // a KEPT batch replayed is still a no-op (its marker survives)
    val before = UpsertSink.snapshot(spark, dir).count()
    UpsertSink.applyBatch(doc(5L, 999L), 5L, dir, "k", "ver", 4)
    assert(UpsertSink.snapshot(spark, dir)
      .filter($"k" === 5L).head().getLong(1) === 5L,
      "replayed kept batch re-applied despite its marker")
    assert(UpsertSink.snapshot(spark, dir).count() === before)
    // idempotent: nothing more to drop
    assert(UpsertSink.expireMarkers(spark, dir, keepLast = 2) === 0)
  }
}
