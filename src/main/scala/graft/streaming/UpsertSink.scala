package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming KEYED UPSERT into a bucketed parquet snapshot — live
  * corpus maintenance (a document store fed by an ingest stream, a
  * device-registry materialization fed by telemetry): each micro-batch
  * folds its rows into the current snapshot with last-writer-wins per
  * key, and a reader always sees a complete consistent table.
  *
  * Exactly-once under foreachBatch's at-least-once contract, twice
  * over:
  *
  *  1. A `_committed/<batchId>` marker short-circuits a REPLAYED batch
  *     entirely (the AlertSink epoch-overwrite idea, lifted to a
  *     read-modify-write sink where blind re-execution would at least
  *     waste a snapshot rewrite).
  *  2. The apply itself is idempotent anyway — anti-join + union of
  *     the same rows reproduces the same snapshot — so a crash BETWEEN
  *     the data commit and the marker write still converges on retry.
  *
  * Scale: the snapshot is hash-bucketed on the key into `bucket=<b>/`
  * partitions, and a batch rewrites ONLY the buckets its keys touch —
  * read side prunes to touched partitions at planning time, write side
  * uses dynamic partition overwrite so untouched buckets are never
  * rewritten (never even read). Cost per batch is
  * O(touched buckets × bucket size), not O(snapshot); bucket count is
  * the knob that trades rewrite amplification against file count —
  * exactly the economics of a table format's compaction, stated in
  * plain parquet. (A production deployment would reach for a
  * transactional table format; these are the semantics it provides,
  * built from the primitives this engine owns.)
  */
object UpsertSink {

  /** Fold one batch into the snapshot at `dir`. Within the batch,
    * the row with the highest `verCol` per key wins (ties broken
    * arbitrarily among identical versions); across batches, later
    * batches overwrite earlier keys. Idempotent per (batch, batchId):
    * a recorded batchId is skipped outright. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      keyCol: String, verCol: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(nBuckets >= 1, s"nBuckets $nBuckets must be >= 1")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dir/_committed/$batchId")
    if (fs.exists(marker)) return // replayed batch: already applied
    val dataDir = s"$dir/data"
    // last-writer-wins WITHIN the batch, then bucket by key hash
    val deduped = batch
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
          .orderBy(col(verCol).desc)))
      .filter($"__rk" === 1).drop("__rk")
      .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets)))
      .persist()
    try {
      val touched = deduped.select($"bucket").distinct()
        .as[Long].collect().toSet // bounded by nBuckets
      if (touched.isEmpty) {
        // an empty batch changes no bucket: writing it anyway would
        // leave a fresh snapshot a `data/` dir with no parquet file,
        // and the next batch's read could not infer a schema
        writeMarker(fs, marker)
        return
      }
      val checkpointed =
        if (fs.exists(new Path(dataDir))) {
          // partition filter prunes the scan to touched buckets only
          val existing = spark.read.parquet(dataDir)
            .filter($"bucket".isin(touched.toSeq: _*))
          Some(existing
            .join(deduped.select(col(keyCol)), Seq(keyCol), "left_anti")
            .unionByName(deduped)
            // eager checkpoint MATERIALIZES the merge before the write
            // and cuts the scan out of the write plan — Spark (rightly)
            // refuses to overwrite a path its own plan still reads
            .localCheckpoint(true))
        } else None
      val merged = checkpointed.getOrElse(deduped)
      // the write (an action) is the checkpoint's last reader: release
      // it in a FINALLY — a failed write must not leak the pin either,
      // or a continuously-running stream pins one touched-buckets
      // block set PER (failed or successful) TRIGGER for the JVM's
      // life (the r12 leak sweep)
      try {
        merged.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic") // replace ONLY
          .partitionBy("bucket")                       // touched buckets
          .parquet(dataDir)
        writeMarker(fs, marker)
      } finally checkpointed.foreach(graft.Tables.unpinCheckpoint)
    } finally deduped.unpersist()
    ()
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      marker: Path): Unit = {
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Attach the upsert sink to an update stream. Returns the started
    * query; callers own its lifecycle. */
  def start(updates: DataFrame, dir: String, checkpointDir: String,
      keyCol: String, verCol: String, nBuckets: Int = 64): StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, keyCol, verCol, nBuckets)
      }
      .start()

  /** The current snapshot as a DataFrame (bucket column dropped). */
  def snapshot(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/data").drop("bucket")

  /** COMPACT the snapshot: every applied batch leaves one file-set per
    * touched bucket, so a long-running stream accumulates small files
    * (the same pressure every table format schedules compaction for).
    * One job rewrites each bucket as a single file: repartition on the
    * bucket column co-locates each bucket's rows in one task, dynamic
    * overwrite swaps whole buckets atomically-per-partition. Content
    * is untouched, so the pass is idempotent and needs no marker; run
    * it from maintenance, not the hot path. The eager checkpoint cuts
    * the self-read the same way [[applyBatch]]'s does. */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession, dir: String,
      nBuckets: Int = 64): Unit = {
    import spark.implicits._
    val dataDir = s"$dir/data"
    val pinned = spark.read.parquet(dataDir)
      .repartition(nBuckets, $"bucket")
      .localCheckpoint(true)
    try pinned.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(dataDir)
    finally graft.Tables.unpinCheckpoint(pinned) // write = last reader
  }

  /** EXPIRE old replay markers — the other maintenance half: every
    * applied batch leaves a `_committed/<batchId>` file forever, and a
    * stream that has run for a year carries ~10⁵ of them (a listing
    * cost on every recovery, and an unbounded tiny-file leak on object
    * stores). Markers exist ONLY to short-circuit at-least-once
    * replays, and Structured Streaming replays at most the batches
    * after the last checkpoint — so markers older than the newest
    * `keepLast` are dead weight and can be dropped. Keep `keepLast`
    * comfortably above the checkpoint's possible replay depth (the
    * default is orders of magnitude above it); the pass is idempotent
    * and maintenance-path, like [[compactSnapshot]]. */
  def expireMarkers(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepLast: Int = 1000): Int = {
    require(keepLast >= 1, s"keepLast $keepLast must be >= 1")
    val root = new Path(s"$dir/_committed")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val ids = fs.listStatus(root).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted
    val stale = ids.dropRight(keepLast)
    stale.foreach(id => fs.delete(new Path(root, id.toString), false))
    stale.size
  }
}
