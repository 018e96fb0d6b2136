package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{BloomFunctions, ClassifierFunctions, TextFunctions, VectorFunctions}
import graft.plans.TopK

/** Rows per second of the library's native column functions and of the
  * top-k-per-key plan node, each over a column of the run's corpus. The
  * columns are repeated up to a fixed row count, so the kernel and not a
  * job's fixed cost sets the time, and pinned in memory first, so the
  * time is the kernel's plus one aggregation, not a parquet scan. */
object Kernels {
  private val Reps = 3
  private val DocRows = 100000
  private val VecRows = 40000

  /** `df` repeated to at least `rows` rows, with fresh ids in `idCol`. */
  private def repeat(df: DataFrame, rows: Int, idCol: String): DataFrame = {
    val n = math.max(1L, df.count())
    val times = ((rows + n - 1) / n).toInt
    df.crossJoin(df.sparkSession.range(times).toDF("__rep"))
      .withColumn(idCol, col("__rep") * n + col(idCol)).drop("__rep")
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
  }

  def run(ctx: Ctx, res: Result, dir: String): Unit = {
    val spark = ctx.spark
    val docs = repeat(spark.read.parquet(s"$dir/documents.parquet"), DocRows, "doc_id")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
        split(col("text"), " ").as("tokens"))
      .withColumn("buckets", TextFunctions.bigramBuckets(col("tokens"), 1024))
      .persist(StorageLevel.MEMORY_ONLY)
    val emb = repeat(spark.read.parquet(s"$dir/embeddings.parquet"), VecRows, "vec_id")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val nDocs = docs.count()
      val nEmb = emb.count()
      val sample = emb.select("embedding").limit(16).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val query = typedLit(sample.head.map(_.toFloat))
      val bloom = docs.filter(col("doc_id") % 2 === 0).stat
        .bloomFilter("doc_id", nDocs / 2 + 1, 0.01)
      val weights = Array.tabulate(1024)(i => (i * 7919 % 13) / 13.0)
      val cases: Seq[(String, DataFrame, Long, Column)] = Seq(
        ("normalize_text", docs, nDocs, xxhash64(TextFunctions.normalizeText(col("text")))),
        ("minhash", docs, nDocs, xxhash64(TextFunctions.minhash(col("tokens"), 64))),
        ("simhash64", docs, nDocs, TextFunctions.simhash64(col("tokens"))),
        ("shingle_hashes", docs, nDocs, xxhash64(TextFunctions.shingleHashes(col("tokens"), 5))),
        ("token_counts", docs, nDocs, size(TextFunctions.tokenCounts(col("tokens"))).cast("long")),
        ("lang_id", docs, nDocs, xxhash64(TextFunctions.langId(col("text")))),
        ("cosine_sim", emb, nEmb, VectorFunctions.cosineSim(col("embedding"), query)),
        ("might_contain", docs, nDocs,
          BloomFunctions.mightContain(col("doc_id"), bloom).cast("long")),
        ("nearest_centroid", emb, nEmb,
          VectorFunctions.nearestCentroid(col("embedding"), sample).cast("long")),
        ("bucket_score_sum", docs, nDocs,
          ClassifierFunctions.bucketScoreSum(col("buckets"), weights)))
      cases.foreach { case (name, df, n, c) =>
        val secs = timed(df.select(c.cast("double").as("v")).agg(sum("v")).collect())
        res.put(s"functions.$name.rows_per_s", n / secs, "1/s")
      }
      val secs = timed(TopK.perKey(docs, Seq("source"),
        Seq(col("n_chars").desc, col("doc_id")), 10).collect())
      res.put("plans.topk_per_key.rows_per_s", nDocs / secs, "1/s")
    } finally {
      docs.unpersist(blocking = true)
      emb.unpersist(blocking = true)
    }
  }

  /** Median wall seconds of `Reps` runs after one untimed run. */
  private def timed(f: => Any): Double = {
    f
    Stats.median((1 to Reps).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    })
  }
}
