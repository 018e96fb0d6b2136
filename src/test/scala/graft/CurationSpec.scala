package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Denomination, TextAnalysis}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curation keeps a subset, dedups planted exact copies, drops low-quality docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the old riverbank today", "en", "s1", 70L),
      (2L, "the quick brown fox jumps over the lazy dog near the old riverbank today", "en", "s2", 70L), // exact dup of 1
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam", "en", "s1", 60L), // low uniq ratio
      (4L, "short text", "en", "s1", 10L), // too few tokens
      (5L, "ein ganz anderer text mit vielen verschiedenen deutschen wortarten und inhalten hier", "de", "s3", 80L),
      (6L, "some totally fine english document with enough distinct tokens to pass quality gates", "xx", "s1", 80L), // unknown lang
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = Curation.curateExact(docs).select($"doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 5L)),
      s"expected exact-dup survivor + german doc, got ${kept.toSeq}")
  }

  test("dsir: target-like docs outrank off-target, feature-free docs zero, partition-invariant") {
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta", "tgt"),
      (2L, "alpha beta gamma alpha beta", "tgt"),
      (10L, "alpha beta alpha beta", "raw"),      // target-like
      (11L, "gamma delta gamma delta", "raw"),    // off-target
      (12L, "", "raw"),                           // no tokens
      (13L, "solo", "raw"))                       // one token: no bigram
      .toDF("doc_id", "text", "source")
    def score(d: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Curation.dsirScored(d, col("source") === "tgt", 256)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val w = score(docs)
    assert(w(10) > w(11),
      s"target-like doc must outrank off-target: ${w(10)} vs ${w(11)}")
    assert(w(12) === 0.0 && w(13) === 0.0)
    // the decimal-quantized sum is partition-layout invariant
    assert(score(docs.repartition(5)) === w)
  }

  test("dsir admission stream: target-like admitted, off-target rejected, novel mass neutral") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val baseline = Seq(
      (1L, "alpha beta alpha beta alpha beta", "tgt"),
      (2L, "alpha beta alpha beta", "tgt"),
      (3L, "gamma delta gamma delta gamma delta", "raw"),
      (4L, "gamma delta gamma delta", "raw"))
      .toDF("doc_id", "text", "source")
    val probes = Seq(
      (10L, "alpha beta alpha beta", "s"),   // target-like: > 0
      (11L, "gamma delta gamma delta", "s"), // off-target: < 0
      (12L, "zeta omega zeta omega", "s"),   // all-novel: exactly 0
      (13L, "", "s"))                        // no features: exactly 0
    val input = MemoryStream[(Long, String, String)](42, spark, None)
    val q = Curation.dsirAdmitStream(
      input.toDS().toDF("doc_id", "text", "source"), baseline,
      targetSources = Seq("tgt"), nBuckets = 256)
      .writeStream.format("memory").queryName("dsir_adm")
      .outputMode("append").start()
    try {
      input.addData(probes: _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dsir_adm")
      .select($"doc_id", $"dsir_logw", $"admitted").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(10L)._1 > 0 && out(10L)._2, s"target-like rejected: $out")
    assert(out(11L)._1 < 0 && !out(11L)._2, s"off-target admitted: $out")
    assert(out(12L)._1 === 0.0, s"novel mass not neutral: $out")
    assert(out(13L)._1 === 0.0)
    // stateless: the same transform over a batch frame is identical
    val batchOut = Curation.dsirAdmitStream(
      probes.toDF("doc_id", "text", "source"), baseline,
      targetSources = Seq("tgt"), nBuckets = 256)
      .select($"doc_id", $"dsir_logw", $"admitted").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(batchOut === out)
  }

  test("dsir select: kept set is exactly the top fraction on the micro-key rank") {
    val n = Tables.documents(spark, sf).count()
    val kept = Curation.dsirSelect(spark, sf, num = 1, den = 5)
      .select($"doc_id").as[Long].collect().toSet
    // rnk * den <= n * num  ⇔  rnk <= floor(n * num / den)
    assert(kept.size === (n / 5).toInt, s"kept ${kept.size} of $n")
    // the kept set must be the head of the score ranking under the
    // operator's own micro-key (floor(logw·1e5) desc, id)
    val scored = Curation.dsirScored(Tables.documents(spark, sf),
        col("source").isin("src0", "src1"), 4096)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val expect = scored.sortBy { case (id, lw) =>
      (-math.floor(lw * 1e4).toLong, id) }.take(kept.size).map(_._1).toSet
    assert(kept === expect)
  }

  test("full pipeline drops planted near-duplicates at the production 0.8 threshold") {
    // long doc, one word changed: 66 tokens → 62 5-shingles, 5 affected
    // → Jaccard ≈ 57/67 ≈ 0.85 > 0.8, so stage 4 must drop doc 2
    val base = "the quick brown fox jumps over the lazy dog while the morning " +
      "sun rises slowly over the quiet green valley and birds sing in the tall " +
      "old trees near the winding river that flows gently toward the distant sea " +
      "as fishermen cast their long lines into the cold clear water waiting " +
      "patiently for the first catch of the early day"
    val docs = Seq(
      (1L, base, "en", "s1", 300L),
      (2L, base.replace("lazy dog", "lazy cat"), "en", "s2", 300L), // near dup of 1
      (3L, "completely unrelated document about cooking pasta with fresh tomatoes basil and olive oil for dinner tonight", "en", "s3", 100L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val finalKept = Curation.curateFull(docs)
      .select($"doc_id").as[Long].collect().sorted
    assert(finalKept.sameElements(Array(1L, 3L)), s"got ${finalKept.toSeq}")
    // durable variant (reliable checkpoints for the CC resolution) is
    // result-identical — the option changes fault tolerance, not labels
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curate-ckpt").toString
    val durable = Curation.curateFull(docs, checkpointDir = Some(ckpt))
      .select($"doc_id").as[Long].collect().sorted
    assert(durable.sameElements(finalKept))
  }

  test("stratified sample: per-stratum fractions honored, deterministic, partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val fractions = Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.0)
    val sampled = Curation.sampleStratified(docs, "lang", fractions)
    val counts = sampled.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("es", 0L) === 0L)
    assert(counts("de") === totals("de"))
    val enFrac = counts("en").toDouble / totals("en")
    assert(enFrac > 0.3 && enFrac < 0.7, s"en fraction $enFrac")
    assert(!counts.contains("fr") && !counts.contains("zh")) // default 0
    // deterministic and invariant under repartitioning
    val again = Curation.sampleStratified(docs.repartition(13), "lang", fractions)
      .select($"doc_id").as[Long].collect().sorted
    val first = sampled.select($"doc_id").as[Long].collect().sorted
    assert(again.sameElements(first))
  }

  test("driver pipeline runs on the real corpus and never grows the input") {
    val in = Tables.documents(spark, sf).count()
    val exact = Curation.pipelineCurate(spark, sf).count()
    val full = Curation.curate(spark, sf).count()
    assert(exact <= in && full <= exact)
    assert(full > 0)
  }

  test("streaming curation: gates + watermark dedup + scrub on a live stream") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.StreamDoc
    val good = "the quick brown fox jumps over one lazy dog while birds sing " +
      "in tall trees near rivers flowing gently toward distant blue seas today"
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val input = MemoryStream[StreamDoc](200, spark, None)
    val q = Curation.curateStream(input.toDF())
      .writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        StreamDoc(1L, at(1), good, "en", "s"),
        StreamDoc(2L, at(2), ("buy now " * 30).trim, "en", "s"), // loop spam
        StreamDoc(3L, at(3), good, "en", "s"), // dup of 1 within watermark
        StreamDoc(4L, at(4), good + " mail root@host.org today", "en", "s"),
      ))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("curated_stream").collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out.keySet === Set(1L, 4L),
      s"expected loop spam + in-watermark dup dropped, got ${out.keySet}")
    assert(out(4L).contains("[EMAIL]") && !out(4L).contains("host.org"))
  }

  test("streaming crawl front door: extraction, quarantine routing, gates, replay dedup") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.StreamDoc
    import graft.operators.TextAnalysis
    val good = "the quick brown fox jumps over one lazy dog while birds sing " +
      "in tall trees near rivers flowing gently toward distant blue seas today"
    def page(body: String) =
      TextAnalysis.HtmlWrapPrefix + body + TextAnalysis.HtmlWrapSuffix
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val input = MemoryStream[StreamDoc](202, spark, None)
    val q = Curation.crawlCurateStream(input.toDF())
      .writeStream.format("memory").queryName("crawl_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        StreamDoc(1L, at(1), page(good), "en", "s"), // clean, survives
        StreamDoc(2L, at(2), page(("buy now " * 30).trim), "en", "s"), // spam: clean page, gates drop it silently (by design)
        StreamDoc(3L, at(3), page(good + "<script>alert(1)"), "en", "s"), // unclosed block
        StreamDoc(4L, at(4), page(good + " weird &euro; glyph"), "en", "s"), // unknown entity
        StreamDoc(5L, at(5), page(good), "en", "s"), // dup of 1 within watermark
        StreamDoc(3L, at(6), page(good + "<script>alert(1)"), "en", "s"), // replayed quarantine row folds away
      ))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("crawl_stream").collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getString(4))).toMap
    assert(rows.keySet === Set(1L, 3L, 4L),
      s"expected clean survivor + 2 quarantines, got $rows")
    assert(rows(1L)._1 === "ok" && rows(1L)._2 == null)
    assert(rows(3L) === ("quarantine", "unclosed_block"))
    assert(rows(4L) === ("quarantine", "unknown_entity"))
    // quarantine flags agree with the batch E42c kernel on the same rows
    import spark.implicits._
    val batchFlags = TextAnalysis.htmlExtractRobustCols(
      Seq((2L, page(("buy now " * 30).trim)),
        (3L, page(good + "<script>alert(1)")),
        (4L, page(good + " weird &euro; glyph")))
        .toDF("doc_id", "text"), "text")
      .select($"doc_id", $"quarantine").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batchFlags === Map(2L -> false, 3L -> true, 4L -> true))
  }

  test("streaming near-dedup: paraphrased near-dup inside the watermark, one survivor") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.StreamDoc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same planted pair the batch SimHash spec pins at Hamming ≤ 3
      val base = "the quick brown fox jumps over the lazy dog while the " +
        "morning sun rises slowly over the quiet green valley and birds sing in " +
        "the tall old trees near the winding river that flows gently toward the sea"
      def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      val input = MemoryStream[StreamDoc](201, spark, None)
      val q = Curation.nearDedupStream(input.toDF())
        .writeStream.format("memory").queryName("near_dedup")
        .outputMode("append").start()
      try {
        input.addData(Seq(
          StreamDoc(1L, at(10, 1), base, "en", "s"),
          // paraphrase arriving 2 min later — inside the 10-min horizon,
          // so ingest state must catch it (the batch sweep never sees it)
          StreamDoc(2L, at(10, 3), base.replace("lazy dog", "lazy cat"), "en", "s"),
          StreamDoc(3L, at(10, 5),
            "completely unrelated text about cooking pasta with tomatoes and basil leaves",
            "en", "s"),
        ))
        q.processAllAvailable()
        // push the watermark past the 10:0x minute windows so the
        // append-mode consolidation emits them (these late docs' own
        // windows stay open — they never reach the sink)
        input.addData(Seq(StreamDoc(90L, at(11, 0),
          "quarterly financial report revenue increased by twelve percent year over year",
          "en", "s")))
        q.processAllAvailable()
        input.addData(Seq(StreamDoc(91L, at(11, 30),
          "a second watermark pusher document with plenty of distinct ordinary words inside",
          "en", "s")))
        q.processAllAvailable()
      } finally q.stop()
      // doc 91 pushed the watermark past doc 90's window too, so 90
      // emits as well; 91's own window stays open (never reaches the
      // sink). The paraphrase (doc 2) must be the ONLY drop.
      val out = spark.table("near_dedup").collect().map(_.getLong(0)).toSet
      assert(out === Set(1L, 3L, 90L),
        s"expected the paraphrase dropped and both originals kept, got $out")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming decontamination: stream-static gram probe drops the leaked doc") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.StreamDoc
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike" // 13 tokens, verbatim in the benchmark
    val bench = Seq((100L, s"$leak november oscar papa quebec"))
      .toDF("doc_id", "text")
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[StreamDoc](202, spark, None)
    val q = Curation.decontaminateStream(input.toDF(), bench)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        StreamDoc(1L, at(10, 1),
          s"some leading words then $leak and some trailing words here", "en", "s"),
        StreamDoc(2L, at(10, 2), "a completely different clean document " +
          "about gardening with roses tulips daisies and ferns", "en", "s"),
        // 12-token prefix of the benchmark: no 13-gram exists → survives
        StreamDoc(3L, at(10, 3),
          "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima",
          "en", "s"),
      ))
      q.processAllAvailable()
      // watermark pushers so the 10:0x windows emit
      input.addData(Seq(StreamDoc(90L, at(11, 0),
        "harmless watermark pusher text with many plain words", "en", "s")))
      q.processAllAvailable()
      input.addData(Seq(StreamDoc(91L, at(11, 30),
        "second watermark pusher with more ordinary words", "en", "s")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("decontam_stream").collect()
    assert(rows.map(_.getLong(0)).toSet === Set(2L, 3L, 90L),
      s"expected only the leaked doc dropped, got ${rows.map(_.getLong(0)).toSet}")
    // payload consolidation kept the single non-null text copy
    assert(rows.forall(r => r.getString(3) != null && r.getString(2) == "s"))
  }

  test("curate v2: repetition gate rejects loops, survivors leave scrubbed") {
    val good = "the quick brown fox jumps over one lazy dog while birds sing " +
      "in tall trees near rivers flowing gently toward distant blue seas today"
    val docs = Seq(
      (1L, good, "en", "s"),
      // looping spam: same bigram over and over → dup_bigram_ratio ≈ 1
      (2L, ("buy now " * 30).trim, "en", "s"),
      // survivor carrying PII → must come out redacted and counted
      (3L, good + " contact sales@example.com or 555-867-5309 now please", "en", "s"),
      (4L, good, "en", "s"), // exact dup of 1 → dropped by keep-min
    ).toDF("doc_id", "text", "lang", "source")
    val out = Curation.curateV2(docs).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val d3 = out.find(_.getLong(0) == 3L).get
    assert(d3.getLong(3) === 2L, s"expected 2 PII hits, got ${d3.getLong(3)}")
    assert(d3.getString(4).contains("[EMAIL]") && d3.getString(4).contains("[PHONE]"))
    assert(!d3.getString(4).contains("example.com"))
  }

  test("decontaminate: 13-gram overlap with the benchmark drops the doc; short docs exempt") {
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike" // exactly 13 tokens
    val docs = Seq(
      // contains the benchmark's 13-gram verbatim inside a longer doc
      (1L, s"some leading words then $leak and some trailing words here", "en", "s1"),
      // clean doc, no overlap
      (2L, "a completely different document about gardening with roses " +
        "tulips daisies and ferns growing quietly", "en", "s1"),
      // 12 tokens identical to a benchmark PREFIX — no 13-gram exists in
      // this doc, so it must SURVIVE (the short-doc exemption)
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima", "en", "s1"),
    ).toDF("doc_id", "text", "lang", "source")
    val bench = Seq((100L, s"$leak november oscar papa quebec", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = Curation.decontaminate(docs, bench)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 3L)), s"got ${kept.toSeq}")
  }

  test("fuzzy decontamination: contaminated fraction exact, dirty only above the cut") {
    val b = (1 to 30).map(i => s"b$i") // the benchmark's 30-token text
    val docs = Seq(
      // wholesale leak: the full benchmark text → frac 1.0, dirty
      (1L, b.mkString(" ")),
      // partial leak: a 20-token span of the benchmark inside unique
      // text → exactly those 20 tokens contaminated (8 matching
      // 13-gram windows merge into one range), 20/26 < 0.8 → clean
      (2L, ("u1 u2 u3 " + b.slice(4, 24).mkString(" ") + " u4 u5 u6")),
      // no overlap at all
      (3L, "entirely separate words about mountain weather and snowfall"),
    ).toDF("doc_id", "text")
    val bench = Seq((100L, b.mkString(" "))).toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(docs, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, 30L, 30L, 1.0, true),
      (2L, 26L, 20L, 20.0 / 26.0, false),
      (3L, 8L, 0L, 0.0, false)))
  }

  test("shuffle_sequences: seeded permutation, engine-free determinism, whole-sequence shards") {
    val docs = Tables.documents(spark, sf)
    val a = Curation.shuffleSequences(docs, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val b = Curation.shuffleSequences(docs, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(a.toSeq === b.toSeq, "same seed must reproduce the same order")
    // a PERMUTATION of the packed sequences — nothing lost, nothing added
    val packedSeqs = Curation.packSequences(docs)
      .select(col("seq_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(a.map(_._1).toSet === packedSeqs)
    // a different seed produces a different order over the same set
    val c = Curation.shuffleSequences(docs, seed = 43L).collect().map(_.getLong(0))
    assert(c.toSet === packedSeqs && !c.sameElements(a.map(_._1)),
      "different seed should permute differently")
    // shard label: 16 fixed key ranges, MONOTONE in the emitted order
    // (sign bit flipped before the range bits)
    a.foreach { case (_, _, key, shard) =>
      assert(shard === ((key ^ Long.MinValue) >>> 60).toInt &&
        shard >= 0 && shard < 16)
    }
    assert(a.map(_._4).toSeq === a.map(_._4).toSeq.sorted,
      "shard labels must be non-decreasing along the shuffled order")
    // the shuffled-shard writer: every sequence WHOLE in one shard,
    // rows inside each shard in (key, seq_offset) order, and reading
    // shard=0..N-1 in label order reproduces the global order
    val dir = java.nio.file.Files.createTempDirectory("graft-shuffle").toString + "/out"
    Curation.writeShuffledShards(docs, dir, shards = 4)
    val rows = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("shard"), col("seq_id"),
        col("shuffle_key"), col("seq_offset"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val filesPerSeq = rows.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size)
    assert(filesPerSeq.values.forall(_ === 1),
      s"sequence split across shards: ${filesPerSeq.filter(_._2 > 1)}")
    assert(rows.map(_._6).toSet ===
      Curation.packSequences(docs).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet, "writer lost or invented docs")
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._1).distinct.size === 1, s"shard $shard spans files")
      // directory label == the fixed key-range formula, recomputed here
      rs.foreach(r => assert(
        ((((r._4 ^ Long.MinValue) >>> 32) * 4) >>> 32).toInt === shard))
      // PHYSICAL in-file order is (key, seq_offset) — collect order
      // within one file is file order, and a planner-inserted sort on
      // the partition column alone would silently destroy this (the
      // reason the writer's sort leads with `shard`)
      assert(rs.map(r => (r._4, r._5)).toSeq ===
        rs.map(r => (r._4, r._5)).sortBy(identity).toSeq,
        s"shard $shard rows not in (key, seq_offset) file order")
    }
    // label order ++ in-shard (key, offset) order == global signed order
    val byLabel = rows.sortBy(r => (r._2, r._4, r._5)).map(_._4)
    assert(byLabel.toSeq === rows.map(_._4).sorted.toSeq,
      "concatenating shards in label order must give global key order")
  }

  test("mix_epochs: whole repeats exact, fractional lottery deterministic and unbiased-ish") {
    val docs = (0L until 300L).map { i =>
      val src = if (i < 100) "a" else if (i < 200) "b" else "c"
      (i, src, s"some text for document number $i")
    }.toDF("doc_id", "source", "text")
    val out = Curation.mixEpochs(docs, "source",
      Map("a" -> 2.0, "b" -> 0.5), defaultWeight = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // whole weights are exact: every a-doc exactly twice, every c-doc once
    (0L until 100L).foreach(i => assert(byDoc(i) === Seq(0L, 1L), s"a-doc $i: ${byDoc.get(i)}"))
    (200L until 300L).foreach(i => assert(byDoc(i) === Seq(0L), s"c-doc $i: ${byDoc.get(i)}"))
    // the 0.5-epoch source keeps a deterministic hash-subset: each b-doc
    // appears 0 or 1 times, the kept fraction is hash-uniform (loose
    // bounds — the subset is FIXED by the seed, not a random draw)
    val bKept = (100L until 200L).count(byDoc.contains)
    assert(bKept > 25 && bKept < 75, s"0.5-epoch lottery kept $bKept of 100")
    (100L until 200L).foreach(i =>
      byDoc.get(i).foreach(e => assert(e === Seq(0L))))
    // reproducible: the lottery is arithmetic, not rand()
    val again = Curation.mixEpochs(docs, "source",
      Map("a" -> 2.0, "b" -> 0.5), defaultWeight = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("pipeline_train_epochs: unique replicas, gapless packing in shuffled order") {
    val out = Curation.pipelineTrainEpochs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    // every (doc, epoch) replica appears exactly once
    assert(out.map(t => (t._1, t._2)).distinct.length === out.length)
    // emitted in shuffle-key order, keys unique (bijective rep_id→LCG)
    val keys = out.map(_._5)
    assert(keys.toSeq === keys.sorted.toSeq && keys.distinct.length === keys.length)
    // the packed token stream is gapless: walking in key order, each
    // replica's (seq_id, seq_offset) is exactly the running total
    var cum = 0L
    out.foreach { t =>
      assert(t._6 === cum / 2048 && t._7 === cum % 2048,
        s"gap at doc ${t._1} epoch ${t._2}")
      cum += t._4
    }
    // epoch discipline per source: src1 = 2 whole + lottery third,
    // src2 = lottery-only (absent docs dropped), others exactly once;
    // epoch indexes are a gapless 0..n-1 per doc
    out.groupBy(_._1).foreach { case (doc, rows) =>
      val n = rows.length
      rows.head._3 match {
        case "src1" => assert(n == 2 || n == 3, s"doc $doc reps $n")
        case "src2" => assert(n == 1, s"doc $doc reps $n")
        case _ => assert(n == 1, s"doc $doc reps $n")
      }
      assert(rows.map(_._2).sorted.toSeq === (0L until n).toSeq)
    }
  }

  test("streaming domain cap: admission carries across batches, per-domain isolation") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.StreamDoc
    def d(id: Long, src: String) = StreamDoc(id,
      Timestamp.valueOf("2024-01-01 10:00:00"), s"doc $id", "en", src)
    val input = MemoryStream[StreamDoc](210, spark, None)
    val q = Curation.domainCapStream(input.toDF(), "source", k = 3)
      .writeStream.format("memory").queryName("cap_out")
      .outputMode("append").start()
    try {
      input.addData(d(1, "a"), d(2, "a"), d(10, "b"))
      q.processAllAvailable()
      // batch 2: domain a has 1 slot left — only the LOWEST id of the
      // two new a-docs is admitted; b is unaffected
      input.addData(d(4, "a"), d(3, "a"), d(11, "b"))
      q.processAllAvailable()
      val got = spark.table("cap_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b")),
        s"got $got")
      // a is saturated: nothing more admitted, other domains still open
      input.addData(d(5, "a"), d(12, "b"))
      q.processAllAvailable()
      val after = spark.table("cap_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(after === got + ((12L, "b")), s"after $after")
    } finally q.stop()
  }

  test("domain_cap: at most k per domain, deterministic hash subsample, not file order") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.domainCap(docs, "source", 3)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perDomain = out.groupBy(_._2).view.mapValues(_.length)
    assert(perDomain.values.forall(_ <= 3), s"cap exceeded: $perDomain")
    // every domain with ≥3 docs keeps exactly 3
    val domainSizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    domainSizes.foreach { case (d, n) =>
      assert(perDomain.getOrElse(d, 0) === math.min(n, 3L).toInt, s"domain $d")
    }
    // kept set is the LCG-order head, not the doc_id-order head
    val idOrderHead = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.take(3).toSet)
    assert(out.groupBy(_._2).exists { case (d, xs) =>
      xs.map(_._1).toSet != idOrderHead(d)
    }, "cap degenerated to first-k-by-id for every domain")
    // deterministic across runs
    val again = Curation.domainCap(docs, "source", 3)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
  }

  test("mix_sample: budgets respected per stratum, deterministic, whole docs only") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.mixSample(docs, "source",
      Map("src0" -> 1000000L, "src1" -> 500L), defaultBudget = 800L)
      .select($"doc_id", $"source", $"n_tokens")
      .as[(Long, String, Long)].collect()
    val bySource = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // budget is a hard ceiling per stratum…
    assert(bySource("src1") <= 500L, s"src1 over budget: ${bySource("src1")}")
    bySource.foreach { case (s, t) =>
      if (s != "src0" && s != "src1") assert(t <= 800L, s"$s over budget: $t")
    }
    // …uncapped strata pass through whole
    val allSrc0 = docs.filter($"source" === "src0").count()
    assert(out.count(_._2 == "src0").toLong === allSrc0)
    // the kept set is EXACTLY the maximal prefix in doc_id order whose
    // running total fits the budget — not just any under-budget subset
    val allSrc1 = docs.filter($"source" === "src1")
      .select($"doc_id", size(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var run = 0L
    val expectedSrc1 = allSrc1.takeWhile { case (_, n) =>
      run += n; run <= 500L
    }.map(_._1)
    val keptSrc1 = out.filter(_._2 == "src1").map(_._1).sorted
    assert(keptSrc1.nonEmpty, "budget 500 should admit at least one doc")
    assert(keptSrc1.toSeq === expectedSrc1.toSeq,
      s"kept set is not the maximal fitting prefix: $keptSrc1 vs $expectedSrc1")
    // deterministic under repartitioning
    val again = Curation.mixSample(docs.repartition(11), "source",
      Map("src0" -> 1000000L, "src1" -> 500L), defaultBudget = 800L)
      .select($"doc_id").as[Long].collect().sorted
    assert(again.toSeq === out.map(_._1).sorted.toSeq)
  }

  test("pipeline_train_mix: composed stages agree with running them separately") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.pipelineTrainMix(spark, sf).collect()
    assert(out.nonEmpty)
    // stage agreement: the composed survivors = decontaminate ∘ curate,
    // budget-capped per source
    val bench = docs.filter($"doc_id" % 10 === 0)
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val curated = train.join(Curation.curateExact(train).select($"doc_id"),
      Seq("doc_id"), "left_semi")
    val expected = Curation.mixSample(Curation.decontaminate(curated, bench),
      "source", Map("src1" -> 500L), 800L)
      .select($"doc_id").as[Long].collect().sorted
    assert(out.map(_.getLong(0)).sorted.toSeq === expected.toSeq)
    // packing stays contiguous over the final survivors
    var cum = 0L
    out.sortBy(_.getLong(0)).foreach { r =>
      assert(r.getLong(3) * 2048 + r.getLong(4) === cum)
      cum += r.getLong(2)
    }
  }

  test("stratified prefix sum matches the naive per-stratum window at any bucket count") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n_tokens", size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).cast("long"))
    val naive = docs.withColumn("ca",
        sum($"n_tokens").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"doc_id")))
      .select($"doc_id", $"ca").as[(Long, Long)].collect().toMap
    for (buckets <- Seq(1, 3, 64)) {
      val fast = graft.operators.Scale
        .stratifiedPrefixSum(docs, "source", "doc_id", "n_tokens", "ca", buckets)
        .select($"doc_id", $"ca").as[(Long, Long)].collect().toMap
      assert(fast === naive, s"mismatch at buckets=$buckets")
    }
    // full-range hash order key (the documented unbiased-draw case):
    // hi - lo spans ~2^64, so the span/bucket arithmetic must not
    // overflow — buckets derive from `key div span`, never `key - lo`
    val hashed = docs.withColumn("hk", xxhash64($"doc_id"))
    val naiveH = hashed.withColumn("ca",
        sum($"n_tokens").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"hk")))
      .select($"doc_id", $"ca").as[(Long, Long)].collect().toMap
    val fastH = graft.operators.Scale
      .stratifiedPrefixSum(hashed, "source", "hk", "n_tokens", "ca", 64)
      .select($"doc_id", $"ca").as[(Long, Long)].collect().toMap
    assert(fastH === naiveH, "hash-order prefix sum diverged from naive window")
  }

  test("packed shards: every sequence whole in one file, training order within") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val docs = Tables.documents(spark, sf)
    Curation.writePackedShards(docs, s"$dir/out", seqLen = 256, shards = 5)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq
    assert(files.size > 1, s"expected multiple shards, got ${files.size}")
    // each seq_id must live in exactly ONE shard file (a sequence that
    // straddles a doc boundary must not straddle a shard boundary)
    val perFile = files.map { f =>
      spark.read.parquet(f).select($"seq_id", $"doc_id", $"seq_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val seqSets = perFile.map(_.map(_._1).toSet)
    seqSets.combinations(2).foreach { case Seq(a, b) =>
      assert((a intersect b).isEmpty, "a sequence straddles two shard files")
    }
    // within a shard, rows are in training order (seq_id, then offset)
    perFile.foreach { rows =>
      val key = rows.map(r => (r._1, r._3))
      assert(key === key.sorted, "shard rows not in training order")
    }
    // nothing lost or duplicated vs the packing itself
    val all = perFile.flatten.map(_._2).sorted
    val expected = Curation.packSequences(docs, seqLen = 256)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all === expected)
  }

  test("stratified prefix sum refuses null order keys AND null strata") {
    val df = Seq((Option("a"), Option(1L), 10L), (Option("a"), Option(2L), 20L),
      (Option.empty[String], Option(3L), 30L)).toDF("s", "k", "v")
    // a null stratum would silently vanish from the output (the bucket-
    // base join never matches null) — it must refuse loudly instead
    val e = intercept[IllegalArgumentException] {
      graft.operators.Scale.stratifiedPrefixSum(df, "s", "k", "v", "c").collect()
    }
    assert(e.getMessage.contains("null strata"), e.getMessage)
    val df2 = Seq((Option("a"), Option(1L), 10L),
      (Option("a"), Option.empty[Long], 20L)).toDF("s", "k", "v")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Scale.stratifiedPrefixSum(df2, "s", "k", "v", "c").collect()
    }
    assert(e2.getMessage.contains("null keys"), e2.getMessage)
  }

  test("pack_sequences: bucketed prefix sum == naive global window, invariants hold") {
    val docs = Tables.documents(spark, sf)
    // tiny buckets force many driver-side bases; result must not depend
    // on bucket count or input partitioning
    val packed = Curation.packSequences(docs, seqLen = 64, buckets = 7).collect()
    val repacked = Curation
      .packSequences(docs.repartition(13), seqLen = 64, buckets = 3).collect()
    assert(packed.toSeq === repacked.toSeq,
      "packing depends on partitioning or bucket count")
    // invariants: offsets in range; global positions strictly contiguous
    // (each doc starts exactly where the previous one ended)
    var cum = 0L
    packed.foreach { r =>
      val (n, seq, off) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(off >= 0 && off < 64)
      assert(seq * 64 + off === cum,
        s"doc ${r.getLong(0)} starts at ${seq * 64 + off}, expected $cum")
      cum += n
    }
  }

  test("pack_bpe: piece-budgeted packing follows the vocab's piece counts and diverges from whitespace packing") {
    // hand vocab: "aa" stays whole (1 piece), "bb" splits (2 pieces);
    // "cc" is OOV → char fallback (2 pieces)
    val vocab = Seq(("aa", Seq("aa")), ("bb", Seq("b", "b")))
      .toDF("term", "syms")
    val docs = Seq((0L, "aa bb"), (1L, "cc"), (2L, "aa aa aa"))
      .toDF("doc_id", "text")
    // piece counts: d0 = 1+2 = 3, d1 = 2, d2 = 3; cum-before 0, 3, 5
    val bpe = Curation.packSequences(docs, seqLen = 4, buckets = 3,
      denomination = Denomination.BpePieces(vocab)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bpe.toSeq === Seq((0L, 3L, 0L, 0L), (1L, 2L, 0L, 3L),
      (2L, 3L, 1L, 1L)), s"piece packing wrong: ${bpe.toSeq}")
    // whitespace counts (2, 1, 3; cum-before 0, 2, 3) place d1/d2
    // differently — the budget divergence the piece packer exists for
    val ws = Curation.packSequences(docs, seqLen = 4, buckets = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ws.toSeq === Seq((0L, 2L, 0L, 0L), (1L, 1L, 0L, 2L),
      (2L, 3L, 0L, 3L)), s"whitespace packing drifted: ${ws.toSeq}")
    assert(bpe.map(t => (t._1, t._3, t._4)).toSet !=
      ws.map(t => (t._1, t._3, t._4)).toSet,
      "planted corpus failed to separate the two budgets")
    // the sf driver query: same invariants as C13 — contiguous global
    // positions in the PIECE stream
    val out = Curation.packSequences(Tables.documents(spark, sf),
      seqLen = 64, buckets = 7,
      denomination = Denomination.bpe(spark, sf)).collect()
    assert(out.nonEmpty)
    var cum = 0L
    out.foreach { r =>
      val (n, seq, off) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(off >= 0 && off < 64)
      assert(seq * 64 + off === cum,
        s"doc ${r.getLong(0)} starts at ${seq * 64 + off}, expected $cum")
      cum += n
    }
    // and it packs MORE tokens than the whitespace packer counted —
    // subword pieces per word are ≥ 1 everywhere, > 1 somewhere
    val wsTotal = Curation.packSequences(Tables.documents(spark, sf))
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens"))).head.getLong(0)
    assert(cum > wsTotal, s"piece stream $cum not above word stream $wsTotal")
  }

  test("quality_classifier: learns the labeled split, floors novel vocab at the prior, drives the gopher seed") {
    // two clearly-separated vocabularies with EQUAL labeled mass, so
    // the unseen-feature floor w0 = ln((nt+B)/(pt+B)) is exactly 0
    val docs = Seq(
      (1L, "s", "alpha beta alpha beta alpha beta"),
      (2L, "s", "alpha beta alpha beta alpha beta"),
      (3L, "s", "xxq yyq xxq yyq xxq yyq"),
      (4L, "s", "xxq yyq xxq yyq xxq yyq"),
      (10L, "s", "alpha beta alpha beta"),   // unlabeled, positive-ish
      (11L, "s", "xxq yyq xxq yyq"),         // unlabeled, negative-ish
      (12L, "s", "novel words entirely here"), // unlabeled, all unseen
    ).toDF("doc_id", "source", "text")
    val labels = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "is_pos")
    val out = Curation.qualityClassifierOf(docs, labels)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out(10L)._1 > 0 && out(10L)._2,
      s"positive-vocab doc scored ${out(10L)}")
    assert(out(11L)._1 < 0 && !out(11L)._2,
      s"negative-vocab doc scored ${out(11L)}")
    assert(out(12L)._1 === 0.0 && !out(12L)._2,
      s"novel-vocab doc off the prior floor: ${out(12L)}")
    assert(out(1L)._2 && !out(3L)._2, "training docs misclassified")
    // the driver row: trained on the gopher verdict, the statistical
    // gate must agree with its own seed on a clear majority (it
    // GENERALIZES the rules, not memorizes them — perfect agreement
    // is not required, direction is)
    val drv = Curation.qualityClassifier(spark, sf)
      .select($"doc_id", $"keep")
    val seed = Curation.gopherRules(Tables.documents(spark, sf))
      .select($"doc_id", $"passed")
    val joined = drv.join(seed, "doc_id")
      .select($"keep" === $"passed").collect().map(_.getBoolean(0))
    assert(joined.nonEmpty)
    val agree = joined.count(identity).toDouble / joined.length
    assert(agree > 0.6, s"classifier agrees with its seed only $agree")
  }

  test("classifier serve: dense gather matches the batch scorer, gates a live stream statelessly") {
    val docs = Seq(
      (1L, "s", "alpha beta alpha beta alpha beta"),
      (2L, "s", "alpha beta alpha beta alpha beta"),
      (3L, "s", "xxq yyq xxq yyq xxq yyq"),
      (4L, "s", "xxq yyq xxq yyq xxq yyq"),
      (10L, "s", "alpha beta alpha beta"),
      (11L, "s", "xxq yyq xxq yyq"),
      (12L, "s", "novel words entirely here"),
    ).toDF("doc_id", "source", "text")
    val labels = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "is_pos")
    val model = Curation.qualityClassifierModel(docs, labels)
    val served = Curation.classifierServe(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val batch = Curation.qualityClassifierOf(docs, labels).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    batch.foreach { case (id, (z, keep)) =>
      assert(math.abs(served(id)._1 - z) <= 1e-6,
        s"doc $id served ${served(id)._1} vs batch $z")
      assert(served(id)._2 === keep, s"doc $id keep flag diverged")
    }
    // the SAME projection gates a live stream — stateless map, no
    // join/shuffle/state, so append mode needs no watermark
    val input = new org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](104, spark, None)
    val q = Curation.classifierServe(
        input.toDS().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("cls_out")
      .outputMode("append").start()
    try {
      input.addData((10L, "alpha beta alpha beta"),
        (11L, "xxq yyq xxq yyq"))
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("cls_out").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(live === Map(10L -> served(10L), 11L -> served(11L)),
      s"live gate diverged: $live")
  }

  test("classifier_report: a separable corpus yields the perfect operating point, curve is monotone") {
    // pos vocab and neg vocab fully disjoint; heldout docs reuse the
    // TRAIN vocab, so the heldout curve at threshold 0 is exact
    val pos = (1L to 4L).map(i => (i, "s", "alpha beta alpha beta alpha beta"))
    val neg = (11L to 14L).map(i => (i, "s", "xxq yyq xxq yyq xxq yyq"))
    val docs = (pos ++ neg).toDF("doc_id", "source", "text")
    val truth = ((1L to 4L).map((_, true)) ++ (11L to 14L).map((_, false)))
      .toDF("doc_id", "is_pos")
    // half of each class heldout
    val split = Seq(1L -> "train", 2L -> "train", 3L -> "val", 4L -> "val",
      11L -> "train", 12L -> "train", 13L -> "val", 14L -> "val")
      .toDF("doc_id", "split")
    val rep = Curation.classifierReportOf(docs, truth, split,
        thresholds = Seq(0.0, 100.0))
      .collect().map(r => r.getDouble(0) -> r).toMap
    val at0 = rep(0.0)
    // (threshold, n_heldout, tp, fp, fn, tn, precision, recall, f1)
    assert(at0.getLong(1) === 4L && at0.getLong(2) === 2L &&
      at0.getLong(3) === 0L && at0.getLong(4) === 0L &&
      at0.getLong(5) === 2L, s"confusion at 0: $at0")
    assert(at0.getDouble(6) === 1.0 && at0.getDouble(7) === 1.0 &&
      at0.getDouble(8) === 1.0, s"perfect point not perfect: $at0")
    // an unreachable threshold keeps nothing: recall 0, precision NULL
    val hi = rep(100.0)
    assert(hi.getLong(2) === 0L && hi.getDouble(7) === 0.0 &&
      hi.isNullAt(6), s"empty-keep row wrong: $hi")
    // driver entry: one row per grid point, class mass constant across
    // thresholds, recall monotone non-increasing (the curve property)
    val drv = Curation.classifierReport(spark, sf).collect()
    assert(drv.length === Curation.ReportThresholds.length)
    val posMass = drv.map(r => r.getLong(2) + r.getLong(4)).distinct
    assert(posMass.length === 1, s"tp+fn drifts across thresholds: $posMass")
    val recalls = drv.sortBy(_.getDouble(0)).map(_.getDouble(7))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"recall not monotone: ${recalls.toSeq}")
  }

  test("classifier_calibration: separable corpus lands classes in opposite bins, degenerate range collapses to bin 0") {
    val pos = (1L to 4L).map(i => (i, "s", "alpha beta alpha beta alpha beta"))
    val neg = (11L to 14L).map(i => (i, "s", "xxq yyq xxq yyq xxq yyq"))
    val docs = (pos ++ neg).toDF("doc_id", "source", "text")
    val truth = ((1L to 4L).map((_, true)) ++ (11L to 14L).map((_, false)))
      .toDF("doc_id", "is_pos")
    val split = Seq(1L -> "train", 2L -> "train", 3L -> "val", 4L -> "val",
      11L -> "train", 12L -> "train", 13L -> "val", 14L -> "val")
      .toDF("doc_id", "split")
    val rep = Curation.classifierCalibrationOf(docs, truth, split,
        nBins = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    // held = {3,4 pos at the max score, 13,14 neg at the min}: the
    // negatives fill bin 0 at rate 0, the positives bin 1 at rate 1
    assert(rep.keySet === Set(0, 1), s"bins: $rep")
    assert(rep(0)._1 === 2L && rep(0)._3 === 0.0, s"neg bin: $rep")
    assert(rep(1)._1 === 2L && rep(1)._3 === 1.0, s"pos bin: $rep")
    assert(rep(1)._2 > rep(0)._2, s"mean scores not ordered: $rep")
    // a degenerate score range (every held doc identical) is ONE bin
    val flat = Seq((1L, "s", "alpha beta"), (2L, "s", "alpha beta"),
      (3L, "s", "alpha beta"), (4L, "s", "alpha beta"))
      .toDF("doc_id", "source", "text")
    val flatTruth = (1L to 4L).map((_, true)).toDF("doc_id", "is_pos")
    val flatSplit = Seq(1L -> "train", 2L -> "train", 3L -> "val",
      4L -> "val").toDF("doc_id", "split")
    val one = Curation.classifierCalibrationOf(flat, flatTruth,
      flatSplit, nBins = 4).collect()
    assert(one.length === 1 && one.head.getInt(0) === 0 &&
      one.head.getLong(1) === 2L && one.head.getDouble(3) === 1.0,
      s"degenerate range: ${one.toSeq}")
    // bad bins fail by name
    val ex = intercept[IllegalArgumentException] {
      Curation.classifierCalibrationOf(docs, truth, split, nBins = 1)
    }
    assert(ex.getMessage.contains("nBins"), ex.getMessage)
    // driver entry: bins in range, counts positive, rates in [0,1],
    // replay identical (the audit-cache rule)
    val drv = Curation.classifierCalibration(spark, sf).collect()
    assert(drv.nonEmpty && drv.length <= 10)
    drv.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 9 && r.getLong(1) > 0L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val again = Curation.classifierCalibration(spark, sf).collect()
    assert(drv.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("cluster_budget: per-region token budgets bind in stable doc order") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val centroids = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    // cluster 0: docs 1/2/3 at 6/5/4 tokens; cluster 1: docs 11/12 at
    // 8/8 — a budget of 10 admits {1, 2(cum 11 > 10? no...)}
    val docs = Seq(
      (1L, "a", words(6)), (2L, "a", words(5)), (3L, "a", words(4)),
      (11L, "b", words(8)), (12L, "b", words(8)))
      .toDF("doc_id", "source", "text")
    val embeds = Seq(
      (1L, Array(0.1f, 0f)), (2L, Array(0.2f, 0f)), (3L, Array(0.3f, 0f)),
      (11L, Array(10f, 10f)), (12L, Array(10f, 10.2f)))
      .toDF("doc_id", "embedding")
    def kept(budget: Long) =
      Curation.clusterBudgetOf(docs, embeds, centroids, budget)
        .collect().map(_.getLong(0)).toSet
    // budget 11: cluster 0 admits 1 (6) and 2 (cum 11), not 3 (15);
    // cluster 1 admits 11 (8), not 12 (16)
    assert(kept(11L) === Set(1L, 2L, 11L), s"budget 11: ${kept(11L)}")
    // budget 8: doc 1 alone busts nothing (6 <= 8); 2 pushes past
    assert(kept(8L) === Set(1L, 11L), s"budget 8: ${kept(8L)}")
    // a budget beyond both regions admits everything
    assert(kept(100L) === Set(1L, 2L, 3L, 11L, 12L))
    // the driver entry: per-cluster token mass never exceeds budget
    val drv = Curation.clusterBudget(spark, sf, budgetTokens = 300)
    val masses = drv.groupBy($"cluster_id")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().map(_.getLong(1))
    assert(masses.nonEmpty && masses.forall(_ <= 300L),
      s"cluster budget violated: ${masses.toSeq}")
  }

  test("classifier recalibration: PAVA pools violators, served p_keep is monotone and separates classes") {
    // the fit itself: a non-monotone middle pools n-weighted
    val steps = Curation.pavaFit(Seq(
      (-1.0, 0.0, 10L), (0.0, 0.6, 10L), (1.0, 0.4, 10L), (2.0, 1.0, 10L)))
    assert(steps === Seq((-1.0, 0.0), (0.0, 0.5), (2.0, 1.0)),
      s"PAVA steps: $steps")
    // weighted pooling: the heavy bin dominates the pooled level
    val weighted = Curation.pavaFit(Seq((0.0, 0.9, 30L), (1.0, 0.1, 10L)))
    assert(weighted.length === 1 &&
      math.abs(weighted.head._2 - 0.7) < 1e-12, s"weighted: $weighted")
    // an empty calibration fails by name
    val ex = intercept[IllegalArgumentException] { Curation.pavaFit(Nil) }
    assert(ex.getMessage.contains("calibration"), ex.getMessage)
    // end to end on the separable corpus: calibrated serving maps the
    // positive class to a strictly higher p_keep than the negative
    val pos = (1L to 4L).map(i => (i, "s", "alpha beta alpha beta alpha beta"))
    val neg = (11L to 14L).map(i => (i, "s", "xxq yyq xxq yyq xxq yyq"))
    val docs = (pos ++ neg).toDF("doc_id", "source", "text")
    val truth = ((1L to 4L).map((_, true)) ++ (11L to 14L).map((_, false)))
      .toDF("doc_id", "is_pos")
    val split = Seq(1L -> "train", 2L -> "train", 3L -> "val", 4L -> "val",
      11L -> "train", 12L -> "train", 13L -> "val", 14L -> "val")
      .toDF("doc_id", "split")
    val model = Curation.qualityClassifierModel(docs,
      truth.join(split.filter($"split" === "train").select("doc_id"),
        Seq("doc_id")))
    val calib = Curation.classifierCalibrationOf(docs, truth, split,
      nBins = 2)
    val served = Curation.classifierServeCalibrated(docs, model, calib)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(3)))
      .toMap
    served.values.foreach { case (_, p) => assert(p >= 0.0 && p <= 1.0) }
    // monotone: sort by score, p_keep never decreases
    val byScore = served.values.toSeq.sortBy(_._1)
    byScore.zip(byScore.tail).foreach { case ((_, p1), (_, p2)) =>
      assert(p2 >= p1, s"p_keep not monotone in score: $byScore") }
    assert(served(1L)._2 > served(11L)._2,
      s"classes not separated: ${served.toSeq.sortBy(_._1)}")
    // the driver entry runs the staged bundle through the cached curve
    val drv = Curation.classifierServeCalibratedQuery(spark, sf).collect()
    assert(drv.nonEmpty && drv.forall { r =>
      val p = r.getDouble(3); p >= 0.0 && p <= 1.0 })
  }

  test("classifier_report: heldout doc with train-UNSEEN vocabulary scores at the w0 floor") {
    // The r12 ADVICE divergence: C61 trains on the train split only,
    // so a heldout doc can carry buckets absent from the weight table.
    // The scorer (Scala AND oracle) must floor those at
    // w0 = ln((nt+B)/(pt+B)) — doc 21 below is built ENTIRELY from
    // train-unseen vocabulary, so its score is exactly n_bigrams · w0.
    val docs = Seq(
      (1L, "s", "alpha beta alpha beta"),   // train pos: 3 bigrams
      (11L, "s", "xxq yyq xxq yyq xxq"),    // train neg: 4 bigrams
      (21L, "s", "zork quux zork quux"))    // heldout: 3 unseen bigrams
      .toDF("doc_id", "source", "text")
    val truth = Seq((1L, true), (11L, false), (21L, true))
      .toDF("doc_id", "is_pos")
    val split = Seq(1L -> "train", 11L -> "train", 21L -> "val")
      .toDF("doc_id", "split")
    val b = 4096
    val w0 = math.log((4.0 + b) / (3.0 + b)) // pt=3, nt=4
    val scored = Curation.qualityClassifierOf(docs,
        truth.join(split.filter($"split" === "train").select("doc_id"),
          Seq("doc_id")), b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(scored(21L) - 3.0 * w0) < 1e-6,
      s"unseen-vocab doc must score 3·w0=${3 * w0}, got ${scored(21L)}")
    // the report sees the floored score: kept at 0.0 (w0 > 0 since
    // nt > pt), dropped once the threshold clears 3·w0
    val rep = Curation.classifierReportOf(docs, truth, split,
        nBuckets = b, thresholds = Seq(0.0, 0.001))
      .collect().map(r => r.getDouble(0) -> r).toMap
    assert(rep(0.0).getLong(2) === 1L && rep(0.0).getLong(4) === 0L,
      s"floored doc must be kept at 0: ${rep(0.0)}")
    assert(rep(0.001).getLong(2) === 0L && rep(0.001).getLong(4) === 1L,
      s"floored doc must drop past 3·w0: ${rep(0.001)}")
  }

  test("classifier_threshold: derives the operating point from a planted curve, serving consumes it") {
    // planted curve: (threshold, tp, fp, fn, tn) rows with known metrics
    def row(t: Double, tp: Long, fp: Long, fn: Long, tn: Long) =
      (t, tp + fp + fn + tn, tp, fp, fn, tn,
        if (tp + fp == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(tp.toDouble / (tp + fp)),
        java.lang.Double.valueOf(tp.toDouble / (tp + fn)),
        java.lang.Double.valueOf(2.0 * tp / (2 * tp + fp + fn)))
    val rep = Seq(
      row(-1.0, 10L, 10L, 0L, 0L),  // f1 = 2/3, precision 0.5
      row(0.0, 9L, 2L, 1L, 8L),     // f1 = 0.857..., precision 9/11
      row(1.0, 5L, 0L, 5L, 10L),    // f1 = 2/3, precision 1.0
      row(2.0, 0L, 0L, 10L, 10L))   // nothing kept: precision NULL
      .toDF("threshold", "n_heldout", "tp", "fp", "fn", "tn",
        "precision", "recall", "f1")
    // max-F1 mode picks 0.0
    val best = Curation.classifierThresholdOf(rep).collect()
    assert(best.length === 1 && best.head.getDouble(0) === 0.0, best.toSeq)
    assert(Curation.chosenThreshold(rep) === 0.0)
    // tie in F1 (2/3 at -1.0 and 1.0 after removing the 0.0 row) —
    // smaller threshold wins
    assert(Curation.chosenThreshold(rep.filter($"threshold" =!= 0.0))
      === -1.0)
    // precision-target: smallest threshold clearing the bar
    assert(Curation.chosenThreshold(rep, Some(0.9)) === 1.0)
    assert(Curation.chosenThreshold(rep, Some(0.7)) === 0.0)
    // nothing qualifies → fails by name, not a silent default
    val ex = intercept[IllegalArgumentException] {
      Curation.chosenThreshold(rep.limit(0))
    }
    assert(ex.getMessage.contains("no operating point qualifies"))
    // the derived scalar feeds the serving tier directly
    val docs = Seq((1L, "s", "alpha beta alpha"), (2L, "s", "xxq yyq xxq"))
      .toDF("doc_id", "source", "text")
    val labels = Seq((1L, true), (2L, false)).toDF("doc_id", "is_pos")
    val model = Curation.qualityClassifierModel(docs, labels)
    val served = Curation.classifierServe(docs, model,
      Curation.chosenThreshold(rep)).collect()
    assert(served.length === 2, "serving with the derived point broke")
    // driver entry: exactly one row, drawn from the driver grid, and
    // it carries the max F1 of the full report
    val full = Curation.classifierReport(spark, sf).collect()
      .map(r => if (r.isNullAt(8)) Double.NegativeInfinity else r.getDouble(8))
    val drv = Curation.classifierThreshold(spark, sf).collect()
    assert(drv.length === 1)
    val drvF1 = if (drv.head.isNullAt(8)) Double.NegativeInfinity
      else drv.head.getDouble(8)
    assert(drvF1 === full.max, s"driver row F1 $drvF1 != max ${full.max}")
  }

  test("classifier bundle: serve-from-disk is bit-exact with the session model, torn bundle fails by name") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-clf-bundle").toString
    Curation.writeQualityClassifier(spark, sf, dir)
    val docs = Tables.documents(spark, sf)
    // the session-side twin: same labels, same derived threshold
    val labels = Curation.gopherRules(docs)
      .select($"doc_id", $"passed".as("is_pos"))
    val model = Curation.qualityClassifierModel(docs, labels)
    val thr = Curation.chosenThreshold(Curation.classifierReport(spark, sf))
    val profile = Curation.classifierProfile(docs, model, thr)
    val session = Curation.classifierServeGated(docs, model, profile, thr)
      .collect().map(_.toString).sorted.toSeq
    val disk = Curation.classifierServeFrom(spark, dir, docs)
      .collect().map(_.toString).sorted.toSeq
    assert(session === disk, "bundle serve drifted from the session model")
    // the bundle's meta carries the DERIVED threshold, not a constant
    val b = Curation.readQualityClassifier(spark, dir)
    assert(b.threshold === thr, s"bundle threshold ${b.threshold} != $thr")
    // torn bundle: drop the weights table behind the meta → by-name
    // failure, not a silently zero-floored vector
    val torn = java.nio.file.Files
      .createTempDirectory("graft-clf-torn").toString
    Curation.writeQualityClassifier(spark, sf, torn)
    spark.read.parquet(s"$torn/weights").limit(10).write
      .mode("overwrite").parquet(s"$torn/weights2")
    // overwrite weights with the truncated copy (two-step: parquet
    // cannot overwrite its own input in place)
    spark.read.parquet(s"$torn/weights2").write
      .mode("overwrite").parquet(s"$torn/weights")
    val ex = intercept[IllegalArgumentException] {
      Curation.readQualityClassifier(spark, torn)
    }
    assert(ex.getMessage.contains("torn"),
      s"torn bundle must fail by name: ${ex.getMessage}")
    // the served entry is deterministic and serves every doc
    val drv = Curation.classifierServeIndexed(spark, sf).collect()
    assert(drv.length === docs.count())
  }

  test("classifier serve gated: in-profile batch sails, vocabulary-drifted batch flags, stream twin fires") {
    // pos class carries MORE token mass than neg, so the unseen floor
    // w0 = ln((nt+B)/(pt+B)) < 0: an all-OOV batch scores below the
    // keep threshold everywhere and its keep rate collapses — the
    // silent-degradation shape the gate exists to catch
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta"),
      (2L, "alpha beta alpha beta alpha beta alpha beta"),
      (3L, "xxq yyq xxq yyq"),
      (4L, "xxq yyq xxq yyq"),
    ).toDF("doc_id", "text")
    val labels = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("doc_id", "is_pos")
    val model = Curation.qualityClassifierModel(docs, labels)
    val profile = Curation.classifierProfile(docs, model)
      .localCheckpoint(true)
    // the training corpus itself: batch stats equal the reference
    // exactly — zero drift on every row
    val same = Curation.classifierServeGated(docs, model, profile)
      .collect()
    assert(same.length === 4 && same.forall(!_.getBoolean(7)),
      s"in-profile batch flagged: ${same.toSeq}")
    // a fully drifted batch: none of its bigrams were ever trained on
    val drifted = Seq((21L, "qqw wwe eer rrt qqw wwe"),
      (22L, "zzx xxc ccv vvb zzx xxc")).toDF("doc_id", "text")
    val out = Curation.classifierServeGated(drifted, model, profile)
      .collect()
    assert(out.length === 2 && out.forall(_.getBoolean(7)),
      s"drifted batch not flagged: ${out.toSeq}")
    assert(out.forall(_.getBoolean(6)), "keep-rate drift not the trigger")
    // the live twin: the same gate per micro-batch via foreachBatch
    val input = new org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](105, spark, None)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val q = Curation.classifierServeGatedStream(
        input.toDS().toDF("doc_id", "text"), model, profile) {
        (b, _) => got ++= b.collect()
          .map(r => (r.getLong(0), r.getBoolean(7)))
      }.start()
    try {
      input.addData((21L, "qqw wwe eer rrt qqw wwe"))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSeq === Seq((21L, true)), s"stream gate: $got")
    // an EMPTY batch carries no distribution evidence — never flagged
    val none = Curation.classifierServeGated(
      drifted.limit(0), model, profile).collect()
    assert(none.isEmpty)
    // MISSING evidence never kills the gate (the r12 review findings):
    // a profile built over an EMPTY corpus carries NULL stats — served
    // rows come through unflagged instead of NPE-ing the query...
    val nullProfile = Curation.classifierProfile(docs.limit(0), model)
    val viaNull = Curation.classifierServeGated(drifted, model,
      nullProfile).collect()
    assert(viaNull.length === 2 && viaNull.forall(!_.getBoolean(7)),
      s"null-stat profile should flag nothing: ${viaNull.toSeq}")
    // ...and an all-NULL-text batch (NULL scores, count > 0) likewise
    val nullDocs = Seq((31L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val viaNullBatch = Curation.classifierServeGated(nullDocs, model,
      profile).collect()
    assert(viaNullBatch.length === 1 && !viaNullBatch.head.getBoolean(7),
      s"null-score batch should flag nothing: ${viaNullBatch.toSeq}")
    // an EMPTY profile frame fails by name, not NoSuchElement
    val ep = intercept[IllegalArgumentException] {
      Curation.classifierServeGated(drifted, model, profile.limit(0))
    }
    assert(ep.getMessage.contains("profile frame is empty"), ep.getMessage)
  }

  test("decontaminate_bloom: zero false negatives, low fp rate, exact parity with C12") {
    import graft.functions.BloomFunctions
    // the sketch itself: every inserted key hits (the property the
    // exact-confirm design rests on); disjoint keys hit at ~fpp
    val rnd = new scala.util.Random(7)
    val in = Array.fill(5000)(rnd.nextLong())
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(5000L, 0.001)
    in.foreach(bloom.putLong)
    val inSet = in.toSet
    val out = Array.fill(20000)(rnd.nextLong()).filterNot(inSet)
    assert(in.forall(bloom.mightContainLong),
      "bloom false negative — an inserted key was not found")
    val fps = out.count(bloom.mightContainLong)
    assert(fps <= out.length / 100,
      s"bloom fp rate ${fps.toDouble / out.length} far above tuned 0.001")
    // the native expression agrees with the sketch probe, under codegen
    val probed = (in.take(100) ++ out.take(100)).toSeq.toDF("g")
      .withColumn("hit", BloomFunctions.mightContain(col("g"), bloom))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probed.foreach { case (g, hitCol) =>
      assert(hitCol === bloom.mightContainLong(g),
        s"expression/eval divergence on $g")
    }
    // operator parity: a planted leak + clean docs behave exactly as C12
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val leak = words(100, 120)
    val docs = Seq((1L, "en", "s", words(0, 40)),
      (2L, "en", "s", s"prefix text here ${leak} suffix"),
      (3L, "en", "s", words(200, 240)))
      .toDF("doc_id", "lang", "source", "text")
    val bench = Seq((100L, "en", "s", leak))
      .toDF("doc_id", "lang", "source", "text")
    val viaBloom = Curation.decontaminateBloom(docs, bench)
      .collect().map(_.getLong(0)).toSet
    val viaExact = Curation.decontaminate(docs, bench)
      .collect().map(_.getLong(0)).toSet
    assert(viaBloom === viaExact && viaBloom === Set(1L, 3L),
      s"bloom path $viaBloom != exact path $viaExact")
    // empty benchmark: nothing can leak, docs unchanged
    assert(Curation.decontaminateBloom(docs,
      bench.limit(0)).count() === 3L)
    // full-corpus parity at spec SF (the oracle pins this per round at
    // the driver SF too — both entries share one SQL)
    val a = Curation.decontamBloomQuery(spark, sf)
    val b = Curation.decontamQuery(spark, sf)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "bloom-path corpus result drifted from C12")
  }

  test("pipeline_curate_gated: bad recall refuses loudly, good recall passes with C6b parity, empty baseline vacuous") {
    def report(recall: java.lang.Double, base: Long) = Seq(
      ("minhash_lsh", 10L, base, 4L, recall),
      ("simhash", 3L, base, 1L, recall),
    ).toDF("method", "found_pairs", "baseline_pairs", "matched", "recall")
    val docs = Tables.documents(spark, sf)
    // fail-path: a known-bad banding must refuse before any curation
    val e = intercept[IllegalArgumentException] {
      Curation.curateGatedOf(docs, report(0.4, 10L), minRecall = 0.8)
    }
    assert(e.getMessage.contains("0.400000") &&
      e.getMessage.contains("recall gate"), e.getMessage)
    // pass-path: identical rows to the ungated chain
    val gated = Curation.curateGatedOf(docs, report(1.0, 10L))
      .collect().map(_.getLong(0)).toSeq
    val plain = Curation.curate(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(gated === plain, "gated pass-path drifted from C6b")
    // vacuous path: zero baseline pairs (null recall) is healthy
    assert(Curation.curateGatedOf(docs, report(null, 0L)).count() ===
      plain.size.toLong)
    // the driver entry end to end (real cached C54 report — recall is
    // 1.0 at spec SF, so the gate passes and emits the curated corpus)
    assert(Curation.curateGated(spark, sf).count() === plain.size.toLong)
    // SIMHASH floor (r12): opting the second method into the gate — a
    // low simhash row refuses even when minhash is healthy...
    def mixedReport(mh: Double, sh: Double) = Seq(
      ("minhash_lsh", 10L, 10L, 10L, java.lang.Double.valueOf(mh)),
      ("simhash", 3L, 10L, 5L, java.lang.Double.valueOf(sh)),
    ).toDF("method", "found_pairs", "baseline_pairs", "matched", "recall")
    val es = intercept[IllegalArgumentException] {
      Curation.curateGatedOf(docs, mixedReport(1.0, 0.5),
        simhashMinRecall = Some(0.7))
    }
    assert(es.getMessage.contains("simhash") &&
      es.getMessage.contains("0.500000"), es.getMessage)
    // ...a healthy simhash row passes...
    assert(Curation.curateGatedOf(docs, mixedReport(1.0, 0.9),
      simhashMinRecall = Some(0.7)).count() === plain.size.toLong)
    // ...and the default leaves simhash report-only (unchanged r11
    // behavior: the chain's near-dup stage is MinHash-LSH)
    assert(Curation.curateGatedOf(docs, mixedReport(1.0, 0.1))
      .count() === plain.size.toLong)
    // a report MISSING the gated row fails as the gate, by name — not
    // as an opaque head() NoSuchElement (the r11 advice item)
    val em = intercept[IllegalArgumentException] {
      Curation.curateGatedOf(docs,
        mixedReport(1.0, 1.0).filter($"method" =!= "minhash_lsh"))
    }
    assert(em.getMessage.contains("no 'minhash_lsh' row"), em.getMessage)
  }

  test("gate audit auto-routes: full report below the pair ceiling, sampled past it — the composed chain never refuses on corpus size") {
    // below the ceiling the gate reads the SAME cached full report as
    // the standalone audit slot — no extra cost, identical rows
    val full = Dedup.dedupRecallReport(spark, sf).collect().toSeq
    val routed = Curation.gateAuditReport(spark, sf, 0.5).collect().toSeq
    assert(routed === full, "below-ceiling gate audit drifted from C54")
    // past the ceiling: a >10k-doc corpus (n² > the 1e8 pair budget).
    // Tiny distinct texts keep the audit itself trivial — the point is
    // the ROUTING, not the recall number.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-gate").toString
    spark.range(0L, 10050L)
      .selectExpr("id AS doc_id", "concat('unique doc ', id) AS text",
        "'en' AS lang", "'s' AS source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the full exact baseline refuses at this size...
    val er = intercept[IllegalArgumentException] {
      Dedup.dedupRecallReport(spark, dir)
    }
    assert(er.getMessage.contains("audit-scale"), er.getMessage)
    // ...but the routed audit runs, in the exact C54 shape the gate
    // consumes (zero ground-truth pairs → NULL recall → vacuous pass)
    val big = Curation.gateAuditReport(spark, dir, 0.5)
    assert(big.columns.toSeq === Seq("method", "found_pairs",
      "baseline_pairs", "matched", "recall"))
    assert(big.collect().map(_.getString(0)).toSet ===
      Set("minhash_lsh", "simhash"))
    // and the composed gated chain EMITS instead of refusing
    Curation.curateGated(spark, dir).count() // must not throw
  }

  test("massivetext stream: per-epoch verdicts equal the batch battery, replayed trigger leaves the log unchanged") {
    val auditDir = java.nio.file.Files
      .createTempDirectory("graft-mtx").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-mtx-ck").toString
    // distinct tokens (no repeated n-gram → repetition vacuous pass),
    // two stopwords up front, ≥50 words, clean alpha mass
    def words(a: Int, n: Int): String =
      "the and " + (a until a + n).map(i => s"word$i").mkString(" ")
    val rows = Seq(
      (1L, words(0, 60)),                     // passes both batteries
      (2L, "tiny"),                           // gopher word-count fail
      (3L, Seq.fill(60)("spam spam").mkString(" ")), // repetition fail
      (4L, words(100, 55)))
    val input = new org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](105, spark, None)
    val q = Curation.massivetextStream(
      input.toDS().toDF("doc_id", "text"), auditDir, ckpt)
    try {
      input.addData(rows.take(2))
      q.processAllAvailable()
      input.addData(rows.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val log = Curation.massivetextLog(spark, auditDir)
    val batch = Curation.pipelineMassivetext(
      rows.toDF("doc_id", "text"))
    assert(log.drop("epoch").exceptAll(batch).count() === 0 &&
      batch.exceptAll(log.drop("epoch")).count() === 0,
      "per-epoch union != batch battery on the union")
    val kept = log.filter($"kept").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L), s"gate verdicts wrong: $kept")
    // replay fence: re-deliver epoch 0 with its own content — the log
    // must stay byte-identical (epoch overwrite, not append)
    val before = log.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    Curation.massivetextBatch(rows.take(2).toDF("doc_id", "text"), 0L,
      auditDir)
    val after = Curation.massivetextLog(spark, auditDir).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    assert(after === before, "replayed trigger changed the audit log")
  }

  test("pack_unigram: piece packing under a hand-fitted table diverges from whitespace packing") {
    // table: "ab" strong, chars weak — "abab" parses as 2 pieces
    val logp = Map("ab" -> math.log(0.5), "a" -> math.log(0.05),
      "b" -> math.log(0.05), "c" -> math.log(0.05))
    val docs = Seq((0L, "abab c"), (1L, "abab abab"), (2L, "c"))
      .toDF("doc_id", "text")
    // piece counts: d0 = 2+1 = 3, d1 = 4, d2 = 1; cum-before 0, 3, 7
    val out = Curation.packSequences(docs, seqLen = 4, buckets = 2,
      denomination = Denomination.UnigramPieces(logp, maxPieceLen = 2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((0L, 3L, 0L, 0L), (1L, 4L, 0L, 3L),
      (2L, 1L, 1L, 3L)), s"unigram packing wrong: ${out.toSeq}")
    // whitespace counts (2, 2, 1) place the stream differently
    val ws = Curation.packSequences(docs, seqLen = 4, buckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.map(t => (t._1, t._3, t._4)).toSet != ws.toSet,
      "planted corpus failed to separate the two budgets")
    // driver query: contiguous positions in the unigram piece stream
    val drv = Curation.packSequences(Tables.documents(spark, sf),
      seqLen = 64, denomination = Denomination.unigram(spark, sf))
      .collect()
    assert(drv.nonEmpty)
    var cum = 0L
    drv.foreach { r =>
      assert(r.getLong(2) * 64 + r.getLong(3) === cum,
        s"doc ${r.getLong(0)} misplaced")
      cum += r.getLong(1)
    }
  }

  test("mix_sample_bpe: piece-denominated budgets reject the OOV doc whitespace admits") {
    // hand vocab: "aa" whole (1 piece); "cc" is OOV → char fallback (2)
    val vocab = Seq(("aa", Seq("aa"))).toDF("term", "syms")
    val docs = Seq(
      (0L, "en", "srcA", "aa aa"),       // ws 2, pieces 2
      (1L, "en", "srcA", "cc cc cc"),    // ws 3, pieces 6 — the OOV doc
      (2L, "en", "srcA", "aa"),          // ws 1, pieces 1
      (3L, "en", "srcB", "cc"),          // ws 1, pieces 2
    ).toDF("doc_id", "lang", "source", "text")
    val budgets = Map("srcA" -> 5L)
    // whitespace admission (cum ≤ 5 in doc_id order): 2, 5, 6 → {0, 1}
    val ws = Curation.mixSample(docs, "source", budgets, defaultBudget = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(ws === Set(0L, 1L, 3L), s"whitespace admission drifted: $ws")
    // piece admission: 2, 8, 9 → the OOV doc blows the same budget and
    // everything behind it in the greedy prefix stays out too
    val bpe = Curation.mixSample(docs, "source", budgets,
      defaultBudget = 2L, denomination = Denomination.BpePieces(vocab))
      .collect().map(_.getLong(0)).toSet
    assert(bpe === Set(0L, 3L), s"piece admission wrong: $bpe")
    // driver query: non-empty, and per-source piece mass inside budget
    val out = Curation.mixSampleQuery(spark, sf, Denomination.bpe(spark, sf))
    assert(out.count() > 0)
    val perSrc = out.groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perSrc.foreach { case (s, m) =>
      val cap = Map("src0" -> 1000000L, "src1" -> 500L).getOrElse(s, 800L)
      assert(m <= cap, s"source $s piece mass $m over budget $cap")
    }
  }

  test("budget_select_bpe: piece budget cuts the prefix earlier than the whitespace budget") {
    val vocab = Seq(("aa", Seq("aa"))).toDF("term", "syms")
    // identical E2 quality per doc (same shape, same length term), so
    // the selection order is pure doc_id tiebreak — what differs is
    // ONLY the denomination: 4 whitespace tokens each, but the OOV doc
    // costs 8 pieces
    val docs = Seq(
      (0L, "aa aa aa aa"),  // 4 ws, 4 pieces
      (1L, "cc cc cc cc"),  // 4 ws, 8 pieces — OOV
      (2L, "aa aa aa aa"),  // 4 ws, 4 pieces
    ).toDF("doc_id", "text")
    val ws = Curation.budgetSelect(docs, budgetTokens = 10, buckets = 2)
      .collect().map(_.getLong(0)).toSet
    assert(ws === Set(0L, 1L, 2L), s"whitespace selection drifted: $ws")
    // pieces cum: 4, 12, 16 — doc 1 straddles (cum_before 4 < 10 →
    // kept, the C28 boundary rule), doc 2 sees cum_before 12 → out
    val bpe = Curation.budgetSelect(docs, budgetTokens = 10, buckets = 2,
      denomination = Denomination.BpePieces(vocab)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(bpe.map(_._1).toSet === Set(0L, 1L), s"piece selection: ${bpe.toSeq}")
    assert(bpe.toMap === Map(0L -> 4L, 1L -> 8L),
      s"piece counts wrong: ${bpe.toSeq}")
    // driver query: non-empty, piece mass before the last doc < budget
    val out = Curation.budgetSelect(Tables.documents(spark, sf),
      denomination = Denomination.bpe(spark, sf)).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(3) - r.getLong(1) < 15000L,
      s"doc ${r.getLong(0)} admitted after the piece budget closed"))
  }

  test("domain_cap_bpe: LCG-ordered piece budget per domain, diverges from the doc-count cap") {
    val vocab = Seq(("aa", Seq("aa"))).toDF("term", "syms")
    val docs = Seq(
      (10L, "x", "aa"),       // 1 piece
      (11L, "x", "cc"),       // 2 pieces (OOV)
      (12L, "x", "cc cc"),    // 4 pieces
      (20L, "y", "aa aa"),    // 2 pieces
    ).toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
    val pieceOf = Map(10L -> 1L, 11L -> 2L, 12L -> 4L, 20L -> 2L)
    // independent simulation: the admission order is the seeded LCG
    // key order (C25's), the cut is the greedy piece prefix (C14's)
    val keyed = docs.select($"doc_id", $"source",
      Curation.shuffleKey($"doc_id", 11L).as("k"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(0)))
    val expected = keyed.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      // cum is monotone, so the greedy prefix is just "admit while ≤"
      rows.sortBy(t => (t._2, t._3)).toSeq.flatMap { case (_, _, id) =>
        cum += pieceOf(id)
        if (cum <= 2L) Some(id) else None
      }
    }.toSet
    val got = Curation.domainCapBudget(docs, "source", budget = 2L,
      seed = 11L, denomination = Denomination.BpePieces(vocab))
      .collect().map(_.getLong(0)).toSet
    assert(got === expected, s"got $got, simulated $expected")
    // per-domain piece mass never exceeds the budget…
    Seq("x", "y").foreach { d =>
      val m = got.toSeq.filter(id => (if (d == "x") id < 20 else id >= 20))
        .map(pieceOf).sum
      assert(m <= 2L, s"domain $d piece mass $m over budget")
    }
    // …and the doc-COUNT cap (k=2) admits a different set than the
    // piece budget on this corpus — the divergence C57 exists for
    val docCap = Curation.domainCap(docs, "source", k = 2, seed = 11L)
      .collect().map(r => r.getLong(0)).toSet
    assert(docCap !== got, s"doc-count cap $docCap == piece cap $got")
    // driver query: non-empty, per-domain piece mass within budget
    val out = Curation.domainCapBudget(Tables.documents(spark, sf),
      denomination = Denomination.bpe(spark, sf))
    assert(out.count() > 0)
    val perDom = out.groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().map(_.getLong(1))
    perDom.foreach(m => assert(m <= 600L, s"domain piece mass $m over 600"))
  }

  test("unigram admission trio: the two tokenizers price the same docs differently and the kernels follow") {
    // ECONOMICS INVERSION plant: BPE vocab knows "aa" (1 piece, OOV
    // "cc" falls back to 2 chars); the unigram table knows "cc"
    // (1 piece, "aa" parses as 2 chars) — the SAME doc is cheap under
    // one tokenizer and dear under the other, so any admission kernel
    // actually reading its denomination must flip on it
    val vocab = Seq(("aa", Seq("aa"))).toDF("term", "syms")
    val logp = Map("cc" -> math.log(0.5), "a" -> math.log(0.05),
      "c" -> math.log(0.05))
    // --- mix: budget 4 on one stratum, doc order admission
    val mixDocs = Seq(
      (0L, "en", "srcA", "aa"),      // bpe 1, uni 2
      (1L, "en", "srcA", "cc cc"),   // bpe 4, uni 2
      (2L, "en", "srcA", "aa aa"),   // bpe 2, uni 4
    ).toDF("doc_id", "lang", "source", "text")
    val bpeMix = Curation.mixSample(mixDocs, "source",
      Map("srcA" -> 4L), defaultBudget = 0L,
      denomination = Denomination.BpePieces(vocab))
      .collect().map(_.getLong(0)).toSet
    val uniMix = Curation.mixSample(mixDocs, "source",
      Map("srcA" -> 4L), defaultBudget = 0L,
      denomination = Denomination.UnigramPieces(logp, maxPieceLen = 2))
      .collect().map(_.getLong(0)).toSet
    assert(bpeMix === Set(0L), s"bpe mix admission: $bpeMix")
    // unigram cums 2, 4, 8: the unigram-cheap OOV doc is IN
    assert(uniMix === Set(0L, 1L), s"unigram mix admission: $uniMix")
    // --- budget select: identical E2 quality → pure doc_id tiebreak,
    // only the denomination differs; cum_before < 4 keeps the doc
    val selDocs = Seq(
      (0L, "aa aa aa"),   // bpe 3, uni 6
      (1L, "cc cc cc"),   // bpe 6, uni 3
      (2L, "aa aa aa"),   // bpe 3, uni 6
    ).toDF("doc_id", "text")
    val bpeSel = Curation.budgetSelect(selDocs, budgetTokens = 4,
      buckets = 2, denomination = Denomination.BpePieces(vocab))
      .collect().map(_.getLong(0)).toSet
    val uniSel = Curation.budgetSelect(selDocs, budgetTokens = 4,
      buckets = 2,
      denomination = Denomination.UnigramPieces(logp, maxPieceLen = 2))
      .collect().map(_.getLong(0)).toSet
    assert(bpeSel === Set(0L, 1L), s"bpe selection: $bpeSel")
    assert(uniSel === Set(0L), s"unigram selection: $uniSel")
    // --- domain cap: LCG-ordered per-domain unigram-piece prefix,
    // hand-simulated (the C57 discipline with the unigram price list)
    val capDocs = Seq(
      (10L, "x", "aa"),      // uni 2
      (11L, "x", "cc"),      // uni 1
      (12L, "x", "cc cc"),   // uni 2
      (20L, "y", "aa aa"),   // uni 4
    ).toDF("doc_id", "source", "text")
    val pieceOf = Map(10L -> 2L, 11L -> 1L, 12L -> 2L, 20L -> 4L)
    val keyed = capDocs.select($"doc_id", $"source",
      Curation.shuffleKey($"doc_id", 11L).as("k"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(0)))
    val expected = keyed.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(t => (t._2, t._3)).toSeq.flatMap { case (_, _, id) =>
        cum += pieceOf(id)
        if (cum <= 3L) Some(id) else None
      }
    }.toSet
    val gotCap = Curation.domainCapBudget(capDocs, "source", budget = 3L,
      seed = 11L,
      denomination = Denomination.UnigramPieces(logp, maxPieceLen = 2))
      .collect().map(_.getLong(0)).toSet
    assert(gotCap === expected, s"got $gotCap, simulated $expected")
    // --- driver queries: non-empty, budgets hold in UNIGRAM pieces
    val mq = Curation.mixSampleQuery(spark, sf,
      Denomination.unigram(spark, sf))
    assert(mq.count() > 0)
    mq.groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().foreach { r =>
        val cap = Map("src0" -> 1000000L, "src1" -> 500L)
          .getOrElse(r.getString(0), 800L)
        assert(r.getLong(1) <= cap,
          s"source ${r.getString(0)} mass ${r.getLong(1)} over $cap")
      }
    val bq = Curation.budgetSelect(Tables.documents(spark, sf),
      denomination = Denomination.unigram(spark, sf)).collect()
    assert(bq.nonEmpty)
    bq.foreach(r => assert(r.getLong(3) - r.getLong(1) < 15000L,
      s"doc ${r.getLong(0)} admitted after the unigram budget closed"))
    val dq = Curation.domainCapBudget(Tables.documents(spark, sf),
      denomination = Denomination.unigram(spark, sf))
    assert(dq.count() > 0)
    dq.groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().foreach(r => assert(r.getLong(1) <= 600L,
        s"domain mass ${r.getLong(1)} over 600"))
  }

  test("pack_doc_aware: whole docs only, dense slots, bounded waste, diverges from C13 where C13 splits") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, words(10)),   // bucket 16, shares a sequence with doc 2
      (1L, words(100)),  // bucket 112, capacity 1 — its own sequence
      (2L, words(10)),   // bucket 16, slot 1 beside doc 0
      (3L, words(200)),  // > seqLen: whole sequence + truncated flag
    ).toDF("doc_id", "text")
    val out = Curation.packDocAware(docs, seqLen = 128, g = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // (bucket, seq_in_bucket, slot_in_seq, pad, truncated)
    assert(out(0L) === ((16L, 0L, 0L, 6L, false)), s"doc 0: ${out(0L)}")
    assert(out(2L) === ((16L, 0L, 1L, 6L, false)), s"doc 2: ${out(2L)}")
    assert(out(1L) === ((112L, 0L, 0L, 12L, false)), s"doc 1: ${out(1L)}")
    assert(out(3L) === ((128L, 0L, 0L, 0L, true)), s"doc 3: ${out(3L)}")
    // seqLen NOT a multiple of g (the review-found hole): the round-up
    // bucket caps at seqLen so capacity stays >= 1 — no NULL slots, no
    // oracle division-by-zero, crossing invariant intact, pad < g
    val odd = Curation.packDocAware(
        Seq((7L, words(70))).toDF("doc_id", "text"), seqLen = 100, g = 64)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).head
    assert(odd === ((100L, 0L, 0L, 30L, false)),
      s"non-divisible seqLen mishandled: $odd")
    // driver corpus: the three C63 invariants at scale
    val seqLen = 2048L
    val g = 64L
    val drv = Curation.packDocAwareQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(drv.nonEmpty)
    drv.foreach { case (id, n, bucket, _, slot, pad, trunc) =>
      // a doc NEVER crosses: its slot's end stays inside the sequence
      assert(bucket * (slot + 1) <= seqLen, s"doc $id crosses: $bucket*$slot")
      assert(pad >= 0 && pad <= g, s"doc $id waste $pad beyond bucket width")
      assert(trunc === (n > seqLen), s"doc $id truncation flag wrong")
    }
    // slots are DENSE per sequence: 0..m-1 each
    drv.groupBy(t => (t._3, t._4)).foreach { case (k, ds) =>
      assert(ds.map(_._5).sorted.sameElements(0L until ds.length),
        s"sequence $k slots not dense: ${ds.map(_._5).sorted.toSeq}")
    }
    // the divergence C63 exists for: C13's layout splits docs across
    // boundaries on this corpus (C43 counts them); C63 has zero by
    // construction
    val crossers = Curation.packReport(spark, sf).collect()
      .map(_.getLong(4)).sum
    assert(crossers > 0, "fixture never splits a doc — divergence vacuous")
  }

  test("mix_reweight: distinctive source upweights, eta=0 is the identity, weights normalize") {
    // srcA and srcB share the mixture's vocabulary; srcC is fully
    // distinctive — the corpus LM models C's stream far worse than
    // C's own LM does, so its excess (smoothed KL to the mixture)
    // dominates and one EG step moves mass toward it
    val docs = Seq(
      (1L, "srcA", "the cat sat on the mat the cat sat"),
      (2L, "srcA", "the dog sat on the mat the dog sat"),
      (3L, "srcB", "the cat sat on the mat the dog sat"),
      (4L, "srcC", "zyx wvu tsr qpo zyx wvu tsr qpo zyx"),
    ).toDF("doc_id", "source", "text")
    val out = Curation.mixReweightOf(docs, "source").collect()
      .map(r => r.getString(0) -> ((r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))).toMap // excess, weight_old, weight_new
    assert(out.keySet === Set("srcA", "srcB", "srcC"))
    assert(out("srcC")._1 > out("srcA")._1 &&
      out("srcC")._1 > out("srcB")._1,
      s"distinctive source not highest-excess: $out")
    assert(out("srcC")._3 > out("srcC")._2,
      s"distinctive source not upweighted: ${out("srcC")}")
    assert(out("srcB")._3 < out("srcB")._2,
      s"mixture-typical source not downweighted: ${out("srcB")}")
    val mass = out.values.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-5, s"weights do not normalize: $mass")
    // eta = 0: exp(0) everywhere — the update is the identity
    val id = Curation.mixReweightOf(docs, "source", eta = 0.0).collect()
      .map(r => (r.getDouble(6), r.getDouble(7)))
    assert(id.forall { case (o, n) => o === n },
      s"eta=0 moved weights: ${id.toSeq}")
    // driver entry: one row per source, weights normalize (excess has
    // no sign guarantee — it is KL(p_s ‖ P_corpus) − KL(p_s ‖ P_s),
    // and add-1 smoothing can flatten a tiny source's own LM below
    // the corpus fit)
    val drv = Curation.mixReweight(spark, sf).collect()
    assert(drv.length === 20)
    val dmass = drv.map(_.getDouble(7)).sum
    assert(math.abs(dmass - 1.0) < 1e-4, s"driver weights: $dmass")
  }

  test("mix_reweight_iterate: weights conserve, distinctive source gains, excess spread concentrates, tol stops") {
    // the C62 planted corpus: srcC fully distinctive, srcA/srcB share
    // the mixture vocabulary
    val docs = Seq(
      (1L, "srcA", "the cat sat on the mat the cat sat"),
      (2L, "srcA", "the dog sat on the mat the dog sat"),
      (3L, "srcB", "the cat sat on the mat the dog sat"),
      (4L, "srcC", "zyx wvu tsr qpo zyx wvu tsr qpo zyx"),
    ).toDF("doc_id", "source", "text")
    val rows = Curation.mixReweightIterateOf(docs, "source",
        eta = 1.0, maxRounds = 6, tol = 1e-6)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val byRound = rows.groupBy(_._1)
    val nRounds = byRound.keys.max
    assert(nRounds >= 2, s"planted skew must take >1 round: $nRounds")
    // weight mass conserves every round
    byRound.foreach { case (rd, rs) =>
      val mass = rs.map(_._5).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"round $rd mass $mass")
    }
    // the distinctive source's weight is monotone non-decreasing
    // toward the fixpoint
    val cWeights = (1 to nRounds).map(rd =>
      byRound(rd).find(_._2 == "srcC").get._5)
    assert(cWeights.head > 1.0 / 3 + 1e-6,
      s"round 1 must upweight the distinctive source: $cWeights")
    assert(cWeights.zip(cWeights.tail).forall { case (a, b) => b >= a - 1e-6 },
      s"distinctive weight not monotone: $cWeights")
    // excess-loss CONCENTRATION: the max-min excess spread shrinks
    // round over round (the fixpoint equalizes excess)
    val spreads = (1 to nRounds).map { rd =>
      val es = byRound(rd).map(_._3)
      es.max - es.min
    }
    assert(spreads.zip(spreads.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"excess spread not concentrating: $spreads")
    // a loose tolerance stops after round 1; a zero tolerance runs to
    // the cap (the planted skew never lands on an exact fixpoint)
    val one = Curation.mixReweightIterateOf(docs, "source",
      eta = 1.0, maxRounds = 6, tol = 10.0).collect()
    assert(one.map(_.getInt(0)).max === 1, "loose tol must stop at round 1")
    val capped = Curation.mixReweightIterateOf(docs, "source",
      eta = 1.0, maxRounds = 3, tol = 0.0).collect()
    assert(capped.map(_.getInt(0)).max === 3, "zero tol must run to the cap")
    // driver entry: rounds × 20 sources, deterministic
    val drv = Curation.mixReweightIterate(spark, sf).collect()
    assert(drv.length % 20 === 0 && drv.nonEmpty, s"driver rows ${drv.length}")
    val again = Curation.mixReweightIterate(spark, sf).collect()
    assert(drv.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "iterated reweight not deterministic")
  }

  test("mix_reweight_apply: learned budgets bound each source's admitted token mass") {
    val total = 5000L
    val budgets = Curation.mixReweight(spark, sf).collect()
      .map(r => r.getString(0) ->
        math.floor(r.getDouble(7) * total).toLong).toMap
    val out = Curation.mixReweightApply(spark, sf, totalTokens = total)
      .localCheckpoint(true)
    val perSrc = out.groupBy($"source")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc.nonEmpty)
    perSrc.foreach { case (s, m) =>
      assert(m <= budgets(s),
        s"source $s admitted $m tokens over its learned budget ${budgets(s)}")
    }
    // the cut actually binds somewhere — otherwise the test is vacuous
    assert(out.count() < Tables.documents(spark, sf).count(),
      "no source's budget bound at this total")
    // a stratum ABSENT from the budget frame takes defaultBudget (the
    // review-found inner-join drop): zero-cost docs stay admitted
    // under the default 0, costly ones do not
    val counts = Seq((1L, "known", 3L), (2L, "ghost", 0L),
      (3L, "ghost", 5L)).toDF("doc_id", "source", "n_tokens")
    val onlyKnown = Seq(("known", 10L)).toDF("source", "budget")
    val kept = Curation.mixSampleBudgetFrame(counts, "source", onlyKnown)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L),
      s"absent-stratum default budget broken: $kept")
  }

  test("pipeline_curate_norm: case/whitespace twins collapse to one survivor where v2 keeps both") {
    // a gate-passing doc and its case+whitespace twin: identical
    // tokens (the gates agree), different raw bytes (v2's sha256
    // sees two documents)
    val p = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, "en", "s", p),
      (2L, "en", "s", p.toUpperCase + "  "),
      (3L, "en", "s", "the quick brown fox jumps over a lazy dog near here"))
      .toDF("doc_id", "lang", "source", "text")
    val v2 = Curation.curateV2(docs).collect().map(_.getLong(0)).toSet
    assert(v2 === Set(1L, 2L, 3L), s"v2 must keep the raw twins: $v2")
    val norm = Curation.curateV2(docs.withColumn("text",
        graft.functions.TextFunctions.normalizeText($"text")))
      .collect().map(_.getLong(0)).toSet
    assert(norm === Set(1L, 3L),
      s"normalized chain must collapse the twins keep-first: $norm")
  }

  test("mix_temperature: hand shares flatten exactly, alpha=1 is the identity, zero-mass source takes 0, apply binds") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // planted token masses 80/16/4 (+ a zero-mass source): shares
    // .8/.16/.04, sqrt -> .894427/.4/.2, normalized by 1.494427
    val docs = Seq(
      (1L, "a", words(40)), (2L, "a", words(40)),
      (3L, "b", words(8)), (4L, "b", words(8)),
      (5L, "c", words(4)), (6L, "d", "!!!"))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixTemperatureOf(docs, "source", alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val usum = 0.894427 + 0.4 + 0.2
    val expect = Map("a" -> (80L, 0.8, 0.894427 / usum),
      "b" -> (16L, 0.16, 0.4 / usum), "c" -> (4L, 0.04, 0.2 / usum),
      "d" -> (0L, 0.0, 0.0))
    assert(out.keySet === expect.keySet)
    expect.foreach { case (s, (ns, share, wgt)) =>
      assert(out(s)._1 === ns, s"$s token mass")
      assert(math.abs(out(s)._2 - share) < 1e-6, s"$s share: ${out(s)}")
      assert(math.abs(out(s)._3 - wgt) < 1e-5, s"$s weight: ${out(s)}")
    }
    // the flattening direction: high-resource compresses, low-resource
    // expands — the rule's entire point
    assert(out("a")._3 < 0.8 && out("c")._3 > 0.04)
    // alpha=1 is the identity: weight == share on every row
    Curation.mixTemperatureOf(docs, "source", alpha = 1.0)
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(4) - r.getDouble(3)) < 1e-6,
          s"alpha=1 must return the share: $r")
      }
    // out-of-range alpha fails by name
    val ex = intercept[IllegalArgumentException] {
      Curation.mixTemperatureOf(docs, "source", alpha = 0.0)
    }
    assert(ex.getMessage.contains("alpha"), ex.getMessage)
    // APPLY: budgets floor(weight*100) = 59/26/13/0; prefix admission
    // keeps doc 1 (cum 40 <= 59) but not 2 (80), both b docs (16 <= 26),
    // the c doc (4 <= 13), and the zero-cost d doc under budget 0
    val budgets = Curation.mixTemperatureOf(docs, "source", 0.5)
      .select($"source",
        org.apache.spark.sql.functions.floor($"weight" * 100)
          .cast("long").as("budget"))
    val kept2 = Curation.mixSampleBudgetFrame(
        docs.withColumn("n_tokens",
          org.apache.spark.sql.functions.size(
            graft.operators.TextAnalysis.tokens()).cast("long")),
        "source", budgets)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(1L, 3L, 4L, 5L, 6L), s"admission: $kept2")
  }

  test("data_card: planted sources yield exact volume, dup, pii, language, and gopher cells") {
    // P passes the C50 battery: 60 words, mean len ~3.9, alpha 1.0,
    // stopword-rich; the junk doc fails it and carries a phone hit
    val p = Seq.fill(6)("the quick brown fox jumps over the lazy dog now")
      .mkString(" ")
    val docs = Seq(
      (1L, "a", "en", p),
      (2L, "a", "en", p),
      (3L, "a", "de", "short junk 555-123-4567"),
      (10L, "b", "fr", "tiny unique and clean"))
      .toDF("doc_id", "source", "lang", "text")
    val card = Curation.dataCardOf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(card.keySet === Set("a", "b"))
    val a = card("a")
    assert(a.getLong(1) === 3L && a.getLong(2) === 125L,
      s"volume cells: $a")
    assert(a.getDouble(3) === 41.666667, s"avg_tokens: $a")
    assert(a.getDouble(4) === 0.333333, s"dup_rate: $a") // 1 - 2/3
    assert(a.getDouble(5) === 0.333333, s"pii_frac: $a")
    assert(a.getDouble(6) === 0.666667, s"gopher_pass_frac: $a")
    assert(a.getString(7) === "en" && a.getDouble(8) === 0.666667,
      s"language cells: $a")
    val b = card("b")
    assert(b.getLong(1) === 1L && b.getDouble(4) === 0.0 &&
      b.getDouble(5) === 0.0 && b.getDouble(6) === 0.0 &&
      b.getString(7) === "fr" && b.getDouble(8) === 1.0,
      s"singleton source row: $b")
  }

  test("mix_anneal: endpoints equal the operating points, midpoint interpolates, budgets floor") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "a", words(40)), (2L, "a", words(40)),
      (3L, "b", words(8)), (4L, "b", words(8)),
      (5L, "c", words(4)))
      .toDF("doc_id", "source", "text")
    def weights(alpha: Double) =
      Curation.mixTemperatureOf(docs, "source", alpha).collect()
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val w1 = weights(1.0); val w5 = weights(0.5)
    val sched = Curation.mixAnnealOf(docs, "source", epochs = 3,
        tokensPerEpoch = 1000, alphaStart = 1.0, alphaEnd = 0.5)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(sched.size === 9, s"grid: ${sched.keySet}")
    Seq("a", "b", "c").foreach { s =>
      // epoch 0 IS the raw shares, the last epoch IS the flattened
      // target, the midpoint is their mean
      assert(math.abs(sched((0, s))._1 - w1(s)) < 1e-6, s"$s epoch0")
      assert(math.abs(sched((2, s))._1 - w5(s)) < 1e-6, s"$s epoch2")
      assert(math.abs(sched((1, s))._1 - (w1(s) + w5(s)) / 2) < 1e-5,
        s"$s midpoint")
      // budgets are the floor of weight x epoch tokens
      val (w, b) = sched((1, s))
      assert(b === math.floor(w * 1000).toLong, s"$s budget")
    }
    // each epoch's weights stay a distribution
    (0 to 2).foreach { e =>
      val tot = Seq("a", "b", "c").map(s => sched((e, s))._1).sum
      assert(math.abs(tot - 1.0) < 1e-4, s"epoch $e weights sum $tot")
    }
    val ex = intercept[IllegalArgumentException] {
      Curation.mixAnnealOf(docs, "source", 1, 1000, 1.0, 0.5)
    }
    assert(ex.getMessage.contains("epochs"), ex.getMessage)
  }

  test("cluster_sample: prototype keeps centers, frontier keeps outliers, quota binds per cluster") {
    // two planted clusters around (0,0) and (10,10): ids 1/2/3 at
    // distances .1/.2/3.0 from c0; ids 11/12 at .1/4.0 from c1
    val centroids = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val embeds = Seq(
      (1L, Array(0.1f, 0f)), (2L, Array(0.2f, 0f)), (3L, Array(3f, 0f)),
      (11L, Array(10f, 10.1f)), (12L, Array(10f, 14f)))
      .toDF("doc_id", "embedding")
    val meta = Seq((1L, "a"), (2L, "a"), (3L, "a"), (11L, "b"))
      .toDF("doc_id", "source")
    def pick(mode: String, quota: Int) =
      Curation.clusterSampleOf(embeds, meta, centroids, quota, mode)
        .collect().map(r => r.getLong(0)).toSet
    // quota 1: prototype takes each cluster's most central member,
    // frontier its most peripheral — the sort flip is the semantics
    assert(pick("prototype", 1) === Set(1L, 11L))
    assert(pick("frontier", 1) === Set(3L, 12L))
    // quota 2 binds only where the cluster exceeds it
    assert(pick("prototype", 2) === Set(1L, 2L, 11L, 12L))
    // quota beyond every cluster size admits everything
    assert(pick("prototype", 10) === Set(1L, 2L, 3L, 11L, 12L))
    // metadata is a LEFT join: a doc missing its meta row survives
    // with a NULL source instead of silently vanishing
    val rows = Curation.clusterSampleOf(embeds, meta, centroids, 10)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows(12L) === null && rows(1L) === "a")
    // bad arguments fail by name
    val qx = intercept[IllegalArgumentException] {
      Curation.clusterSampleOf(embeds, meta, centroids, 0)
    }
    assert(qx.getMessage.contains("quota"), qx.getMessage)
    val mx = intercept[IllegalArgumentException] {
      Curation.clusterSampleOf(embeds, meta, centroids, 1, "random")
    }
    assert(mx.getMessage.contains("mode"), mx.getMessage)
    // the driver entries run on the corpus: quota binds, deterministic
    val d1 = Curation.clusterSample(spark, sf, quota = 4).collect()
    val d2 = Curation.clusterSample(spark, sf, quota = 4).collect()
    assert(d1.map(_.toString).toSeq === d2.map(_.toString).toSeq)
    val perCluster = d1.groupBy(_.getInt(2)).map(_._2.length)
    assert(perCluster.forall(_ <= 4), s"quota violated: $perCluster")
    assert(d1.nonEmpty)
  }

  test("quality_rank_cut: keeps exactly the top floor(num*n/den) per source") {
    // token counts: a → 5,4,3,2,1; b → ties at the 4/7 boundary so the
    // doc_id tiebreak is what decides who survives
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(5), "a"), (2L, words(4), "a"), (3L, words(3), "a"),
      (4L, words(2), "a"), (5L, words(1), "a"),
      (10L, words(9), "b"), (11L, words(3), "b"), (12L, words(3), "b"),
      (13L, words(3), "b"), (14L, words(3), "b"), (15L, words(3), "b"),
      (16L, words(2), "b"),
    ).toDF("doc_id", "text", "source")
    val kept = Curation.qualityRankCut(docs, num = 4, den = 5, buckets = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // a: n=5 → keep 4 (drop the 1-token doc). b: n=7 → keep 5: doc 10
    // (score 9) then the four LOWEST doc_ids among the five tied at 3.
    assert(kept.map(_._1).toSet === Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 14L),
      s"wrong survivor set: ${kept.toSeq}")
    // matches the naive per-source window rank on the same data, and is
    // invariant to input partitioning (the prefix-sum contract)
    val reran = Curation.qualityRankCut(docs.repartition(7), num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(reran.toSeq === kept.toSeq, "partitioning changed the cut")
    // degenerate fractions: keep-nothing and keep-everything
    assert(Curation.qualityRankCut(docs, num = 0, den = 1).count() === 0L)
    assert(Curation.qualityRankCut(docs, num = 1, den = 1).count() === 12L)
  }

  test("budget_select: greedy fill in quality order, straddling doc kept, zero budget empty") {
    // identical structure per doc except token count, so the E2 score
    // is driven by the length term (capped at 100) — longer docs score
    // higher here; every doc is 40 tokens so the budget boundary falls
    // mid-doc and the straddling doc must still be admitted
    def words(n: Int): String = (1 to n).map(i => s"tok$i word").mkString(". ")
    // docs 90/91: token-free (punctuation-only / empty) — quality is
    // NULL (0/0), and budgetSelect must DROP them instead of crashing
    // the prefix sum on a NULL order key (round-7 advisor finding)
    val docs = Seq(
      (1L, words(10)), (2L, words(20)), (3L, words(30)),
      (4L, words(40)), (5L, words(50)),
      (90L, "!!! ... ???"), (91L, ""),
    ).toDF("doc_id", "text")
    val out = Curation.budgetSelect(docs, budgetTokens = 150, buckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // quality order: doc 5 (100 tokens), 4 (80), 3 (60), 2 (40), 1 (20)
    // cum: 100, 180, 240, 280, 300 — budget 150 exhausts DURING doc 4
    // (cum_before = 100 < 150 → kept), doc 3 sees cum_before 180 → out
    assert(out.map(_._1).toSeq === Seq(5L, 4L), s"selection: ${out.toSeq}")
    assert(out.map(_._3).toSeq === Seq(100L, 180L), s"cums: ${out.toSeq}")
    // partitioning-invariant (the prefix-sum contract)
    val reran = Curation.budgetSelect(docs.repartition(5),
      budgetTokens = 150, buckets = 7).collect().map(_.getLong(0))
    assert(reran.toSeq === Seq(5L, 4L))
    assert(Curation.budgetSelect(docs, budgetTokens = 0).count() === 0L)
  }

  test("chunk_documents: overlap windows, tail kept, short doc whole, empty doc none") {
    def words(a: Int, b: Int): String = (a until b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(0, 40)),  // 40 tokens → [0,32) + [24,40)
      (2L, words(0, 10)),  // short → one whole chunk
      (3L, ""),            // token-free → no chunks
      (4L, words(0, 32)),  // exact size → exactly one chunk
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, size = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getString(4)))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq === Seq(
      (1L, 0, 0L, 32), (1L, 1, 24L, 16),
      (2L, 0, 0L, 10),
      (4L, 0, 0L, 32)), s"chunks: ${out.toSeq}")
    // the overlap property itself: consecutive chunks share the 8
    // boundary tokens
    val c0 = out(0)._5.split(" ")
    val c1 = out(1)._5.split(" ")
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq,
      "consecutive chunks must share the overlap window")
    // every token of doc 1 is covered exactly by the union of chunks
    assert((c0 ++ c1.drop(8)).toSeq === (0 until 40).map(i => s"w$i"))
  }

  test("streaming budget admission: spend carries across batches, straddler admitted, then closed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def doc(id: Long, words: Int): StreamDoc =
      StreamDoc(id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        (1 to words).map(i => s"w$i").mkString(" "), "en", "s")
    val input = MemoryStream[StreamDoc](23, spark, None)
    // budget 50 tokens; docs are 30 tokens each → doc A admitted
    // (spend 30), doc B straddles (spend 60 > 50 but budget wasn't
    // exhausted before it), doc C rejected
    val q = Curation.budgetSelectStream(input.toDF(), budgetTokens = 50)
      .writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    try {
      input.addData(doc(1, 30))
      q.processAllAvailable()
      input.addData(doc(2, 30), doc(3, 30))
      q.processAllAvailable()
      val rows = spark.table("budget_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(rows.map(_._1).sorted.toSeq === Seq(1L, 2L),
        s"admitted set wrong: ${rows.toSeq}")
      assert(rows.map(t => t._1 -> t._2).toMap.apply(2L) === 30L)
      assert(rows.map(_._3).max === 60L, s"cumulative spend: ${rows.toSeq}")
      // budget closed: later docs never admitted
      input.addData(doc(4, 1))
      q.processAllAvailable()
      assert(spark.table("budget_out").count() === 2)
    } finally q.stop()
  }

  test("split_assign: exhaustive, ingest-stable, partition-invariant, fractions sane") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.size === docs.count().toInt, "every doc assigned")
    assert(out.values.toSet.subsetOf(Set("train", "val", "test")))
    val n = out.size.toDouble
    val trainFrac = out.values.count(_ == "train") / n
    assert(trainFrac > 0.8 && trainFrac <= 1.0, s"train frac $trainFrac")
    // ingest stability: assignments over HALF the corpus are identical
    // — growing the corpus never reassigns an existing doc
    val half = Curation.splitAssign(docs.filter(col("doc_id") % 2 === 0))
      .collect().map(r => r.getLong(0) -> r.getString(3))
    assert(half.nonEmpty && half.forall { case (id, s) => out(id) == s },
      "corpus growth reassigned an existing doc's split")
    // partition-layout invariance
    val rep = Curation.splitAssign(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(rep === out, "split depends on partition layout")
  }

  test("dedup_cluster_stats: totals conserve, removable matches dedup outcome") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.dedupClusterStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.map(_._3).sum === docs.count(), "docs lost from the histogram")
    out.foreach { case (sz, nc, nd, rem) =>
      assert(nd === sz * nc && rem === (sz - 1) * nc)
    }
    // removable total == docs the exact dedup would drop
    val distinct = docs.select(sha2($"text", 256)).distinct().count()
    assert(out.map(_._4).sum === docs.count() - distinct)
  }

  test("curate_funnel: monotone stages, endpoints match the pipeline") {
    val out = Curation.curateFunnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq("ingest", "lang", "min_tokens",
      "uniq_ratio", "repetition", "exact_dedup"))
    // survivors can only shrink stage to stage
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"funnel grew: $a -> $b")
    }
    assert(out.head._3 === Tables.documents(spark, sf).count())
    // the last stage IS the v2 pipeline's row count (pre-scrub = scrub)
    assert(out.last._3 === Curation.pipelineCurateV2(spark, sf).count(),
      "funnel endpoint diverged from the pipeline it audits")
  }

  test("packStream: ordered replay equals batch packing, replay fence holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val want = Curation.packSequences(Tables.documents(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty)
    val history = Tables.documents(spark, sf).orderBy($"doc_id")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // split mid-corpus so a sequence straddles the trigger boundary
    val (a, b) = history.splitAt(history.length / 2)
    val input = MemoryStream[(Long, String)](32, spark, None)
    val q = Curation.packStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pack_out")
      .outputMode("append").start()
    try {
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      def got = spark.table("pack_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSet === want,
        "doc_id-ordered ingest must reproduce the batch packing exactly")
      val n1 = got.length
      // at-least-once redelivery: the fence must drop the replayed
      // slice — a doc packed twice at two offsets poisons the shards
      input.addData(b.toSeq); q.processAllAvailable()
      assert(got.length === n1, "replayed docs re-packed at new offsets")
    } finally q.stop()
  }

  test("split_leak_audit: reports exactly train docs, catches every exact cross-split dup") {
    val docs = Tables.documents(spark, sf)
    val split = Curation.splitAssign(docs).select($"doc_id", $"split")
    val report = Curation.splitLeakAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val splits = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    report.foreach { case (id, nG, nE) =>
      assert(splits(id) === "train", s"non-train doc $id in the audit")
      assert(nG >= 1 && nE >= 1)
    }
    // completeness floor: an EXACT duplicate pair straddling the
    // boundary (≥ 13 tokens) shares all its grams — must be reported
    val withHash = docs.join(split, "doc_id")
      .filter(size(graft.operators.TextAnalysis.tokens()) >= 13)
      .select($"doc_id", sha2($"text", 256).as("h"), $"split")
    val mustLeak = withHash.filter($"split" === "train").as("t")
      .join(withHash.filter($"split" =!= "train").as("e"), $"t.h" === $"e.h")
      .select($"t.doc_id").distinct().collect().map(_.getLong(0)).toSet
    val reported = report.map(_._1).toSet
    assert(mustLeak.subsetOf(reported),
      s"missed exact cross-split dups: ${mustLeak -- reported}")
  }

  test("lm_buckets: per-lang thirds, head outscores tail, exhaustive") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.lmBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.length === docs.count().toInt, "every doc bucketed")
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length
      val byB = rows.groupBy(_._4).view.mapValues(_.length).toMap
      // rank-third edges: |head| = floor(n/3), |head|+|middle| = floor(2n/3)
      assert(byB.getOrElse("head", 0) === n / 3,
        s"$lang head size ${byB.get("head")} of $n")
      assert(byB.getOrElse("head", 0) + byB.getOrElse("middle", 0) === 2 * n / 3,
        s"$lang head+middle of $n: $byB")
      // every head doc's score >= every tail doc's score within the lang
      val headMin = rows.filter(_._4 == "head").map(_._3)
      val tailMax = rows.filter(_._4 == "tail").map(_._3)
      if (headMin.nonEmpty && tailMax.nonEmpty)
        assert(headMin.min >= tailMax.max, s"$lang head below tail")
    }
  }

  test("contamination report: burned items counted from the eval side, clean items zero") {
    import spark.implicits._
    val leaked = (1 to 14).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"prefix words here $leaked and a suffix"),
      (2L, s"$leaked copied wholesale into another page"),
      (3L, "an entirely clean training document with enough words to " +
        "carry its own plain thirteen gram content safely along"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, s"question stem $leaked answer choices"),
      (101L, "a pristine benchmark item phrased in words the training " +
        "corpus never uses together in any window of thirteen"))
      .toDF("doc_id", "text")
    val out = Curation.contaminationReport(train, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === Set(100L, 101L), "every bench item must report")
    assert(out(100L)._1 === 2L,
      s"both contaminated train docs must count: ${out(100L)}")
    assert(out(100L)._2 >= 2L, "shared-gram count must cover the window")
    assert(out(101L) === ((0L, 0L)), s"clean item not zero: ${out(101L)}")
  }

  test("oversample rare: exact integer factors replicate exactly, cap binds, nothing drops") {
    import spark.implicits._
    // big: 100 docs (factor 1); quarter: 25 docs (sqrt(4) = 2 exactly —
    // the fractional lottery must NOT fire); singleton: 1 doc (sqrt(100)
    // = 10 capped to 4)
    val docs = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 125).map(i => (i.toLong, "quarter")) ++
      Seq((125L, "singleton")))
      .toDF("doc_id", "source")
    val out = Curation.oversampleRare(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySrc = out.groupBy(_._2)
    assert(bySrc("big").forall(_._3 == 1L), "factor-1 source replicated")
    assert(bySrc("big").size === 100)
    assert(bySrc("quarter").forall(_._3 == 2L),
      s"exact factor 2 must give exactly 2 copies: ${bySrc("quarter").take(3).toSeq}")
    assert(bySrc("quarter").size === 50)
    assert(bySrc("singleton").forall(_._3 == 4L), "maxFactor cap not binding")
    assert(bySrc("singleton").size === 4)
    // every doc keeps at least one copy; copy indices are 1..n_copies
    assert(out.map(_._1).distinct.length === 126, "a doc was dropped")
    out.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._4).sorted.sameElements(1L to rows.head._3),
        s"doc $id copy indices broken")
    }
  }

  test("shuffle audit: identity order reads 1, reversal reads -1, a real shuffle reads near 0") {
    import spark.implicits._
    def frame(keys: Seq[Long]): org.apache.spark.sql.DataFrame =
      keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("seq_id", "shuffle_key")
    val n = 101
    val ident = Curation.shuffleAuditOf(frame((0 until n).map(_.toLong))).head()
    assert(ident.getLong(0) == n && ident.getDouble(1) == 1.0,
      s"identity order: $ident")
    val rev = Curation.shuffleAuditOf(
      frame((0 until n).map(i => (n - i).toLong))).head()
    assert(rev.getDouble(1) == -1.0, s"reversal: $rev")
    // driver-side exact recompute of a planted permutation
    val perm = new scala.util.Random(7).shuffle((0 until n).toList)
    val out = Curation.shuffleAuditOf(frame(perm.map(_.toLong))).head()
    val pos = perm.zipWithIndex.sortBy(t => (t._1, t._2)).map(_._2)
      .zipWithIndex.toMap // ingestion index -> shuffled rank
    val sd2 = (0 until n).map { i =>
      val d = i.toLong - pos(i); d * d }.sum.toDouble
    val want = math.rint((1.0 - 6.0 * sd2 /
      (n.toDouble * (n.toDouble * n.toDouble - 1.0))) * 1e6) / 1e6
    assert(out.getDouble(1) == want, s"${out.getDouble(1)} != $want")
    // the real C23 shuffle on the driver corpus decorrelates
    val real = Curation.shuffleAudit(spark, sf).head()
    val nr = real.getLong(0)
    assert(nr > 5, "fixture lost its sequences")
    // null hypothesis SE is 1/sqrt(n-1); 3 SE covers the sf0.001
    // fixture's 14 sequences without ever accepting ingestion order
    assert(math.abs(real.getDouble(1)) < 3.0 / math.sqrt(nr - 1.0),
      s"seeded shuffle failed to decorrelate: $real")
  }

  test("gram memorization: cross-doc template surfaces with its spread, singletons cut") {
    import spark.implicits._
    val boiler = (1 to 13).map(i => s"w$i").mkString(" ") // one exact 13-gram
    val docs = Seq(
      (1L, s"intro one $boiler"),
      (2L, s"different preamble here $boiler"),
      (3L, s"yet another lead $boiler"),
      // doc-internal repetition: the same 13-gram twice in ONE doc
      (4L, s"$boiler filler $boiler"),
      (5L, "totally unique text with no repeats at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Curation.gramMemorizationOf(docs, n = 13, minCount = 2, k = 50)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.contains(boiler), s"template gram missing: ${out.keySet}")
    val (occ, spread) = out(boiler)
    // 3 cross-doc occurrences + 2 in doc 4 = 5, across 4 docs
    assert(occ == 5L && spread == 4L, s"template counts: $occ/$spread")
    // every reported gram repeats; doc 5's singleton grams never appear
    assert(out.values.forall(_._1 >= 2L))
    assert(!out.keySet.exists(_.contains("whatsoever")), "singleton leaked")
  }

  test("length buckets: conservation, exact pad arithmetic, ordered bins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),                       // 3 tokens  -> bin 0 (0-4)
      (2L, (1 to 4).map(_ => "x").mkString(" ")),  // 4  -> bin 0
      (3L, (1 to 5).map(_ => "x").mkString(" ")),  // 5  -> bin 1 (5-9)
      (4L, (1 to 12).map(_ => "x").mkString(" ")), // 12 -> bin 2
      (5L, "")).toDF("doc_id", "text")             // 0  -> bin 0
    val out = Curation.lengthBucketsOf(docs, binTokens = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.map(_._3).sum == 5, "doc conservation")
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq((0L, 5L), (5L, 10L), (10L, 15L)), s"bins: ${out.toSeq}")
    val b0 = out(0)
    assert(b0._3 == 3 && b0._4 == 7 && b0._5 == 3 * 5 - 7,
      s"bin 0 pad arithmetic: $b0")
    out.foreach { b =>
      assert(b._5 == b._2 * b._3 - b._4, s"pad != ceil*n - mass: $b")
      assert(b._6 >= 0.0 && b._6 < 1.0)
      assert(b._6 == math.rint(b._5.toDouble / (b._2 * b._3) * 1e6) / 1e6)
    }
  }

  test("repetition rules: planted 2-gram loop and copy-pasted 5-gram fail, prose passes, token-free vacuous") {
    val docs = Seq(
      // varied prose: every n-gram unique → every top mass is one
      // occurrence, well under the thresholds
      (1L, "the quick brown fox jumps over seven lazy dogs while autumn " +
        "rivers carry golden leaves toward distant quiet villages tonight"),
      // 2-gram loop: "x y" dominates → top2 (and up) fail
      (2L, "x y x y x y x y x y"),
      // copy-pasted 5-gram amid unique filler → dup5 mass 2·26 chars
      (3L, "alpha bravo charlie delta echo " +
        "unrelated filler material spanning several distinct tokens here " +
        "alpha bravo charlie delta echo"),
      (4L, ""),      // token-free: NULL fracs, vacuous pass
      (5L, "solo"))  // one token: no grams at any n, vacuous pass
      .toDF("doc_id", "text")
    val out = Curation.repetitionRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(9), "varied prose passes")
    assert(!out(2L).getBoolean(5) && !out(2L).getBoolean(9),
      "2-gram loop fails top2")
    // doc 2 top2: "x y" cnt 5 × 2 chars = 10 over 10 token chars = 1.0
    assert(out(2L).getDouble(1) === 1.0)
    assert(!out(3L).getBoolean(8) && !out(3L).getBoolean(9),
      "copy-pasted 5-gram fails the dup rule")
    // dup5 mass: 1 duplicated 5-gram, cnt 2 × 26 chars = 52
    val tokChars3 = "alphabravocharliedeltaecho".length * 2 +
      "unrelatedfillermaterialspanningseveraldistincttokenshere".length
    assert(out(3L).getDouble(4) ===
      math.rint(52.0 / tokChars3 * 1e6) / 1e6)
    Seq(4L, 5L).foreach { id =>
      val r = out(id)
      assert(r.isNullAt(1) && r.isNullAt(4) && r.getBoolean(9),
        s"doc $id: no grams → vacuous pass")
    }
  }

  test("curriculum order: length-ranked equal stages, within-stage LCG order, layout-invariant") {
    // token counts 1..8 in scrambled id order → rank follows length
    val docs = (1L to 8L).map(i =>
      (i, Seq.fill(((i * 3) % 8 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.curriculumOrder(docs, stages = 4)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // ranks are 1..8 in (n_tokens, doc_id) order; stages split 2/2/2/2
    assert(rows.map(_._3).sorted.sameElements(1L to 8L))
    rows.foreach { case (_, _, rnk, stage) =>
      assert(stage === ((rnk - 1) * 4 / 8).toInt, s"stage math: $rnk -> $stage")
    }
    val byRank = rows.sortBy(_._3).map(_._2)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
      "rank must be monotone in difficulty")
    // partition-layout invariance: the emitted order is identical
    val again = Curation.curriculumOrder(docs.repartition(7), stages = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(again.toSeq === out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq)
  }

  test("curriculum packing: offsets are the concat-and-cut over the emitted order") {
    val docs = (1L to 9L).map(i =>
      (i, Seq.fill(((i * 5) % 9 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // ground truth: walk C52's emitted order, concatenate, cut at 5
    val order = Curation.curriculumOrder(docs, stages = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var cum = 0L
    val expected = order.map { case (id, n) =>
      val cb = cum; cum += n
      id -> ((cb / 5, cb % 5))
    }.toMap
    val out = Curation.packCurriculum(docs, seqLen = 5, stages = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4)))).toMap
    assert(out === expected, s"pack order diverged from curriculum order")
    // the packer's input order really is stage-major: stage of the
    // doc at offset 0 of seq 0 is stage 0
    val firstDoc = order.head._1
    assert(out(firstDoc) === ((0L, 0L)))
    // the stage-major shard writer: one directory per stage, every
    // stage one file, rows inside each file in packed (seq, offset)
    // order — reading stage=0..k-1 in label order IS the curriculum
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curriculum").toString + "/out"
    Curation.writeCurriculumShards(docs, dir, seqLen = 5, stages = 3)
    val rows = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("stage"), col("seq_id"),
        col("seq_offset"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._5).toSet === (1L to 9L).toSet, "writer lost docs")
    rows.groupBy(_._2).foreach { case (stage, rs) =>
      assert(rs.map(_._1).distinct.size === 1, s"stage $stage spans files")
      assert(rs.map(r => (r._3, r._4)).toSeq ===
        rs.map(r => (r._3, r._4)).sortBy(identity).toSeq,
        s"stage $stage rows not in packed file order")
    }
    // label order ++ in-file order == the packed global order
    val byLabel = rows.sortBy(r => (r._2, r._3, r._4)).map(_._5).toSeq
    val packed = Curation.packCurriculum(docs, seqLen = 5, stages = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(byLabel === packed,
      "concatenating stage shards must reproduce the packed order")
  }

  test("curate on predicted language: admission parity where the classifier is right, mislabeled doc admitted and flagged divergent") {
    val docs = Seq(
      (1L, "s1", "the quick brown fox jumps over a lazy dog near the river bank", "en"),
      (2L, "s1", "many different english words form another perfectly normal sentence here today", "en"),
      (3L, "s2", "der schnelle braune fuchs springt gerade jetzt elegant über den faulen hund", "de"),
      (4L, "s2", "viele verschiedene deutsche wörter bilden heute einen weiteren ganz normalen satz", "de"),
      // a crawl doc with NO usable label: english text, junk label —
      // the labeled gate drops it, the predicted gate must admit it
      (99L, "s3", "the quick brown fox and many english words near another river bank today", "xx")
    ).toDF("doc_id", "source", "text", "lang")
    val labeled = docs.filter($"lang" =!= "xx")
    val model = TextAnalysis.langClassifierModel(labeled,
      labeled.select($"doc_id", $"lang"), nBuckets = 256)
    // precondition: the classifier is right on every well-labeled doc
    // (in-sample, disjoint vocabularies) and calls 99's text english
    val preds = TextAnalysis.langClassifierServe(docs, model).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(id =>
      preds(id) == (if (id <= 2) "en" else "de")), s"preds: $preds")
    assert(preds(99L) === "en", s"mislabeled doc not recovered: $preds")
    val out = Curation.curatePredictedOf(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getString(5), r.getBoolean(6),
        r.getBoolean(7))).toMap
    val labeledOut = Curation.curateV2(docs).collect()
      .map(_.getLong(0)).toSet
    // parity wherever prediction == label
    assert(out.keySet - 99L === labeledOut,
      s"admission diverged where the classifier agreed with the " +
        s"label: ${out.keySet} vs $labeledOut")
    // the recovered doc is admitted, flagged, and not a fallback guess
    assert(out.contains(99L), s"mislabeled doc dropped: ${out.keySet}")
    val (pred99, fb99, div99) = out(99L)
    assert(pred99 === "en" && !fb99 && div99,
      s"divergence not surfaced: ${out(99L)}")
    // agreeing survivors are unflagged
    (out.keySet - 99L).foreach(id =>
      assert(!out(id)._3, s"false divergence flag on $id"))
    // the C8d one-row divergence ledger prices the same facts
    val rep = Curation.curatePredictedReportOf(docs, model).head()
    assert(rep.getLong(0) === 5L, s"quality-pass count: $rep")
    assert(rep.getLong(1) === 4L, s"both-admit count: $rep")
    assert(rep.getLong(2) === 1L, s"pred-only (recovered) count: $rep")
    assert(rep.getLong(3) === 0L, s"label-only (lost) count: $rep")
    assert(rep.getLong(4) === 0L && rep.getLong(5) === 0L,
      s"neither/fallback: $rep")
  }

  test("calibrated sample: degenerate probabilities bind, verdicts consistent, temperature only widens") {
    val scored = ((1L to 400L).map(i => (i, 0.5)) ++
      Seq((901L, 0.0), (902L, 1.0), (903L, 0.25)))
      .toDF("doc_id", "p_keep")
    val out = Curation.calibratedSampleOf(scored).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(!out(901L)._3, "p_keep=0 admitted")
    assert(out(902L)._3, "p_keep=1 rejected")
    out.foreach { case (id, (u, pEff, adm)) =>
      assert(adm === (u < pEff), s"verdict inconsistent for $id") }
    // expected yield: the p=0.5 stratum admits about half (LCG uniform)
    val n = (1L to 400L).count(i => out(i)._3)
    assert(n > 140 && n < 260, s"p=0.5 stratum admitted $n of 400")
    // deterministic replay
    val again = Curation.calibratedSampleOf(scored).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    out.foreach { case (id, (_, _, adm)) =>
      assert(again(id) === adm, s"not deterministic at $id") }
    // the round-6 boundary: a raw uniform in [0.9999995, 1) rounds UP
    // to 1.000000, which a strict cut against p_eff = 1 would reject —
    // the clamp to 0.999999 keeps "p_keep = 1 always admits" exact.
    // Find such a doc_id by scanning the same LCG the kernel uses.
    val boundaryId = spark.range(0L, 50000000L)
      .select($"id",
        (shiftrightunsigned(Curation.shuffleKey($"id", 29L), 32)
          .cast("double") / 4294967296.0).as("raw"))
      .filter($"raw" >= 0.9999995).select($"id").head().getLong(0)
    val bRow = Curation.calibratedSampleOf(
      Seq((boundaryId, 1.0)).toDF("doc_id", "p_keep")).head()
    assert(bRow.getBoolean(4), s"p_keep=1 rejected at round-up u: $bRow")
    assert(bRow.getDouble(2) === 0.999999, s"u not clamped: $bRow")
    // higher temperature can only widen the admitted set (p^(1/T) ≥ p)
    val hot = Curation.calibratedSampleOf(scored, temperature = 4.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    out.foreach { case (id, (_, _, adm)) =>
      if (adm) assert(hot(id), s"temperature shrank the sample at $id") }
    // and the driver entry runs on the corpus with consistent verdicts
    val drv = Curation.calibratedSample(spark, sf).collect()
    assert(drv.nonEmpty)
    drv.foreach { r =>
      assert(r.getBoolean(6) === (r.getDouble(4) < r.getDouble(5)),
        s"driver entry inconsistent: $r") }
    // stateless: the same kernel attaches to a stream unchanged (the
    // E40b property) and reproduces the batch verdicts bit-exactly
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, Double)](208, spark, None)
    val q = Curation.calibratedSampleOf(
        input.toDS().toDF("doc_id", "p_keep"))
      .writeStream.format("memory").queryName("calib_sample_stream")
      .outputMode("append").start()
    try {
      input.addData(scored.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("calib_sample_stream").collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    out.foreach { case (id, (_, _, adm)) =>
      assert(streamed(id) === adm, s"stream/batch diverged at $id") }
  }

  test("calibrated budget fill: highest p_keep funded first, boundary doc admitted, budget binds") {
    // four 5-token docs with distinct probabilities
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "mu nu xi omicron pi"),
      (4L, "rho sigma tau upsilon phi"))
      .toDF("doc_id", "text")
    val pk = Seq((1L, 0.2), (2L, 0.9), (3L, 0.6), (4L, 0.95))
      .toDF("doc_id", "p_keep")
    // budget 12 tokens: fill order 4 (.95), 2 (.9), 3 (.6), 1 (.2) —
    // doc 3 STARTS inside the budget (cum-before = 10 < 12) and is
    // admitted (the C28 boundary rule); doc 1 starts at 15 and is not
    val got = Curation.budgetSelectCalibratedOf(docs, pk,
        budgetTokens = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(4L, 2L, 3L),
      s"fill order must follow p_keep desc: ${got.toSeq}")
    assert(got.map(_._4).toSeq === Seq(5L, 10L, 15L),
      s"cumulative tokens: ${got.toSeq}")
    // q6 is the floored probability — the cut point is interpretable
    assert(got.map(_._3).toSeq === Seq(950000L, 900000L, 600000L))
    // zero budget admits nothing
    assert(Curation.budgetSelectCalibratedOf(docs, pk, 0L).count() === 0)
  }

  test("shard manifest: round-trip verify passes, a deleted shard fails by name, totals conserve docs") {
    val docs = (1L to 40L)
      .map(i => (i, (1 to 12).map(j => s"w$i$j").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shardspec").toString
    Curation.writePackedShards(docs, dir, seqLen = 5, shards = 4)
    val m = Curation.shardManifest(spark, dir).localCheckpoint(true)
    Curation.verifyShards(spark, dir, m) // clean round trip
    val rows = m.collect()
    assert(rows.map(_.getInt(0)).distinct.length === rows.length,
      "duplicate shard index in manifest")
    assert(rows.map(_.getLong(1)).sum === 40L,
      s"manifest must conserve docs: ${rows.toSeq}")
    assert(rows.map(_.getLong(2)).sum === 40L * 12,
      s"manifest must conserve tokens: ${rows.toSeq}")
    // tamper: drop one shard file — verify fails naming the shard set
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head.delete()
    val ex = intercept[IllegalArgumentException] {
      Curation.verifyShards(spark, dir, m)
    }
    assert(ex.getMessage.contains("missing shards"), ex.getMessage)
    // the driver entry certifies (verify runs inside) on the corpus
    val drv = Curation.shardManifestQuery(spark, sf).collect()
    assert(drv.nonEmpty)
  }

  test("production curate chain: every wiring move fires — normalize dedup, label recovery, code routing, spam drop") {
    val en1 = "the quick brown fox jumps over a lazy dog near the river bank"
    val en2 = "many different english words form another perfectly normal sentence here today"
    val de1 = "der schnelle braune fuchs springt gerade jetzt elegant über den faulen hund"
    val de2 = "viele verschiedene deutsche wörter bilden heute einen weiteren ganz normalen satz"
    val codeDoc = (1 to 10).map(_ => "  x = x + 1;").mkString("\n")
    val docs = Seq(
      (1L, "s1", en1, "en"),
      (2L, "s1", en2, "en"),
      (3L, "s2", de1, "de"),
      (4L, "s2", de2, "de"),
      // case/whitespace variant of doc 1 — normalization must
      // collapse the pair to ONE survivor (keep-min: doc 1)
      (5L, "s1", en1.toUpperCase + "  ", "en"),
      // english text with a junk label — predicted gate recovers it
      (6L, "s3", "the quick brown fox and many english words near another river bank today", "xx"),
      // repeated-line code — the routed gate keeps it (label en)
      (7L, "s4", codeDoc, "en"),
      // prose spam — dropped everywhere
      (8L, "s1", "spam ham spam ham spam ham spam ham spam ham spam ham", "en"))
      .toDF("doc_id", "source", "text", "lang")
    val labeled = docs.filter($"lang" =!= "xx" && $"doc_id" =!= 7L)
    val model = TextAnalysis.langClassifierModel(labeled,
      labeled.select($"doc_id", $"lang"), nBuckets = 256)
    // columns: doc_id, source, n_tokens, lang_pred, used_fallback,
    // n_pii, clean_text, route, gate_divergent
    val out = Curation.curateProdOf(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getString(7), r.getString(3),
        r.getBoolean(8))).toMap
    // survivors: 1 (5 collapsed into it), 2, 3, 4, 6 (recovered),
    // 7 (code-routed); spam 8 gone
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 6L, 7L),
      s"prod survivors: ${out.keySet}")
    assert(out(7L)._1 === "code", s"code doc route: ${out(7L)}")
    assert(out(6L)._2 === "en" && out(6L)._3,
      s"recovered doc must be flagged divergent: ${out(6L)}")
    (out.keySet - 6L).foreach(id =>
      assert(!out(id)._3, s"false divergence on $id: ${out(id)}"))
  }

  test("crawl curate chain: extraction is stage -1 — chrome never reaches the gates, survivors match the prod chain on the bare bodies") {
    val en1 = "the quick brown fox jumps over a lazy dog near the river bank"
    val en2 = "many different english words form another perfectly normal sentence here today"
    def wrap(body: String) =
      "<html><head><script>var tracker = 9;</script></head><body>" +
        s"<nav>Home | About | Login</nav><p>$body</p>" +
        "<footer>Copyright 2026 Corp</footer></body></html>"
    val crawled = Seq(
      (1L, "s1", wrap(en1), "en"),
      (2L, "s1", wrap(en2), "en"),
      // chrome-only page: extraction leaves nothing, the gates drop it
      (3L, "s2",
        "<html><body><nav>Home | About | Login</nav></body></html>", "en"))
      .toDF("doc_id", "source", "text", "lang")
    val plain = Seq((1L, "s1", en1, "en"), (2L, "s1", en2, "en"))
      .toDF("doc_id", "source", "text", "lang")
    val model = TextAnalysis.langClassifierModel(plain,
      plain.select($"doc_id", $"lang"), nBuckets = 256)
    val out = Curation.curateCrawlOf(crawled, model).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(out.keySet === Set(1L, 2L), s"crawl survivors: ${out.keySet}")
    // nothing from the template — script payload, nav, footer — may
    // reach a survivor's training text
    out.values.foreach { t =>
      Seq("tracker", "home", "copyright").foreach(c =>
        assert(!t.contains(c), s"chrome '$c' leaked into: $t")) }
    // and the crawl chain lands EXACTLY where the prod chain lands on
    // the pre-extracted bodies — extraction is a front door, not a
    // different pipeline
    val prod = Curation.curateProdOf(plain, model).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(out === prod, s"crawl vs prod drifted: $out vs $prod")
  }

  test("robust crawl chain: clean crawl row-identical to C6e, quarantined pages excluded — never curated, never silently dropped") {
    val en1 = "the quick brown fox jumps over a lazy dog near the river bank"
    val en2 = "many different english words form another perfectly normal sentence here today"
    val en3 = "yet another long clean english sentence keeps the corpus honest for gates"
    def wrap(body: String) =
      "<html><head><script>var tracker = 9;</script></head><body>" +
        s"<nav>Home | About | Login</nav><p>$body</p>" +
        "<footer>Copyright 2026 Corp</footer></body></html>"
    val clean = Seq(
      (1L, "s1", wrap(en1), "en"), (2L, "s1", wrap(en2), "en"))
      .toDF("doc_id", "source", "text", "lang")
    val plain = Seq((1L, "s1", en1, "en"), (2L, "s1", en2, "en"))
      .toDF("doc_id", "source", "text", "lang")
    val model = TextAnalysis.langClassifierModel(plain,
      plain.select($"doc_id", $"lang"), nBuckets = 256)
    // 1. on a well-formed crawl the robust chain is ROW-IDENTICAL to
    //    C6e (E42c clean-page byte-parity composed through the chain)
    val base = Curation.curateCrawlOf(clean, model).collect().toSeq
    val robust = Curation.curateCrawlRobustOf(clean, model).collect().toSeq
    assert(robust === base, s"robust crawl drifted on clean pages:\n$robust\nvs\n$base")
    // 2. a page with an unclosed script would leak code into the gates
    //    — the robust chain excludes it, C6e would have curated the leak
    val broken = clean.union(Seq(
      (3L, "s2", "<body><p>" + en3 + "</p><script>var leak = " +
        "function() { return 42; };", "en"))
      .toDF("doc_id", "source", "text", "lang"))
    val out = Curation.curateCrawlRobustOf(broken, model).collect()
      .map(_.getLong(0)).toSet
    assert(out === Set(1L, 2L),
      s"quarantined page must not be curated: $out")
    // 3. ...and the ledger accounts for it: the driver report's flag
    //    columns are the chain's own exclusion flags (same kernel)
    val flags = TextAnalysis.htmlExtractRobustCols(broken, "text")
      .select($"doc_id", $"quarantine").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags === Map(1L -> false, 2L -> false, 3L -> true),
      s"flag kernel drifted: $flags")
  }

  test("certified chain: the dumped manifest covers the production survivors exactly, verify runs inside the entry, replay identical") {
    val m = Curation.pipelineCurateCertified(spark, sf).collect()
    assert(m.nonEmpty, "no shards manifested")
    val packedRows = m.map(_.getLong(1)).sum
    val survivors = Curation.pipelineCurateProd(spark, sf).count()
    assert(packedRows === survivors,
      s"packed rows $packedRows != production survivors $survivors")
    // repeated call serves the staged artifact, bit-identical (and the
    // verify pass inside it ran again without firing)
    val again = Curation.pipelineCurateCertified(spark, sf).collect()
    assert(again.map(_.toString).toSeq === m.map(_.toString).toSeq,
      "certified manifest not stable across calls")
  }

  test("routed curation stream: code routed at ingest, verdicts match the batch chain on replayed history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val codeDoc = (1 to 10).map(_ => "  y = y * 2;").mkString("\n")
    val prose = "a genuinely varied english sentence with many distinct interesting words flowing along nicely today"
    val spam = "spam ham spam ham spam ham spam ham spam ham spam ham"
    val rows = Seq(
      (11L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "s1", codeDoc, "en"),
      (12L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "s1", prose, "en"),
      (13L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), "s1", spam, "en"),
      // exact dup of 11 within the watermark horizon — dropped
      (14L, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), "s1", codeDoc, "en"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String, String)](209, spark, None)
    val q = Curation.curateRoutedStream(
        input.toDS().toDF("doc_id", "ts", "source", "text", "lang"))
      .writeStream.format("memory").queryName("routed_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("routed_stream").collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(live.keySet === Set(11L, 12L),
      s"stream survivors: ${live.keySet}")
    assert(live(11L) === "code" && live(12L) === "prose", s"routes: $live")
    // batch parity on the same slice (route + admission)
    val batch = Curation.curateRoutedOf(
        rows.toDF("doc_id", "ts", "source", "text", "lang")
          .drop("ts"))
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(batch.keySet === live.keySet &&
      live.forall { case (k, v) => batch(k) == v },
      s"stream/batch routed divergence: $live vs $batch")
  }

  test("routed curation: code survives the prose repetition gates, prose admission bit-identical to v2") {
    val codeDoc = (1 to 10).map(_ => "  x = x + 1;").mkString("\n")
    val prose = "a genuinely varied english sentence with many distinct " +
      "interesting words flowing along nicely today"
    val spam = "spam ham spam ham spam ham spam ham spam ham spam ham"
    val docs = Seq(
      (1L, "s1", codeDoc, "en"),   // low uniq + high dup — code route
      (2L, "s1", prose, "en"),     // clean prose — both chains keep
      (3L, "s1", spam, "en"))      // prose spam — both chains drop
      .toDF("doc_id", "source", "text", "lang")
    val routed = Curation.curateRoutedOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(routed.keySet === Set(1L, 2L),
      s"routed survivors: ${routed.keySet}")
    assert(routed(1L) === "code" && routed(2L) === "prose",
      s"routes: $routed")
    // v2 drops the code doc (low uniq ratio) and the spam alike
    val v2 = Curation.curateV2(docs).collect().map(_.getLong(0)).toSet
    assert(v2 === Set(2L), s"v2 survivors: $v2")
    // prose rows are bit-identical between the chains
    val rv2 = Curation.curateV2(docs).filter(col("doc_id") === 2L).head()
    val rrt = Curation.curateRoutedOf(docs)
      .filter(col("doc_id") === 2L).head()
    Seq(0, 1, 2).foreach(i => assert(rv2.get(i) === rrt.get(i)))
    assert(rv2.getAs[Long]("n_pii") === rrt.getAs[Long]("n_pii"))
    assert(rv2.getAs[String]("clean_text") === rrt.getAs[String]("clean_text"))
  }
}

/** Top-level so spark.implicits can derive its Encoder. */
case class StreamDoc(doc_id: Long, ts: java.sql.Timestamp,
    text: String, lang: String, source: String)
