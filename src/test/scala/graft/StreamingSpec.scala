package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming sessionize: gap splits sessions, watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = in.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = Streams.sessionize(events, gapMinutes = 10, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // user 7: two events 5 min apart (one session), then a 30-min gap
      in.addData((1L, ts(0), 7L, "click", 1.0), (2L, ts(5), 7L, "click", 2.0))
      q.processAllAvailable()
      in.addData((3L, ts(35), 7L, "click", 4.0))
      q.processAllAvailable()
      // push watermark far forward so the second session also closes
      in.addData((4L, Timestamp.valueOf("2024-01-01 12:00:00"), 8L, "click", 0.0))
      q.processAllAvailable()

      val sessions = spark.table("sessions_out")
        .where($"user_id" === 7L)
        .select("n_events", "sum_value").as[(Long, Double)].collect().toSet
      assert(sessions == Set((2L, 3.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("streaming termCounts: incremental counts converge to the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF.toDF("doc_id", "text")
    // Update mode, matching the operator's documented contract: each
    // micro-batch emits only the groups it changed, so the memory sink
    // accumulates one row per (group, update) and the LATEST update per
    // group (counts only grow → max) is the converged state
    val q = Streams.termCounts(docs)
      .writeStream.format("memory").queryName("tc_out")
      .outputMode("update").start()
    try {
      in.addData((1L, "the cat sat"), (2L, "the dog"))
      q.processAllAvailable()
      // a later micro-batch ADDS to existing groups, not replaces them
      in.addData((1L, "the cat again"))
      q.processAllAvailable()
      val updates = spark.table("tc_out")
      // batch 2 re-emitted ONLY the doc-1 groups it touched
      assert(updates.count() > updates.select("term", "doc_id").distinct().count())
      val got = updates
        .groupBy("term", "doc_id").agg(max("cnt").as("cnt"))
        .select("term", "doc_id", "cnt").as[(String, Long, Long)].collect().toSet
      val batch = graft.operators.Tfidf.termCounts(
        graft.operators.Tfidf.tokenizePortable(Seq(
          (1L, "the cat sat"), (1L, "the cat again"), (2L, "the dog"))
          .toDF("doc_id", "text")))
        .as[(String, Long, Long)].collect().toSet
      assert(got == batch)
      assert(got.contains(("the", 1L, 2L)) && got.contains(("cat", 1L, 2L)))
    } finally q.stop()
  }

  test("streamingDecontaminate: zero false negatives vs the exact batch check") {
    // benchmark = docs 0 and 53 of a small corpus; train = the rest
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (53L, "catalyst optimizer rules rewrite logical plans before execution"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // full leak
      (2L, "catalyst optimizer rules rewrite logical plans sometimes"), // partial
      (3L, "completely unrelated text about embeddings and vector search"),
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      graft.operators.Curation.textTokenArray.as("tokens"))
    val got = Streams.streamingDecontaminate(
      docs.where($"doc_id" =!= 0L && $"doc_id" =!= 53L), toks.where($"doc_id" === 0L || $"doc_id" === 53L))
      .select("doc_id", "n_grams", "n_bloom_hits", "contaminated")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val exact = graft.operators.Curation.decontaminate(
      docs.where($"doc_id" =!= 0L && $"doc_id" =!= 53L),
      docs.where($"doc_id" === 0L || $"doc_id" === 53L))
      .select("doc_id", "n_overlap", "n_grams", "contaminated")
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == exact.keySet)
    for ((id, e) <- exact) {
      // same gram universe, hits can only over-count (Bloom fp), never miss
      assert(got(id)._2 == e._3, s"gram count differs for doc $id")
      assert(got(id)._3 >= e._2, s"bloom missed an exact hit for doc $id")
      if (e._4 == 1) assert(got(id)._4 == 1L, s"exact-contaminated doc $id unflagged")
    }
    // the fully-leaked doc is flagged, the unrelated doc has zero hits
    assert(got(1L)._4 == 1L && got(3L)._3 == 0L)
  }

  test("streamingExactSubstrFlag: zero false negatives vs the exact window set") {
    // corpus with a known 12-token duplicated sentence between docs 1/2
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq(
      (1L, shared + " one unique tail here"),
      (2L, "prefix words first then " + shared),
      (3L, "nothing duplicated in this document at all whatsoever truly")
    ).toDF("doc_id", "text")
    val toks = corpus.select(col("doc_id"),
      graft.operators.Curation.textTokenArray.as("tokens"))
    val dupWindows = graft.operators.ExactSubstr.duplicateWindowsFromTokens(toks, 12)
    assert(dupWindows.count() > 0)
    // arriving docs: a full re-leak, a partial overlap shorter than 12
    // tokens (must NOT hit), and clean text
    val incoming = Seq(
      (10L, "intro " + shared + " outro"),
      (11L, "alpha beta gamma delta epsilon zeta only six shared tokens here now"),
      (12L, "completely novel content with no duplicated windows anywhere at all today right")
    ).toDF("doc_id", "text")
    val got = Streams.streamingExactSubstrFlag(incoming, dupWindows, n = 12)
      .as[(Long, Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    // exact window membership (no Bloom) as the reference
    val dupGrams = dupWindows.select("gram").distinct().as[String].collect().toSet
    val incToks = incoming.select(col("doc_id"),
      graft.operators.Curation.textTokenArray.as("tokens"))
      .as[(Long, Seq[String])].collect()
    for ((id, ts) <- incToks) {
      val wins = if (ts.length >= 12) ts.sliding(12).map(_.mkString(" ")).toSeq else Seq()
      val exactHits = wins.count(dupGrams)
      assert(got(id)._2 == wins.size.toLong, s"window count for doc $id")
      // Bloom can only over-count, never miss
      assert(got(id)._3 >= exactHits, s"bloom missed a true dup window for doc $id")
    }
    assert(got(10L)._5 == 1L, "full re-leak must flag")
    assert(got(12L)._3 == 0L && got(12L)._5 == 0L, "clean doc must not hit")
    // doc 11 shares only 6 tokens — no 12-window can be duplicated
    assert(got(11L)._3 == 0L)
  }

  test("streamingExactSubstrFlag with an EMPTY index scores zero hits, never crashes") {
    val noDups = Seq((1L, "every word here is entirely unique today friends"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.Curation.textTokenArray.as("tokens"))
    val emptyIndex = graft.operators.ExactSubstr.duplicateWindowsFromTokens(noDups, 3)
    assert(emptyIndex.count() == 0)
    // bloom aggregate over zero rows yields null -> the zero-hit path
    assert(Streams.dupWindowBloom(emptyIndex, 3) == null)
    val incoming = Seq((9L, "any arriving text at all scores clean against nothing"))
      .toDF("doc_id", "text")
    val row = Streams.streamingExactSubstrFlag(incoming, emptyIndex, n = 3)
      .as[(Long, Long, Long, Double, Long)].head()
    assert(row._2 > 0 && row._3 == 0L && row._5 == 0L)
  }

  test("streamingExactSubstrFlag runs live: stateless per-row gate") {
    implicit val sqlCtx = spark.sqlContext
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq((1L, shared + " tail"), (2L, "head " + shared))
      .toDF("doc_id", "text")
    val toks = corpus.select(col("doc_id"),
      graft.operators.Curation.textTokenArray.as("tokens"))
    val dupWindows = graft.operators.ExactSubstr.duplicateWindowsFromTokens(toks, 12)
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingExactSubstrFlag(
        in.toDF.toDF("doc_id", "text"), dupWindows, n = 12)
      .writeStream.format("memory").queryName("xsub_out")
      .outputMode("append").start()
    try {
      in.addData((5L, "x " + shared + " y"),
        (6L, "entirely fresh words that never appeared in the corpus before now"))
      q.processAllAvailable()
      val rows = spark.table("xsub_out")
        .select("doc_id", "flagged").as[(Long, Long)].collect().toMap
      assert(rows == Map(5L -> 1L, 6L -> 0L))
      // append mode, no watermark: the plan is stateless per-row
    } finally q.stop()
  }

  test("index refresh: rows before/after a rebuild score against old/new snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val gramA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val gramB = "one two three four five six seven eight nine ten eleven twelve"
    def bloomFor(texts: Seq[String]): Array[Byte] = {
      val toks = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("doc_id"), graft.operators.Curation.textTokenArray.as("tokens"))
      Streams.dupWindowBloom(
        graft.operators.ExactSubstr.duplicateWindowsFromTokens(toks, 12), 12)
    }
    // snapshot 1: only gramA is corpus-duplicated
    val bloom1 = bloomFor(Seq(gramA + " tail", "head " + gramA))
    // snapshot 2 (after a corpus drop + index rebuild): gramB too
    val bloom2 = bloomFor(Seq(gramA + " tail", "head " + gramA,
      gramB + " tail", "head " + gramB))
    @volatile var version = 1L
    @volatile var stored = bloom1
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.exactSubstrGateWithRefresh(
      in.toDF.toDF("doc_id", "text"),
      currentVersion = () => version,
      loadModel = () => { loads.incrementAndGet(); stored },
      n = 12) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "flagged", "index_version")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      ()
    }
    try {
      in.addData((10L, "x " + gramA + " y"), (11L, "x " + gramB + " y"))
      q.processAllAvailable()
      // snapshot 1 serves: A flagged, B invisible to the old index
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L)))
      assert(loads.get == 1, "unchanged version must not reload the model")
      // batch-tier rebuild lands: new snapshot + version bump
      stored = bloom2
      version = 2L
      in.addData((20L, "x " + gramA + " y"), (21L, "x " + gramB + " y"))
      q.processAllAvailable()
      // rows after the rebuild see the NEW index (B now flagged); the
      // already-emitted rows keep their old-snapshot verdicts and stamp
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L),
        (20L, 1L, 2L), (21L, 1L, 2L)))
      assert(loads.get == 2, "exactly one reload per version change")
      // an unchanged version on a later batch still doesn't reload
      in.addData((30L, "nothing duplicated in this entirely fresh sentence appears anywhere"))
      q.processAllAvailable()
      assert(loads.get == 2)
      assert(buf.exists(r => r._1 == 30L && r._2 == 0L && r._3 == 2L))
    } finally q.stop()
  }

  test("decon gate refresh: a benchmark re-release reaches the running stream") {
    implicit val sqlCtx = spark.sqlContext
    def bloomFor(texts: Seq[String]): Array[Byte] = {
      val toks = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("doc_id"), graft.operators.Curation.textTokenArray.as("tokens"))
      graft.operators.Curation.benchBloomBytes(toks, 3, 1L << 20)
    }
    val benchA = "the quick brown fox jumps over the lazy dog tonight"
    val benchB = "entirely different benchmark sentence about catalyst planning rules"
    val bloom1 = bloomFor(Seq(benchA))
    val bloom2 = bloomFor(Seq(benchA, benchB))
    @volatile var version = 1L
    @volatile var stored = bloom1
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.deconGateWithRefresh(
      in.toDF.toDF("doc_id", "text"),
      currentVersion = () => version,
      loadModel = () => stored,
      flagRatio = 0.2) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "contaminated", "index_version")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      ()
    }
    try {
      in.addData((10L, benchA), (11L, benchB))
      q.processAllAvailable()
      // suite v1: only benchA leaks
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L)))
      // benchmark re-release lands batch-side
      stored = bloom2; version = 2L
      in.addData((20L, benchA), (21L, benchB))
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L),
        (20L, 1L, 2L), (21L, 1L, 2L)))
    } finally q.stop()
  }

  test("classifier refresh: a batch-side retrain reaches the running stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QualityClassifier
    val k = QualityClassifier.FeatureNames.size
    // constant models (zero feature weights): score = sigmoid(intercept),
    // so the swap is visible as a score change on identical input text
    def constModel(b: Double) = QualityClassifier.Model(
      b, Array.fill(k)(0.0), Array.fill(k)(0.0), Array.fill(k)(1.0))
    def sigmoid9(z: Double): Double =
      java.math.BigDecimal.valueOf(1.0 / (1.0 + math.exp(-z)))
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    @volatile var version = 1L
    @volatile var stored = constModel(-2.0)
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.classifierScoreWithRefresh(
      in.toDF.toDF("doc_id", "text"),
      currentVersion = () => version,
      loadModel = () => { loads.incrementAndGet(); stored }) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "score", "index_version")
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      }
      ()
    }
    try {
      in.addData((1L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set((1L, sigmoid9(-2.0), 1L)))
      assert(loads.get == 1, "unchanged version must not reload the model")
      // batch-tier retrain lands: new weights + version bump
      stored = constModel(2.0); version = 2L
      in.addData((2L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      // the same text scores differently under the new model, stamped v2
      assert(buf.synchronized(buf.toSet) == Set((1L, sigmoid9(-2.0), 1L), (2L, sigmoid9(2.0), 2L)))
      assert(loads.get == 2, "exactly one reload per version change")
    } finally q.stop()
  }

  test("streamingDecontaminate runs live: per-row gate, batch parity, no state") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.Curation.textTokenArray.as("tokens"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingDecontaminate(in.toDF.toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "nothing in common with anything benchmarked here today"))
      q.processAllAvailable()
      val rows = spark.table("decon_out")
        .select("doc_id", "contaminated").as[(Long, Long)].collect().toMap
      assert(rows == Map(1L -> 1L, 2L -> 0L))
      // append mode with no watermark proves the plan is stateless per-row
      // (a streaming aggregation would have demanded update/complete mode)
    } finally q.stop()
  }

  test("rateDocs: rate-limited source feeds the suite; batch-size exact, deterministic text") {
    // rate-micro-batch: EXACTLY rowsPerBatch rows per micro-batch — the
    // deterministic twin of the wall-clock rate source, same schema and
    // throttling contract
    val docs = Streams.rateDocs(spark, perBatch = Some(15))
    assert(docs.isStreaming)
    // a rate source ALWAYS has more data (processAllAvailable would never
    // return, and Trigger.Once ignores the per-batch limit): poll the sink
    // until at least one throttled batch committed, then stop — the memory
    // table then holds ONLY fully committed batches
    val q = Streams.termCounts(docs)
      .writeStream.format("memory").queryName("rate_tc_out")
      .outputMode("update").start()
    try {
      val deadline = System.currentTimeMillis + 120000
      while (spark.table("rate_tc_out").isEmpty &&
          System.currentTimeMillis < deadline)
        Thread.sleep(250)
    } finally q.stop()
    val updates = spark.table("rate_tc_out")
      .groupBy("term", "doc_id").agg(max("cnt").as("cnt"))
    val nDocs = updates.select("doc_id").distinct().count()
    // whole batches only; doc_ids are the rate values 0..n
    assert(nDocs >= 15 && nDocs % 15 == 0, s"expected k*15 docs, got $nDocs")
    // the throttled stream's counts match the batch recompute of the
    // same deterministic documents — the source adds rate control, not
    // different data
    val ids = updates.select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(ids == (0L until nDocs).toSeq)
    val batchDocs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(i =>
        concat(lit("w"), translate(
          pmod(col("id") * 31 + lit(i * 7), lit(50)).cast("string"),
          "0123456789", "abcdefghij"))): _*)
        .as("text"))
    val batch = graft.operators.Tfidf.termCounts(
      graft.operators.Tfidf.tokenizePortable(batchDocs))
      .select("term", "doc_id", "cnt").as[(String, Long, Long)].collect().toSet
    val got = updates.select("term", "doc_id", "cnt")
      .as[(String, Long, Long)].collect().toSet
    assert(got == batch)
  }

  test("windowed type counts aggregate per tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = in.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.windowedTypeCounts(events, windowLen = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wins_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(1), 1L, "click", 1.0), (2L, ts(2), 2L, "click", 2.0),
        (3L, ts(40), 1L, "view", 5.0))
      q.processAllAvailable()
      in.addData((4L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val wins = spark.table("wins_out")
        .select("event_type", "n", "sum_value").as[(String, Long, Double)].collect().toSet
      assert(wins.contains(("click", 2L, 3.0)))
      assert(wins.contains(("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-static join enriches events with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val events = in.toDF.toDF("event_id", "cust_id")
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("c_id", "tier")
    val q = Streams.enrichWithDim(events, dim, "cust_id", "c_id")
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      in.addData((10L, 1L), (11L, 2L), (12L, 99L))
      q.processAllAvailable()
      val rows = spark.table("enriched_out")
        .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
      assert(rows(10L).contains("GOLD"))
      assert(rows(11L).contains("SILVER"))
      assert(rows(12L).isEmpty) // unmatched key survives the left join
    } finally q.stop()
  }

  test("foreachBatch sink writes each micro-batch to parquet") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF.toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      in.addData((3L, 3.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out").count() == 3)
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF.toDF("doc_id", "ts", "text")
    val q = Streams.streamingDedup(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "same content here"),
        (2L, ts(1), "SAME   content here"),   // dup modulo case/whitespace
        (3L, ts(2), "different content entirely"))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(kept.size == 2 && kept.contains(3L))
      assert(kept.intersect(Set(1L, 2L)).size == 1)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time bound, evictable state") {
    implicit val sqlCtx = spark.sqlContext
    val inP = MemoryStream[(Long, Timestamp, Long)]
    val inE = MemoryStream[(Long, Timestamp, Long)]
    val pur = inP.toDF.toDF("p_id", "p_ts", "user_id").withWatermark("p_ts", "0 seconds")
    val err = inE.toDF.toDF("e_id", "e_ts", "e_user").withWatermark("e_ts", "0 seconds")
    val q = Streams.intervalJoin(pur, err, "user_id", "e_user", "p_ts", "e_ts")
      .select("p_id", "e_id")
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    try {
      inP.addData((1L, ts(10), 7L))
      inE.addData((100L, ts(15), 7L),  // within 10 min → match
        (101L, ts(40), 7L),            // outside bound → no match
        (102L, ts(15), 8L))            // other user → no match
      q.processAllAvailable()
      val got = spark.table("ivj_out").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L)))
    } finally q.stop()
  }

  test("foreachBatch parquet sink writes idempotent batch_id partitions") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = Streams.parquetSink(in.toDF.toDF("id", "payload"), out, ckpt)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      // batch_id surfaces as a partition column readable by any batch job
      assert(back.columns.contains("batch_id"))
      assert(back.select("batch_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("near-dup store flags later docs against earlier ones (batch-executed)") {
    // batch execution of the SAME stateful plan (the registered
    // streams_near_dups_batch query); a live-stream run adds only the state
    // store + timeout eviction driven by the micro-batch engine. Kept in
    // batch mode here: ProcessingTimeTimeout makes the engine schedule
    // continuous no-data batches, which turns a MemoryStream test into a
    // busy-loop (observed: state-store maintenance pegging the CPU).
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    val docs = Seq(
      (1L, boiler),
      (2L, "totally unrelated payload with different words throughout"),
      (3L, boiler + " tail")).toDF("doc_id", "text")
    val hits = Streams.streamingNearDups(docs, threshold = 0.5)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(hits.contains((3L, 1L)), s"expected (3,1) hit, got $hits")
    assert(!hits.exists(h => h._1 == 2L || h._2 == 2L))
  }

  test("nearDupsBatch == streamingNearDups batch mode (capped-bucket join spelling)") {
    // fixture engineered so the cap BITES: maxBucket = 2 with four
    // IDENTICAL docs (identical signatures → identical buckets) means
    // every bucket stores {1, 2} and docs 3/4 compare against those two
    // only, never against each other — both spellings must agree on
    // exactly that, band for band, estimate for estimate
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    val docs = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler),
      (5L, "totally unrelated payload with different words throughout"),
      (6L, boiler + " with an extra divergent tail of several words"))
      .toDF("doc_id", "text")
    val got = Streams.nearDupsBatch(docs, threshold = 0.5, maxBucket = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    val expected = Streams.streamingNearDups(docs, threshold = 0.5, maxBucket = 2)
      .collect().map(h => (h.doc_id, h.dup_of, h.band, h.jaccard_est)).toSet
    assert(got == expected && got.nonEmpty)
    // the cap genuinely bit: 3 and 4 are never stored (1 and 2 fill every
    // bucket they share), so nothing ever dups against them...
    assert(!got.exists(_._2 >= 3L))
    assert(got.exists(h => h._1 == 4L && h._2 == 1L))
    assert(!got.exists(h => h._1 == 5L || h._2 == 5L))
    // ...while the uncapped run DOES pair (4, 3) — the cap changes output
    // identically in both spellings, not just in this one
    val uncapped = Streams.nearDupsBatch(docs, threshold = 0.5, maxBucket = 64)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((4L, 3L)))
  }

  test("near-dup operators never pair texts shorter than one shingle") {
    // after canonicalization "ab", "  " and "xyz" have no 5-byte window;
    // signing them would give all three the same all-empty signature and
    // pair them at Jaccard 1.0 in every band
    val sentence = "the quick brown fox jumps over the lazy dog and keeps jumping"
    val texts = Seq((1L, "ab"), (2L, "  "), (3L, "xyz"), (4L, sentence))
    val docs = texts.toDF("doc_id", "text")
    val timed = texts.map { case (id, t) => (id, ts(id.toInt), t) }.toDF("doc_id", "ts", "text")
    val short = Set(1L, 2L, 3L)
    def touchesShort(a: Long, b: Long) = short(a) || short(b)
    val batch = Streams.nearDupsBatch(docs, threshold = 0.5)
      .select("doc_id", "dup_of").as[(Long, Long)].collect()
    assert(!batch.exists((touchesShort _).tupled), batch.toSeq)
    val store = Streams.streamingNearDups(docs, threshold = 0.5)
      .collect().map(h => (h.doc_id, h.dup_of))
    assert(!store.exists((touchesShort _).tupled), store.toSeq)
    val joined = Streams.nearDupPairsJoin(timed, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(!joined.exists((touchesShort _).tupled), joined.toSeq)
    // the event-time store needs a watermark, so it runs as a stream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.streamingNearDupsEventTime(in.toDF.toDF("doc_id", "ts", "text"),
        threshold = 0.5, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("short_docs_out")
      .outputMode("append").start()
    try {
      in.addData(texts.map { case (id, t) => (id, ts(id.toInt), t) })
      q.processAllAvailable()
      val eventTime = spark.table("short_docs_out")
        .select("doc_id", "dup_of").as[(Long, Long)].collect()
      assert(!eventTime.exists((touchesShort _).tupled), eventTime.toSeq)
    } finally q.stop()
  }

  test("stream-stream near-dup self-join pairs in-corridor docs, excludes out-of-horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF.toDF("doc_id", "ts", "text")
    val textX = "the quick brown fox jumps over the lazy dog and keeps jumping " * 2
    val q = Streams.nearDupPairsJoin(docs, threshold = 0.5,
        watermarkDelay = "0 seconds", horizon = "1 hour")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), textX))
      q.processAllAvailable()
      // 5 min later, near-identical: inside the ±1 h corridor → pair
      in.addData((2L, ts(5), textX))
      q.processAllAvailable()
      // unrelated vocabulary inside the corridor → no pair
      in.addData((3L, ts(30), "completely different vocabulary with nothing shared at all"))
      q.processAllAvailable()
      // near-identical again but 2.5 h after doc 1: outside the corridor
      // for both 1 and 2 → no pair
      in.addData((4L, Timestamp.valueOf("2024-01-01 12:30:00"), textX))
      q.processAllAvailable()
      val pairs = spark.table("ssj_out")
        .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally q.stop()

    // batch execution of the SAME plan (watermarks are no-ops) must agree
    val batch = Streams.nearDupPairsJoin(
        Seq((1L, ts(0), textX), (2L, ts(5), textX),
          (3L, ts(30), "completely different vocabulary with nothing shared at all"),
          (4L, Timestamp.valueOf("2024-01-01 12:30:00"), textX))
          .toDF("doc_id", "ts", "text"),
        threshold = 0.5, horizon = "1 hour")
      .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
    assert(batch == Set((1L, 2L)), s"batch got $batch")
  }

  test("event-time near-dup store rejects a batch frame up front, naming nearDupsBatch") {
    val docs = Seq((1L, ts(0), "the quick brown fox")).toDF("doc_id", "ts", "text")
    val e = intercept[IllegalArgumentException](Streams.streamingNearDupsEventTime(docs))
    assert(e.getMessage.contains("streaming DataFrame") &&
      e.getMessage.contains("nearDupsBatch"), e.getMessage)
  }

  test("event-time near-dup store: in-horizon hits, eviction driven by stream time") {
    // EventTimeTimeout is watermark-driven, so unlike the processing-time
    // variant this IS MemoryStream-testable: no wall clock is involved —
    // the test advances hours of STREAM time in milliseconds of real time,
    // exactly the replayed-historical-stream scenario the variant exists for.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF.toDF("doc_id", "ts", "text")
    val textX = "the quick brown fox jumps over the lazy dog and keeps jumping " * 2
    val q = Streams.streamingNearDupsEventTime(docs, threshold = 0.5,
        watermarkDelay = "0 seconds", stateHorizon = "1 hour")
      .writeStream.format("memory").queryName("etnd_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), textX))
      q.processAllAvailable()
      in.addData((2L, ts(5), textX)) // 5 min of stream time later: in horizon
      q.processAllAvailable()
      // an unrelated doc 4h ahead pushes the watermark past the X-buckets'
      // deadline (10:05 + 1h); the next trigger fires their timeouts
      in.addData((3L, Timestamp.valueOf("2024-01-01 14:00:00"),
        "completely different vocabulary with nothing shared at all"))
      q.processAllAvailable()
      in.addData((4L, Timestamp.valueOf("2024-01-01 14:00:30"),
        "still unrelated filler material advancing the stream"))
      q.processAllAvailable()
      // the same text X after eviction: its signatures are GONE from state,
      // so this is treated as new — no hit against doc 1 or 2
      in.addData((5L, Timestamp.valueOf("2024-01-01 14:01:00"), textX))
      q.processAllAvailable()
      val hits = spark.table("etnd_out")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      assert(hits.exists(h => h._1 == 2L && h._2 == 1L),
        s"in-horizon duplicate must be flagged, got $hits")
      assert(!hits.exists(h => h._1 == 5L),
        s"post-eviction duplicate must read as new, got $hits")
    } finally q.stop()
  }

  test("event-time span-dedup gram store: dedup within horizon, stream-time eviction") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF.toDF("doc_id", "ts", "text")
    val span = "alpha beta gamma delta epsilon zeta"
    val q = Streams.streamingSpanDedupEventTime(docs, n = 5,
        watermarkDelay = "0 seconds", stateHorizon = "1 hour")
      .writeStream.format("memory").queryName("etspan_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), span))
      q.processAllAvailable()
      in.addData((2L, ts(5), span)) // same 5-gram windows, in horizon
      q.processAllAvailable()
      in.addData((3L, Timestamp.valueOf("2024-01-01 14:00:00"),
        "totally different words that share nothing with before"))
      q.processAllAvailable()
      in.addData((4L, Timestamp.valueOf("2024-01-01 14:00:30"),
        "more filler entirely unlike anything else here"))
      q.processAllAvailable()
      in.addData((5L, Timestamp.valueOf("2024-01-01 14:01:00"), span))
      q.processAllAvailable()
      val hits = spark.table("etspan_out")
        .select("doc_id", "first_doc").as[(Long, Long)].collect().toSet
      assert(hits.exists(h => h._1 == 2L && h._2 == 1L),
        s"in-horizon repeated span must point at its first occurrence, got $hits")
      assert(!hits.exists(_._1 == 5L),
        s"post-eviction repeat must be treated as first-seen, got $hits")
    } finally q.stop()
  }

  test("per-row graft_minhash matches the batch generator+aggregator signature") {
    // batch spelling: the shingle generator fans each doc out to one row per
    // shingle, grouped and folded by the reference aggregator
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
      .selectExpr("doc_id", "trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS canon")
    val ophAgg = udaf(new OphReference.Agg(32))
    val viaAgg = docs.selectExpr("doc_id", "graft_shingle_hashes(canon, 5) AS sh")
      .groupBy("doc_id").agg(ophAgg($"sh").as("sig"))
      .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
    val viaExpr = docs.selectExpr("doc_id", "graft_minhash(canon, 5, 32) AS sig")
      .as[(Long, Array[Long])].collect().map { case (id, sig) => id -> sig.toSeq }.toMap
    assert(viaAgg.keySet == Set(1L, 2L))
    assert(viaExpr == viaAgg)
  }

  test("streamingSpanDedup (batch mode): later occurrences point at corpus-first") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x b c d y"),       // 'b c d' first seen at (1,2)
      (3L, "m n o m n o"))     // self-repeat: (3,4) dups (3,1)
      .toDF("doc_id", "text")
    val hits = Streams.streamingSpanDedup(docs, n = 3)
      .collect().map(h => (h.doc_id, h.pos, h.first_doc, h.first_pos)).toSet
    assert(hits == Set((2L, 2L, 1L, 2L), (3L, 4L, 3L, 1L)))
    // agrees with the batch remover's removable set
    val strip = graft.operators.Curation.stripDuplicateSpans(docs, n = 3)
      .as[(Long, Long, String)].collect().toSeq
    assert(strip.map(_._1) == Seq(1L, 2L, 3L))
    assert(strip(1)._3 == "x y" && strip(2)._3 == "m n o")
  }

  test("spanDedupBatch == streamingSpanDedup batch mode (election + mark-back spelling)") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x b c d y b c d"),  // cross-doc dup at (2,2) AND its own repeat (2,6)
      (3L, "m n o m n o"),      // within-doc self-repeat
      (4L, "q r s t u"))        // no repeated grams
      .toDF("doc_id", "text")
    val got = Streams.spanDedupBatch(docs, n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Streams.streamingSpanDedup(docs, n = 3)
      .collect().map(h => (h.doc_id, h.pos, h.first_doc, h.first_pos)).toSet
    assert(got == expected && got.nonEmpty)
    assert(got.contains((2L, 6L, 1L, 2L)))  // repeat points at CORPUS-first
    assert(!got.exists(_._1 == 4L))
  }

  test("flatMapGroupsWithState running stats (batch mode)") {
    val events = Seq(
      Streams.UserEvent(1L, 1L, "click", 1.0),
      Streams.UserEvent(2L, 1L, "purchase", 10.0),
      Streams.UserEvent(3L, 2L, "view", 0.5),
    ).toDS()
    val out = Streams.runningUserStats(events).collect()
      .map(r => r.user_id -> r).toMap
    assert(out(1L).n_events == 2 && out(1L).n_purchases == 1 && out(1L).total_value == 11.0)
    assert(out(2L).n_events == 1 && out(2L).n_purchases == 0)
  }

  test("bounded streaming JSONL ingest: maxFilesPerTrigger caps each micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_jsonl")
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(s"part-$i.json"),
        s"""{"doc_id": ${i * 10}, "text": "doc $i a", "lang": "en", "source": "s", "n_chars": 7}
           |{"doc_id": ${i * 10 + 1}, "text": "doc $i b", "lang": "en", "source": "s", "n_chars": 7}
           |""".stripMargin)
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val q = graft.sources.JsonLines.readDocumentsStream(spark, s"$dir/*.json",
        maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = batch.select("doc_id").as[Long].collect()
        batchSizes.synchronized { batchSizes += ids.length; seen ++= ids }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // one file (= 2 docs) per micro-batch, never the whole 3-file backlog
      assert(batchSizes.toSeq == Seq(2L, 2L, 2L), s"batches were $batchSizes")
      assert(seen.sorted.toSeq == Seq(10L, 11L, 20L, 21L, 30L, 31L))
    } finally q.stop()
  }

  test("paragraph gate: aligned blocks flag, misaligned content does not") {
    val corpus = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "a b c d e f g h"),   // both blocks known -> frac 1
      (2L, "a b c d w1 x1 y1 z1"), // one of two -> frac 0.5 (>= flags)
      (3L, "w2 x2 y2 z2 q r s t"), // nothing known -> 0
      (4L, "e f g h"),           // its single block is an index block -> 1
      (5L, "z a b c d")          // misaligned copy: blocks [z a b c],[d] -> 0
    ).toDF("doc_id", "text")
    val got = Streams.streamingParagraphFlag(incoming, corpus,
      paraTokens = 4, flagRatio = 0.5)
      .select("doc_id", "n_paras", "n_dup_hits", "flagged")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 2L, 1L), (2L, 2L, 1L, 1L), (3L, 2L, 0L, 0L),
      (4L, 1L, 1L, 1L), (5L, 2L, 0L, 0L)))
    // no false negatives by construction: the batch/stream hash spellings
    // are the same expression, pinned here by the exact counts above
  }

  test("paragraph gate refresh: a corpus re-cut reaches the running stream") {
    implicit val sqlCtx = spark.sqlContext
    def bloomFor(texts: Seq[String]): Array[Byte] =
      Streams.paragraphDupBloom(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), paraTokens = 4)
    val paraA = "alpha beta gamma delta"
    val paraB = "epsilon zeta eta theta"
    val bloom1 = bloomFor(Seq(paraA))
    val bloom2 = bloomFor(Seq(paraA, paraB))
    @volatile var version = 1L
    @volatile var stored = bloom1
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.paragraphGateWithRefresh(
      in.toDF.toDF("doc_id", "text"),
      currentVersion = () => version,
      loadModel = () => { loads.incrementAndGet(); stored },
      paraTokens = 4, flagRatio = 0.5) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "flagged", "index_version")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      ()
    }
    try {
      in.addData((10L, paraA), (11L, paraB))
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L)))
      assert(loads.get == 1, "unchanged version must not reload the model")
      stored = bloom2
      version = 2L
      in.addData((20L, paraA), (21L, paraB))
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set((10L, 1L, 1L), (11L, 0L, 1L),
        (20L, 1L, 2L), (21L, 1L, 2L)))
      assert(loads.get == 2, "exactly one reload per version change")
    } finally q.stop()
  }

  test("contrast-mix admission gate: snapshot-frozen weights, clamping, refresh re-prices") {
    implicit val sqlCtx = spark.sqlContext
    def coin(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    // synthetic snapshot scorer: the heldout KN3 scorer is pinned
    // elsewhere; this spec pins the ADMISSION math + the policy swap
    val scoreOf = Map(1L -> -3.0, 2L -> 0.0, 3L -> 1.0, 4L -> 9.9, 5L -> 0.5)
    def scorer(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("score", element_at(typedLit(scoreOf), col("doc_id")))
    val rates = Map("a" -> 0.8, "b" -> 0.3)
    def expected(ids: Seq[(Long, String)], dmin: Double, dmax: Double,
        ver: Long): Set[(Long, String, Double, Double, Long, Long)] =
      ids.map { case (id, src) =>
        val s = scoreOf(id)
        val w = if (dmax > dmin)
          math.min(1.0, math.max(0.0, (s - dmin) / (dmax - dmin))) else 1.0
        val admit = if (coin(id) < rates.getOrElse(src, 0.0) * w) 1L else 0L
        (id, src, s, w, admit, ver)
      }.toSet
    @volatile var version = 1L
    @volatile var policy = Streams.ContrastMixPolicy(-2.0, 2.0, rates, scorer)
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String, Double, Double, Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = Streams.contrastMixGateWithRefresh(
      in.toDF.toDF("doc_id", "source"),
      currentVersion = () => version,
      loadPolicy = () => { loads.incrementAndGet(); policy }) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "source", "score", "wgt", "admitted",
            "index_version")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
            r.getDouble(3), r.getLong(4), r.getLong(5)))
      }
      ()
    }
    try {
      // doc 1 clamps to wgt 0 (below the snapshot range -> never admits),
      // doc 4 clamps to wgt 1 (above it -> full source rate), doc 5 sits
      // on an unplanned source (rate 0 -> refuses visibly)
      val batch1 = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "zz"))
      in.addData(batch1: _*)
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == expected(batch1, -2.0, 2.0, 1L))
      assert(buf.exists(_._5 == 1L) && buf.exists(_._5 == 0L))
      assert(buf.filter(_._2 == "zz").forall(_._5 == 0L))
      assert(loads.get == 1, "unchanged version must not reload the policy")
      // snapshot rebuild: the frozen range moves, the SAME doc re-prices
      policy = Streams.ContrastMixPolicy(-8.0, 16.0, rates, scorer)
      version = 2L
      val batch2 = Seq((2L, "a"), (3L, "b"))
      in.addData(batch2: _*)
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == expected(batch1, -2.0, 2.0, 1L) ++
        expected(batch2, -8.0, 16.0, 2L))
      assert(loads.get == 2, "exactly one reload per version change")
      // degenerate snapshot (dmax == dmin): weight 1.0 everywhere
      policy = Streams.ContrastMixPolicy(0.5, 0.5, rates, scorer)
      version = 3L
      in.addData((3L, "b"))
      q.processAllAvailable()
      assert(buf.exists(r => r._1 == 3L && r._6 == 3L && r._4 == 1.0))
    } finally q.stop()
  }

  test("streamingTokenQuota: per-source budget carries across micro-batches, never resets") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF.toDF("doc_id", "source", "text")
    // budget 5 tokens per source; every doc is 3 tokens
    val q = Streams.streamingTokenQuota(docs, budgetPerSource = 5L).toDF()
      .writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      // batch 1: source a admits doc 1 (3 <= 5) and refuses doc 2 (6 > 5);
      // source b admits its first doc
      in.addData((1L, "a", "x y z"), (2L, "a", "x y z"), (3L, "b", "x y z"))
      q.processAllAvailable()
      // batch 2: source a stays refused (state carried, no reset);
      // source b crosses its budget now
      in.addData((4L, "a", "x y z"), (5L, "b", "x y z"))
      q.processAllAvailable()
      val got = spark.table("quota_out")
        .select("doc_id", "running_tokens", "admitted")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, 3L, 1L), (2L, 6L, 0L), (3L, 3L, 1L),
        (4L, 9L, 0L), (5L, 6L, 0L)))
    } finally q.stop()
  }

  test("streamingTokenQuota batch mode == tokenQuotaBatch (the window spelling)") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 120L).map { i =>
      (i, s"src${rnd.nextInt(4)}",
        Seq.fill(1 + rnd.nextInt(20))("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val budget = 60L
    val got = Streams.streamingTokenQuota(docs, budget).toDF()
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val expected = Streams.tokenQuotaBatch(docs, budget)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the budget genuinely cuts: both decisions occur
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L))
  }

  test("streamingTokenQuotaBudgets == tokenQuotaMixComposed decisions; unplanned sources refuse") {
    import graft.operators.Curation
    // the BudgetMixSpec fixture: src_a 400 tokens / 4 docs, src_b 80 / 2,
    // src_c 20 / 1 — all three sources get genuinely different budgets
    val rows =
      (1 to 4).map(i => (i.toLong, Seq.fill(100)("w").mkString(" "), "src_a")) ++
      (5 to 6).map(i => (i.toLong, Seq.fill(40)("w").mkString(" "), "src_b")) :+
      ((7L, Seq.fill(20)("w").mkString(" "), "src_c"))
    val docs = rows.toDF("doc_id", "text", "source")
    val budgets = Curation.temperatureMixRates(docs, 0.5, targetTokens = 250L)
      .select("source", "p").as[(String, Double)].collect().toMap
      .map { case (s, p) => s -> p * 250.0 }
    val got = Streams.streamingTokenQuotaBudgets(docs, budgets).toDF()
      .orderBy("doc_id").select("doc_id", "running_tokens", "admitted")
      .as[(Long, Long, Long)].collect().toSeq
    val expect = Curation.tokenQuotaMixComposed(docs, 0.5, 250L)
      .orderBy("doc_id").select("doc_id", "running_tokens", "admitted")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expect && got.nonEmpty)
    assert(got.exists(_._3 == 1L) && got.exists(_._3 == 0L))
    // a source absent from the plan admits NOTHING under the default
    // budget 0 — visible refusal, never a silent mix skew
    val withAlien = docs.unionByName(
      Seq((99L, "x y", "src_alien")).toDF("doc_id", "text", "source"))
    val alien = Streams.streamingTokenQuotaBudgets(withAlien, budgets).toDF()
      .where($"source" === "src_alien")
      .select("doc_id", "n_tokens", "admitted")
      .as[(Long, Long, Long)].collect().toSeq
    assert(alien == Seq((99L, 2L, 0L)))
  }

  test("tokenQuotaBatch prefers a precomputed n_tokens column") {
    // n_tokens deliberately DISAGREES with the text so the test proves
    // which one the operator reads
    val docs = Seq((1L, "a", "x", 4L), (2L, "a", "x", 3L), (3L, "b", "x", 9L))
      .toDF("doc_id", "source", "text", "n_tokens")
    val got = Streams.tokenQuotaBatch(docs, budgetPerSource = 5L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 4L, 4L, 1L), (2L, "a", 3L, 7L, 0L),
      (3L, "b", 9L, 9L, 0L)))
    // ...and the streaming twin reads the same column (shared spelling)
    val stream = Streams.streamingTokenQuota(docs, budgetPerSource = 5L).toDF()
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(stream == got)
  }

  // ---- shared manifest-gate fixture (the admission spec + the
  // checkpoint-restart spec build the same stores) ----
  private val tA = "one two three four five six seven eight nine ten"
  private val tC = "cold unrelated winter words drift slowly over frozen lakes today"
  private val benchText = "held out benchmark question about ancient rivers and their deltas"
  // old corpus spans both sources so every batch source is calibrated
  private def oldDocs(extra: Seq[(Long, String, String)]) = {
    import spark.implicits._
    (Seq((100L, "srcA", tA), (101L, "srcA", tA + " eleven"),
      (102L, "srcB", tC),
      (103L, "srcB", "plain ordinary boring prose about nothing in particular today")) ++ extra)
      .toDF("doc_id", "source", "text")
  }
  private def storesFor(old: org.apache.spark.sql.DataFrame,
      benchTexts: Seq[String]): Streams.ManifestStores = {
    import spark.implicits._
    import graft.operators.{Curation, Dedup, Tfidf}
    val fp = old.select(
        graft.functions.TextFunctions.contentFingerprint(col("text"))
          .as("fingerprint"), col("doc_id"))
      .groupBy("fingerprint").agg(min("doc_id").as("keeper"))
    val gdf = Dedup.distinctGramRows(old)
      .groupBy("gram").agg(count(lit(1)).as("gram_df"))
    val postings = Dedup.distinctGramRows(old)
      .join(gdf.where(col("gram_df") <= 64).select("gram"), "gram")
      .select("doc_id", "gram")
    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val labels = Dedup.connectedComponents(
      Dedup.ngramJaccardExact(old).select("doc_a", "doc_b"))
    val bench = Curation.gramRowsFromTokens(
      Tfidf.tokenArrays(benchTexts.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")), 3)
      .select("gram").distinct()
    // explicit permissive calibration (threshold 0 at an integer cut →
    // nothing flags): the sampled-cut semantics have their own specs
    // (TextAnalysisSpec); these tests pin the COMPOSITION
    val thr = Seq(("srcA", 4L, 0.0), ("srcB", 4L, 0.0))
      .toDF("source", "n_in_source", "q_threshold")
    Streams.ManifestStores(fp, labels, postings, gdf, sizes, bench, thr)
  }

  test("manifest admission gate: streaming == batch composition; store rebuild reaches the stream") {
    implicit val sqlCtx = spark.sqlContext
    val stores1 = storesFor(oldDocs(Nil), Seq(benchText))
    // batch: 201 stored-exact dup, 202 near-dup of the stored cluster,
    // 203 contaminated (quotes the benchmark), 205 clean, 206 clean
    // repeat of 205 (within-call first-arrival election)
    val batchRows = Seq(
      (201L, "srcA", tA),
      (202L, "srcA", tA + " twelve"),
      (203L, "srcB", benchText + " verbatim"),
      (205L, "srcB", "fresh spring garden blossoms open wide under warm morning light"),
      (206L, "srcB", "fresh spring garden blossoms open wide under warm morning light"))
    type RowT = (Long, String, Long, Double, Long, Long, Long, Long, Long, Long)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[RowT] =
      df.select("doc_id", "source", "n_tokens", "quality", "exact_dup",
          "near_dup", "contaminated", "low_quality", "kept", "index_version")
        .as[(Long, String, Long, Double, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
    @volatile var version = 1L
    @volatile var stores = stores1
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val buf = scala.collection.mutable.ArrayBuffer[RowT]()
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.manifestGateWithRefresh(
      in.toDF.toDF("doc_id", "source", "text"),
      currentVersion = () => version,
      loadStores = () => { loads.incrementAndGet(); stores }) { (df, _) =>
      buf.synchronized { buf ++= rowsOf(df) }
      ()
    }
    try {
      in.addData(batchRows: _*)
      q.processAllAvailable()
      val expected1 = rowsOf(
        Streams.manifestAdmission(batchRows.toDF("doc_id", "source", "text"),
          stores1).withColumn("index_version", lit(1L)))
      assert(buf.synchronized(buf.toSet) == expected1)
      // the composition actually fired per stage under snapshot 1
      val flags = buf.map(r => r._1 -> (r._5, r._6, r._7, r._9)).toMap
      assert(flags(201L)._1 == 1L, "stored-exact dup")
      assert(flags(202L)._2 == 1L, "near-dup of the stored cluster")
      assert(flags(203L)._3 == 1L, "benchmark contamination")
      assert(flags(205L) == ((0L, 0L, 0L, 1L)), "clean first arrival kept")
      assert(flags(206L)._1 == 1L, "within-call repeat elects 205 keeper")
      assert(loads.get == 1, "unchanged version must not reload the stores")
      // batch-tier append rebuild: 205's content is now stored; bump
      stores = storesFor(oldDocs(Seq((104L, "srcB",
        "fresh spring garden blossoms open wide under warm morning light"))),
        Seq(benchText))
      version = 2L
      in.addData((301L, "srcB",
        "fresh spring garden blossoms open wide under warm morning light"))
      q.processAllAvailable()
      val after = buf.synchronized(buf.toSet) -- expected1
      assert(after.map(r => (r._1, r._5, r._10)) == Set((301L, 1L, 2L)),
        s"row after the rebuild must flag against the NEW store: $after")
      assert(loads.get == 2, "exactly one reload per version change")
    } finally q.stop()
  }

  test("manifest gate stream path releases its operator-internal pins per micro-batch") {
    // the r15 ADVICE hazard: the gate's lazy-pinned stage frames are
    // MEMORY_AND_DISK persists registered on the micro-batch thread's
    // CacheScope (withRefreshingModel wraps the sink call) — a long-lived
    // stream must return to the pre-stream cache census after every
    // committed batch, or it leaks one cache set per micro-batch
    implicit val sqlCtx = spark.sqlContext
    // localize the store frames first (collect + local re-create): the
    // fixture computes labels/postings with operator-internal persists of
    // their own, which belong to STORE CONSTRUCTION (parquet-backed assets
    // in production), not to the gate's per-batch pins this spec audits
    def localize(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    val s0 = storesFor(oldDocs(Nil), Seq(benchText))
    val stores = Streams.ManifestStores(
      localize(s0.fpStore), localize(s0.nearLabels), localize(s0.nearPostings),
      localize(s0.nearGramDf), localize(s0.nearSizes), localize(s0.benchGrams),
      localize(s0.qualityThresholds))
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val in = MemoryStream[(Long, String, String)]
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.manifestGateWithRefresh(
      in.toDF.toDF("doc_id", "source", "text"),
      currentVersion = () => 1L,
      loadStores = () => stores) { (df, _) =>
      df.count(); n.incrementAndGet(); ()
    }
    try {
      in.addData((201L, "srcA", tA), (205L, "srcB",
        "fresh spring garden blossoms open wide under warm morning light"))
      q.processAllAvailable()
      in.addData((301L, "srcB", tC + " again"))
      q.processAllAvailable()
    } finally q.stop()
    assert(n.get >= 2, s"expected two committed batches, got ${n.get}")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "stream micro-batches must not retain operator-internal persists")
  }

  test("manifest gate checkpoint restart: stores reload, offsets resume, versions stay monotone") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_manifest")
      .toFile.getAbsolutePath
    val stores1 = storesFor(oldDocs(Nil), Seq(benchText))
    @volatile var version = 1L
    @volatile var stores = stores1
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    type RowT = (Long, Long, Long, Long)
    val buf = scala.collection.mutable.ArrayBuffer[RowT]()
    val in = MemoryStream[(Long, String, String)]
    def startQuery() = Streams.manifestGateWithRefresh(
      in.toDF.toDF("doc_id", "source", "text"),
      currentVersion = () => version,
      loadStores = () => { loads.incrementAndGet(); stores },
      checkpointDir = Some(ckpt)) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "exact_dup", "kept", "index_version")
          .as[(Long, Long, Long, Long)].collect()
      }
      ()
    }
    val freshText = "fresh spring garden blossoms open wide under warm morning light"
    val q1 = startQuery()
    try {
      in.addData((201L, "srcA", tA), (205L, "srcB", freshText))
      q1.processAllAvailable()
      assert(buf.synchronized(buf.toSet) ==
        Set((201L, 1L, 0L, 1L), (205L, 0L, 1L, 1L)))
      assert(loads.get == 1)
    } finally q1.stop()
    // WHILE THE STREAM IS DOWN: a batch-tier append rebuild stores 205's
    // content and bumps the snapshot version; new data also arrives
    stores = storesFor(oldDocs(Seq((104L, "srcB", freshText))), Seq(benchText))
    version = 2L
    in.addData((301L, "srcB", freshText))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val all = buf.synchronized(buf.toSet)
      // restart RELOADED the stores (construction always loads — stamped
      // by the load count AND by 301 flagging against the NEW store)
      assert(loads.get == 2, "restart must reload the stores once")
      assert(all.contains((301L, 1L, 0L, 2L)),
        s"post-restart row must score against the rebuilt store: $all")
      // committed offsets resumed — the pre-restart rows were NOT
      // reprocessed (each doc_id appears exactly once)
      val counts = buf.synchronized(buf.toList).groupBy(_._1).map { case (k, v) => k -> v.size }
      assert(counts == Map(201L -> 1, 205L -> 1, 301L -> 1),
        s"checkpoint resume must not replay processed rows: $counts")
      // stamped versions are monotone across the checkpoint gap
      val preMax = all.filter(r => r._1 == 201L || r._1 == 205L).map(_._4).max
      val postMin = all.filter(_._1 == 301L).map(_._4).min
      assert(preMax <= postMin, s"version regressed across restart: $all")
    } finally q2.stop()
  }

  test("contrast gate checkpoint restart: policy reloads, versions stay monotone") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_contrast")
      .toFile.getAbsolutePath
    // synthetic snapshot scorer (the heldout KN3 scorer is pinned
    // elsewhere): constant scores, rates chosen so srcA always admits
    // under policy 1 (w=1, rate 1.0) and never under policy 2 (rate 0.0)
    def scorer(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("score", lit(5.0))
    val policy1 = Streams.ContrastMixPolicy(0.0, 1.0, Map("srcA" -> 1.0), scorer)
    val policy2 = Streams.ContrastMixPolicy(0.0, 1.0, Map("srcA" -> 0.0), scorer)
    @volatile var version = 1L
    @volatile var policy = policy1
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    type RowT = (Long, Long, Long)
    val buf = scala.collection.mutable.ArrayBuffer[RowT]()
    val in = MemoryStream[(Long, String)]
    def startQuery() = Streams.contrastMixGateWithRefresh(
      in.toDF.toDF("doc_id", "source"),
      currentVersion = () => version,
      loadPolicy = () => { loads.incrementAndGet(); policy },
      checkpointDir = Some(ckpt)) { (df, _) =>
      buf.synchronized {
        buf ++= df.select("doc_id", "admitted", "index_version")
          .as[(Long, Long, Long)].collect()
      }
      ()
    }
    val q1 = startQuery()
    try {
      in.addData((1L, "srcA"))
      q1.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set((1L, 1L, 1L)))
      assert(loads.get == 1)
    } finally q1.stop()
    policy = policy2
    version = 2L
    in.addData((2L, "srcA"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(loads.get == 2, "restart must reload the policy once")
      val all = buf.synchronized(buf.toSet)
      assert(all == Set((1L, 1L, 1L), (2L, 0L, 2L)),
        s"post-restart row must admit under the NEW policy, versions monotone: $all")
    } finally q2.stop()
  }
}
